"""Snowflake read-only catalog — metadata_location resolution.

Python analogue of the reference's ``snowflake`` module
(``SnowflakeCatalog.java:1-269``, ``SnowflakeTableOperations.java``,
``JdbcSnowflakeClient.java``, ``SnowflakeTableMetadata.java``): the
catalog RESOLVES Iceberg tables that Snowflake itself manages — it
never writes.  Load queries
``SELECT SYSTEM$GET_ICEBERG_TABLE_INFORMATION(?)`` which answers a
JSON document ``{"metadataLocation": ..., "status": "success"}``; the
catalog parses it (``SnowflakeTableMetadata.parseJson``), translates
Snowflake path syntax to Iceberg path syntax
(``snowflakeLocationToIcebergLocation``: ``azure://acct.blob.core.
windows.net/container/path`` -> ``wasbs://container@acct...``,
``gcs://`` -> ``gs://``), and refreshes from that location.  EVERY
mutating operation throws the reference's
UnsupportedOperationException posture ("SnowflakeCatalog does not
currently support ...": createTable, dropTable, renameTable,
createNamespace, dropNamespace, setProperties).

Identifiers are two-level below the catalog: DATABASE.SCHEMA.TABLE
(``NamespaceHelpers`` — a namespace is either a database or a
database.schema; listTables must be at SCHEMA level).

The environment has no Snowflake account, so ``SnowflakeService``
stands in for the JDBC client surface (SHOW DATABASES / SHOW SCHEMAS
IN DATABASE / SHOW ICEBERG TABLES IN SCHEMA / GET_ICEBERG_TABLE_
INFORMATION) — in-process, same posture as the Glue/Hive/Nessie/
Dynamo stand-ins.  Tables enter the service by registration (the
analogue of Snowflake managing them), typically pointing at metadata
written by ANOTHER catalog — exactly the reference's deployment
shape, where Snowflake is the writer of record and this catalog is
the external reader.
"""

from __future__ import annotations

import json
import re
import threading

from pyspark.sql import SparkSession

from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table.pointer_catalog import (
    metadata_version,
    split_metadata_path,
)
from iceberg_geo_poc_spark.table.table import Table

_READ_ONLY = "SnowflakeCatalog does not currently support {}"

# azure://account.blob.core.windows.net/container/volumepath
_SNOWFLAKE_AZURE_RE = re.compile(
    r"^azure://([^/]+\.blob\.core\.windows\.net)/([^/]+)/(.*)$"
)


def snowflake_location_to_iceberg_location(loc: str) -> str:
    """Reference SnowflakeTableMetadata.snowflakeLocationToIcebergLocation:
    translate Snowflake path syntax to Iceberg path syntax for the
    known-incompatible prefixes; anything else passes through."""
    if loc.startswith("azure://"):
        m = _SNOWFLAKE_AZURE_RE.match(loc)
        if not m:
            raise ValueError(
                f"Location {loc!r} failed to match pattern "
                f"{_SNOWFLAKE_AZURE_RE.pattern!r}"
            )
        return f"wasbs://{m.group(2)}@{m.group(1)}/{m.group(3)}"
    if loc.startswith("gcs://"):
        return "gs" + loc[3:]
    return loc


class SnowflakeService:
    """In-process stand-in for the Snowflake account's JDBC surface:
    databases -> schemas -> Iceberg tables whose
    GET_ICEBERG_TABLE_INFORMATION answers the raw JSON document."""

    def __init__(self) -> None:
        self._lock = threading.RLock()
        # db -> schema -> table -> raw JSON string
        self._dbs: dict[str, dict[str, dict[str, str]]] = {}

    # registration = "Snowflake manages this table" (not part of the
    # read-only client surface; tests/fixtures populate through it)
    def register_database(self, db: str) -> None:
        with self._lock:
            self._dbs.setdefault(db, {})

    def register_schema(self, db: str, schema: str) -> None:
        with self._lock:
            self._dbs.setdefault(db, {}).setdefault(schema, {})

    def register_iceberg_table(
        self,
        db: str,
        schema: str,
        name: str,
        metadata_location: str,
        status: str = "success",
    ) -> None:
        with self._lock:
            self.register_schema(db, schema)
            self._dbs[db][schema][name] = json.dumps(
                {"metadataLocation": metadata_location, "status": status}
            )

    # -- the JdbcSnowflakeClient query surface ---------------------------------

    def list_databases(self) -> list[str]:
        """SHOW DATABASES IN ACCOUNT."""
        with self._lock:
            return sorted(self._dbs)

    def database_exists(self, db: str) -> bool:
        """SHOW SCHEMAS IN DATABASE IDENTIFIER(?) LIMIT 1."""
        with self._lock:
            return db in self._dbs

    def list_schemas(self, db: str) -> list[str]:
        """SHOW SCHEMAS IN DATABASE."""
        with self._lock:
            if db not in self._dbs:
                raise KeyError(f"database {db!r} not found")
            return sorted(self._dbs[db])

    def schema_exists(self, db: str, schema: str) -> bool:
        """SHOW TABLES IN SCHEMA IDENTIFIER(?) LIMIT 1."""
        with self._lock:
            return db in self._dbs and schema in self._dbs[db]

    def list_iceberg_tables(self, db: str, schema: str) -> list[str]:
        """SHOW ICEBERG TABLES IN SCHEMA."""
        with self._lock:
            if not self.schema_exists(db, schema):
                raise KeyError(f"schema {db}.{schema} not found")
            return sorted(self._dbs[db][schema])

    def get_iceberg_table_information(
        self, db: str, schema: str, name: str
    ) -> str | None:
        """SELECT SYSTEM$GET_ICEBERG_TABLE_INFORMATION(?) AS METADATA."""
        with self._lock:
            return self._dbs.get(db, {}).get(schema, {}).get(name)


class SnowflakeCatalog:
    """Read-only catalog over the Snowflake service (reference
    SnowflakeCatalog.java).  Intentionally NOT a ``Catalog`` subclass:
    the base class is a read-write surface, and inheriting it would
    advertise operations this catalog must refuse — the refusals here
    are explicit, matching the reference's method-by-method
    UnsupportedOperationException posture."""

    def __init__(self, spark: SparkSession, service: SnowflakeService | None = None):
        self.spark = spark
        self.service = service or SnowflakeService()

    @staticmethod
    def _ident(name: str) -> tuple[str, str, str]:
        parts = name.split(".")
        if len(parts) != 3:
            raise ValueError(
                f"Snowflake table identifiers are DATABASE.SCHEMA.TABLE; "
                f"got {name!r}"
            )
        return parts[0], parts[1], parts[2]

    # -- namespaces (db or db.schema) ------------------------------------------

    def list_namespaces(self, parent: str | None = None) -> list[str]:
        if parent is None:
            return self.service.list_databases()
        if "." in parent:
            raise ValueError(
                f"max namespace depth is database.schema; got parent {parent!r}"
            )
        return [f"{parent}.{s}" for s in self.service.list_schemas(parent)]

    def namespace_exists(self, namespace: str) -> bool:
        parts = namespace.split(".")
        if len(parts) == 1:
            return self.service.database_exists(parts[0])
        if len(parts) == 2:
            return self.service.schema_exists(parts[0], parts[1])
        return False

    def list_tables(self, namespace: str) -> list[str]:
        """listTables must be at SCHEMA level (reference precondition)."""
        parts = namespace.split(".")
        if len(parts) != 2:
            raise ValueError(
                f"listTables must be at SCHEMA level; got namespace "
                f"{namespace!r}"
            )
        return [
            f"{namespace}.{t}"
            for t in self.service.list_iceberg_tables(parts[0], parts[1])
        ]

    # -- table loading -----------------------------------------------------------

    def _metadata_location(self, name: str) -> str:
        db, schema, tbl = self._ident(name)
        raw = self.service.get_iceberg_table_information(db, schema, tbl)
        if raw is None:
            raise FileNotFoundError(f"Cannot find table {name}")
        doc = json.loads(raw)
        if doc.get("status") != "success":
            # reference logs and proceeds; a missing location still fails
            pass
        loc = doc.get("metadataLocation")
        if not loc:
            raise ValueError(
                f"Got null or empty location for table {name}"
            )
        return snowflake_location_to_iceberg_location(loc)

    def load_table(self, name: str) -> Table:
        """Resolve the CURRENT metadata document through Snowflake and
        pin to it (SnowflakeTableOperations.doRefresh ->
        refreshFromMetadataLocation).  The returned table is read-only:
        Snowflake is the writer of record."""
        ptr = self._metadata_location(name)
        version = metadata_version(ptr)
        if split_metadata_path(ptr) is None or version is None:
            raise ValueError(f"not a metadata document path: {ptr!r}")
        doc = json.loads(MD.backend_for(ptr).read(ptr))
        meta = MD.TableMetadata.from_json(doc, version)
        t = Table(meta, self.spark)
        t._static = _READ_ONLY.format(
            "modifying tables (resolve-only; Snowflake is the writer "
            "of record)"
        )
        return t

    table = load_table

    def table_exists(self, name: str) -> bool:
        try:
            self._metadata_location(name)
            return True
        except (FileNotFoundError, ValueError):
            return False

    # -- the read-only refusals (reference method-by-method) --------------------

    def create_table(self, *a, **k):
        raise NotImplementedError(_READ_ONLY.format("createTable"))

    def drop_table(self, *a, **k):
        raise NotImplementedError(_READ_ONLY.format("dropTable"))

    def rename_table(self, *a, **k):
        raise NotImplementedError(_READ_ONLY.format("renameTable"))

    def create_namespace(self, *a, **k):
        raise NotImplementedError(_READ_ONLY.format("createNamespace"))

    def drop_namespace(self, *a, **k):
        raise NotImplementedError(_READ_ONLY.format("dropNamespace"))

    def set_namespace_properties(self, *a, **k):
        raise NotImplementedError(
            _READ_ONLY.format("setProperties for namespaces")
        )
