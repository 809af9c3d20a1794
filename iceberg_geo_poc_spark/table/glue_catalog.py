"""AWS Glue catalog — optimistic versionId commit protocol.

Python analogue of the reference's ``aws`` module
(``GlueCatalog.java:1-665``, ``GlueTableOperations.java:62-409``): each
Iceberg table is one Glue table entry whose ``metadata_location``
PARAMETER is the pointer of record, and a commit

1. writes the new metadata document (uniquely named — never clobbers),
2. ``getTable`` reads the current entry AND its ``versionId``,
3. verifies the base ``metadata_location`` matches
   (``checkMetadataLocation`` — the CommitFailedException CAS),
4. ``updateTable`` carrying the SAME ``versionId`` it read — Glue
   rejects the update with ConcurrentModificationException if any
   other writer bumped the version in between (``persistGlueTable``:
   "Use Optimistic locking with table version id"), which maps to a
   lost race and an engine retry;
5. a FIRST commit (no entry yet) is ``createTable``, where Glue's
   AlreadyExistsException is the same lost-race signal.

There is no lock anywhere in the protocol — unlike the Hive metastore,
Glue's conditional update IS the arbitration (the reference only
engages a LockManager when versionId preconditions are unavailable in
the SDK).

The environment has no AWS endpoint, so ``GlueService`` implements the
Glue data-catalog semantics in-process (same posture as
``hive_catalog.HiveMetastoreService`` / ``nessie_catalog.NessieService``):
databases, table entries with parameter maps and a monotonically
bumped ``versionId``, conditional ``update_table``.  The client-side
protocol — read-check-conditional-write, AlreadyExists/
ConcurrentModification handling, rename as create+drop — is the
reference's, which is the part a real Glue deployment exercises.

Scale: one GetTable + one conditional UpdateTable per commit, never
data volume; contention on one hot table serializes through Glue's
versionId without blocking any other table (the documented Glue
optimistic-locking property).

Reference parity targets: ``GlueTableOperations.doCommit`` (142-195),
``persistGlueTable`` (304-351), ``checkMetadataLocation`` (268-278),
``checkIfTableIsIceberg`` (199-214), ``GlueCatalog.renameTable``
(382-448 — rename is a non-atomic create-then-drop that keeps the
metadata pointer), ``GlueCatalog.createNamespace/listNamespaces/
dropNamespace``.
"""

from __future__ import annotations

import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

from iceberg_geo_poc_spark.table.pointer_catalog import (
    PointerCatalog,
    PointerCommitBackend,
)

METADATA_LOCATION_PROP = "metadata_location"
PREVIOUS_METADATA_LOCATION_PROP = "previous_metadata_location"
TABLE_TYPE_PROP = "table_type"
ICEBERG_TABLE_TYPE = "ICEBERG"
GLUE_EXTERNAL_TABLE_TYPE = "EXTERNAL_TABLE"


class ConcurrentModification(Exception):
    """Glue rejected a conditional update (stale versionId)."""


class EntityNotFound(Exception):
    """Glue EntityNotFoundException."""


class EntityAlreadyExists(Exception):
    """Glue AlreadyExistsException."""


class GlueService:
    """In-process Glue data-catalog semantics: databases, table entries
    with parameters + versionId, CONDITIONAL update_table."""

    def __init__(self) -> None:
        self._lock = threading.RLock()
        self._dbs: dict[str, dict] = {}
        # (db, name) -> {"parameters", "location", "table_type",
        #                "version_id", "versions": [archived snapshots]}
        self._tables: dict[tuple[str, str], dict] = {}

    # -- databases -----------------------------------------------------------

    def create_database(self, name: str, properties: dict | None = None) -> None:
        with self._lock:
            if name in self._dbs:
                raise EntityAlreadyExists(f"database {name!r} already exists")
            self._dbs[name] = dict(properties or {})

    def get_database(self, name: str) -> dict:
        with self._lock:
            if name not in self._dbs:
                raise EntityNotFound(f"database {name!r} not found")
            return dict(self._dbs[name])

    def list_databases(self) -> list[str]:
        with self._lock:
            return sorted(self._dbs)

    def delete_database(self, name: str) -> None:
        with self._lock:
            if name not in self._dbs:
                raise EntityNotFound(f"database {name!r} not found")
            if any(db == name for db, _ in self._tables):
                raise ConcurrentModification(f"database {name!r} is not empty")
            del self._dbs[name]

    # -- tables ---------------------------------------------------------------

    def create_table(
        self,
        db: str,
        name: str,
        parameters: dict | None = None,
        location: str | None = None,
        table_type: str = GLUE_EXTERNAL_TABLE_TYPE,
    ) -> None:
        with self._lock:
            if db not in self._dbs:
                raise EntityNotFound(f"database {db!r} not found")
            if (db, name) in self._tables:
                raise EntityAlreadyExists(f"table {db}.{name} already exists")
            self._tables[(db, name)] = {
                "parameters": dict(parameters or {}),
                "location": location,
                "table_type": table_type,
                "version_id": "1",
                "versions": [],
            }

    def get_table(self, db: str, name: str) -> dict | None:
        with self._lock:
            t = self._tables.get((db, name))
            if t is None:
                return None
            return {
                "parameters": dict(t["parameters"]),
                "location": t["location"],
                "table_type": t["table_type"],
                "version_id": t["version_id"],
            }

    def update_table(
        self,
        db: str,
        name: str,
        parameters: dict,
        version_id: str | None = None,
        location: str | None = None,
        skip_archive: bool = True,
    ) -> None:
        """Conditional update: with ``version_id`` set, the write only
        lands if the entry's current versionId still matches (Glue's
        optimistic lock); the version bumps on success.  Without
        ``skip_archive`` the superseded state is archived (Glue's
        default keeps table version history)."""
        with self._lock:
            t = self._tables.get((db, name))
            if t is None:
                raise EntityNotFound(f"table {db}.{name} not found")
            if version_id is not None and t["version_id"] != version_id:
                raise ConcurrentModification(
                    f"table {db}.{name} versionId {t['version_id']} != "
                    f"expected {version_id}"
                )
            if not skip_archive:
                t["versions"].append(
                    {"parameters": dict(t["parameters"]),
                     "version_id": t["version_id"]}
                )
            t["parameters"] = dict(parameters)
            if location is not None:
                t["location"] = location
            t["version_id"] = str(int(t["version_id"]) + 1)

    def delete_table(self, db: str, name: str) -> None:
        with self._lock:
            if self._tables.pop((db, name), None) is None:
                raise EntityNotFound(f"table {db}.{name} not found")

    def list_tables(self, db: str) -> list[str]:
        with self._lock:
            return sorted(n for d, n in self._tables if d == db)

    def items(self) -> list[tuple[tuple[str, str], dict]]:
        with self._lock:
            return [
                ((d, n), {
                    "parameters": dict(t["parameters"]),
                    "location": t["location"],
                    "table_type": t["table_type"],
                    "version_id": t["version_id"],
                })
                for (d, n), t in self._tables.items()
            ]


class GlueCommitBackend(PointerCommitBackend):
    """Pointer backend over the Glue entry's ``metadata_location``
    parameter: the swap is the versionId-conditional UpdateTable
    (reference GlueTableOperations.doCommit/persistGlueTable), or
    CreateTable for a first commit.

    There is NO lock to make a canonical-name write safe, so documents
    are uuid-suffixed: two racers both write their candidate, exactly one
    conditional update wins and the loser's candidate is removed — the
    posture of the real reference, whose metadata file names always embed
    a UUID."""

    unique_documents = True
    # reference ConcurrentModificationException / AlreadyExistsException
    # -> CommitFailedException
    lost_race = (ConcurrentModification, EntityAlreadyExists)

    def __init__(self, service: GlueService, warehouse: str, lock_manager=None):
        self.service = service
        self.warehouse = warehouse.rstrip("/")
        # reference GlueTableOperations: with a LockManager configured
        # the commit serializes through lock()/release() and the
        # UpdateTable goes UNCONDITIONAL ("Use Optimistic locking with
        # table version id ... if SET_VERSION_ID is not noop AND
        # lockManager == null"); without one, the versionId IS the CAS
        self.lock_manager = lock_manager

    def _entry_for_location(self, location: str):
        try:
            db, name = self._ident_of(location)
        except ValueError:
            pass  # out-of-warehouse: only a registered entry can match
        else:
            t = self.service.get_table(db, name)
            if t is not None and t["location"] == location:
                return (db, name), t
        # renamed tables keep their location: bounded reverse scan
        for ident, entry in self.service.items():
            if entry["location"] == location:
                return ident, entry
        return None, None

    def _entry_pointer(self, entry):
        return entry["parameters"].get(METADATA_LOCATION_PROP) if entry else None

    @contextmanager
    def _swap_guard(self, location: str):
        ident, entry = self._entry_for_location(location)
        # a FIRST commit creates the entry (persistGlueTable's createTable
        # branch): its identity derives from the location
        ident = ident or self._ident_of(location)
        if self.lock_manager is None:
            yield ident, self._checked(ident, entry), True
            return
        # commitLockEntityId = "db.tbl"; ownerId = the new metadata
        # location (reference lock(newMetadataLocation))
        entity = ".".join(ident)
        owner = f"{location}:{uuid.uuid4().hex[:8]}"
        if not self.lock_manager.acquire(entity, owner):
            raise RuntimeError(
                f"Fail to acquire lock {entity} to commit new metadata "
                f"under {location}"
            )
        try:
            # re-read UNDER the lock, then commit without the versionId
            # precondition — the lock is the arbitration.  An entry that
            # vanished between the reads (concurrent drop) is not
            # committed from the stale copy
            entry = self._entry_for_location(location)[1]
            yield ident, self._checked(ident, entry), False
        finally:
            self.lock_manager.release(entity, owner)

    @staticmethod
    def _checked(ident, entry):
        """checkIfTableIsIceberg, BEFORE any document is written."""
        if entry is not None and entry["parameters"].get(
            METADATA_LOCATION_PROP
        ) and entry["parameters"].get(TABLE_TYPE_PROP, "").upper() != (
            ICEBERG_TABLE_TYPE
        ):
            raise ValueError(
                f"Glue table {'.'.join(ident)} is not an iceberg table "
                f"(type={entry['parameters'].get(TABLE_TYPE_PROP)})"
            )
        return entry

    def _swap(self, location, ident, entry, doc, conditional) -> bool:
        params = {TABLE_TYPE_PROP: ICEBERG_TABLE_TYPE, METADATA_LOCATION_PROP: doc}
        if entry is None:
            self.service.create_table(
                *ident, parameters=params, location=location
            )
            return True
        ptr = self._entry_pointer(entry)
        if ptr:
            params[PREVIOUS_METADATA_LOCATION_PROP] = ptr
        self.service.update_table(
            *ident, dict(entry["parameters"], **params),
            version_id=entry["version_id"] if conditional else None,
        )
        return True


class GlueCatalog(PointerCatalog):
    """Catalog over the in-process Glue service (reference
    GlueCatalog.java): databases as namespaces, entries with the
    metadata_location parameter and ICEBERG table_type, rename as a
    non-atomic create-then-drop that keeps the pointer."""

    def __init__(
        self,
        warehouse: str,
        spark: SparkSession,
        service: GlueService | None = None,
        lock_manager=None,
    ):
        self.service = service or GlueService()
        super().__init__(warehouse, spark, GlueCommitBackend(
            self.service, warehouse, lock_manager=lock_manager
        ))
        if "default" not in self.service.list_databases():
            self.service.create_database("default")

    # -- pointer-catalog hooks ---------------------------------------------

    def _table_pointer(self, name: str) -> str | None:
        t = self.service.get_table(*self._ident(name))
        if t is None or not t["parameters"].get(METADATA_LOCATION_PROP):
            return None
        # checkIfTableIsIceberg: a non-iceberg Glue table is, for
        # Iceberg, the same as no table (NoSuchIcebergTableException)
        if t["parameters"].get(TABLE_TYPE_PROP, "").upper() != ICEBERG_TABLE_TYPE:
            raise FileNotFoundError(
                f"Glue table {name} is not an iceberg table "
                f"(type={t['parameters'].get(TABLE_TYPE_PROP)})"
            )
        return t["parameters"][METADATA_LOCATION_PROP]

    def _put_entry(self, name: str, location: str, ptr: str | None) -> bool:
        db, tbl = self._ident(name)
        if ptr is None:
            # the v0 commit CREATES the Glue entry (persistGlueTable's
            # createTable branch) — nothing to pre-create here
            if self.service.get_table(db, tbl) is not None:
                raise ValueError(f"table {name} already exists")
            if db not in self.service.list_databases():
                raise EntityNotFound(f"database {db!r} not found")
            return False
        try:
            self.service.create_table(
                db, tbl,
                parameters={
                    TABLE_TYPE_PROP: ICEBERG_TABLE_TYPE,
                    METADATA_LOCATION_PROP: ptr,
                },
                location=location,
            )
        except EntityAlreadyExists:
            raise ValueError(f"table {name} already exists") from None
        return True

    def _drop_entry(self, name: str) -> str:
        db, tbl = self._ident(name)
        t = self.service.get_table(db, tbl)
        if t is None:
            raise FileNotFoundError(f"table {name} not found in Glue")
        self.service.delete_table(db, tbl)
        return t["location"] or self._table_location(name)

    # -- namespaces = Glue databases ------------------------------------------

    def create_namespace(
        self,
        namespace: str,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> None:
        try:
            self.service.create_database(namespace, properties)
        except EntityAlreadyExists:
            if not if_not_exists:
                raise ValueError(f"namespace {namespace!r} already exists")

    def list_namespaces(self) -> list[str]:
        return self.service.list_databases()

    def namespace_properties(self, namespace: str) -> dict[str, str]:
        return self.service.get_database(namespace)

    def drop_namespace(self, namespace: str) -> None:
        self.service.delete_database(namespace)

    # -- table listing and rename ----------------------------------------------

    def list_tables(self, namespace: str = "default") -> list[str]:
        out = []
        for n in self.service.list_tables(namespace):
            t = self.service.get_table(namespace, n)
            if (
                t["parameters"].get(TABLE_TYPE_PROP, "").upper()
                == ICEBERG_TABLE_TYPE
            ):
                out.append(n)
        return out

    def rename_table(self, old: str, new: str) -> None:
        """Glue has no rename API: create the destination entry with
        the SAME parameters (pointing at the same metadata), then drop
        the source; on drop failure the destination is rolled back
        (reference GlueCatalog.renameTable — explicitly non-atomic)."""
        odb, otbl = self._ident(old)
        ndb, ntbl = self._ident(new)
        if ndb not in self.service.list_databases():
            raise EntityNotFound(
                f"cannot rename {old} to {new}: database {ndb!r} not found"
            )
        src = self.service.get_table(odb, otbl)
        if src is None:
            raise FileNotFoundError(f"table {old} not found in Glue")
        self.service.create_table(
            ndb, ntbl,
            parameters=src["parameters"],
            location=src["location"],
            table_type=src["table_type"],
        )
        try:
            self.service.delete_table(odb, otbl)
        except BaseException:
            # rollback: delete the renamed destination
            self.service.delete_table(ndb, ntbl)
            raise
