"""Warehouse-directory catalog: create/load/drop tables + geo DDL.

Analogue of the reference's catalog surface (HadoopCatalog-style
directory layout) plus the fork's geometry DDL:
``set_geometry_fields`` mirrors ``ALTER TABLE t SET GEOMETRY FIELDS``
(reference spark-extensions grammar IcebergSqlExtensions.g4:80-82,
exec SetGeometryFieldsExec.scala:43-73 incl. the physical-type check),
and ``add_columns`` / schema evolution land in the metadata schema log.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import SparkSession

from iceberg_geo_poc_spark.geo.encoding import ENCODINGS, spark_physical_type
from iceberg_geo_poc_spark.table import manifest as M
from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table.table import Table, _ddl_fields
from iceberg_geo_poc_spark.table.transforms import PartitionField, parse_transform


class Catalog:
    def __init__(self, warehouse: str, spark: SparkSession):
        self.warehouse = warehouse
        self.spark = spark
        from iceberg_geo_poc_spark.table.fileio import io_for

        if io_for(warehouse).is_posix:
            os.makedirs(warehouse, exist_ok=True)

    def _table_location(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def create_table(
        self,
        name: str,
        schema_ddl: str,
        partition_by: list[tuple[str, str]] | None = None,
        geometry_columns: dict[str, str] | None = None,
        properties: dict[str, str] | None = None,
        file_format: str = "parquet",
    ) -> Table:
        """partition_by: [(source_col, transform_spec)], e.g.
        [("part", "identity"), ("geom", "hilbert[10]")].
        file_format: 'parquet' (default), 'orc', or 'avro'; geometry
        columns require parquet (the reference's geometry writers are
        Parquet-only, SURVEY §1.2); avro tables (pure-Python OCF codec +
        Python DataSource, table/avro_format.py) are unpartitioned."""
        return self._create_at(
            self._table_location(name), name, schema_ddl, partition_by,
            geometry_columns, properties, file_format,
        )

    def _create_at(
        self,
        location: str,
        name: str,
        schema_ddl: str,
        partition_by: list[tuple[str, str]] | None = None,
        geometry_columns: dict[str, str] | None = None,
        properties: dict[str, str] | None = None,
        file_format: str = "parquet",
    ) -> Table:
        """``create_table`` at an explicit location (the v0 commit)."""
        if MD.table_exists_at(location):
            raise ValueError(f"table {name} already exists")
        fmt_prop = (properties or {}).get("write.format.default")
        if fmt_prop:
            file_format = fmt_prop
        if file_format not in ("parquet", "orc", "avro"):
            raise ValueError(f"unsupported file format {file_format!r}")
        geometry_columns = geometry_columns or {}
        if geometry_columns and file_format != "parquet":
            raise ValueError("geometry columns are supported only with parquet")
        if file_format == "avro" and partition_by:
            raise ValueError(
                "avro tables are unpartitioned in this engine (partition "
                "transforms need the parquet/orc directory writer)"
            )
        _validate_geometry_columns(schema_ddl, geometry_columns)
        if file_format == "avro":
            _check_avro_schema(schema_ddl)
        properties = dict(properties or {})
        _reject_modular_encryption_off_posix(location, properties)
        if file_format != "parquet":
            properties["write.format.default"] = file_format
        spec = [
            PartitionField(src, parse_transform(t)).to_json()
            for src, t in (partition_by or [])
        ]
        meta = MD.TableMetadata(
            table_uuid=str(uuid.uuid4()),
            location=location,
            schema_ddl=schema_ddl,
            partition_spec=spec,
            geo_fields=dict(geometry_columns),
            properties=properties,
            current_snapshot_id=None,
            snapshots=[],
            last_sequence_number=0,
        )
        MD.write_new_metadata(meta, base_version=-1)
        return Table(meta, self.spark)

    def sql(self, text: str):
        """Textual entry point for CALL system.* procedures, ALTER TABLE
        extensions, and MERGE INTO (reference IcebergSqlExtensions.g4
        :68-83); routes to the corresponding Python API call."""
        from iceberg_geo_poc_spark.table.sql import dispatch_sql

        return dispatch_sql(self, text)

    def load_table(self, name: str) -> Table:
        return Table(MD.read_metadata(self._table_location(name)), self.spark)

    table = load_table

    def load_static_table(self, metadata_file: str) -> Table:
        """Read-only table pinned to ONE metadata document (reference
        StaticTableOperations.java): no version-hint roll-forward, no
        refresh, and every commit refuses.  The serializable-scan shape —
        hand a worker a metadata file path and it sees a frozen view
        regardless of concurrent commits."""
        from iceberg_geo_poc_spark.table.pointer_catalog import metadata_version

        version = metadata_version(metadata_file)
        if version is None:
            raise ValueError(f"not a metadata file path: {metadata_file!r}")
        doc = json.loads(MD.backend_for(metadata_file).read(metadata_file))
        meta = MD.TableMetadata.from_json(doc, version)
        t = Table(meta, self.spark)
        t._static = True
        return t

    def table_exists(self, name: str) -> bool:
        return MD.table_exists_at(self._table_location(name))

    def list_tables(self) -> list[str]:
        from iceberg_geo_poc_spark.table.fileio import io_for

        fio = io_for(self.warehouse)
        names = (
            sorted(os.listdir(self.warehouse))
            if fio.is_posix
            else fio.listdir(self.warehouse)
        )
        return [
            d
            for d in names
            if MD.table_exists_at(os.path.join(self.warehouse, d))
        ]

    def drop_table(self, name: str, purge: bool = False) -> None:
        """``purge=True`` walks EVERY metadata version and physically
        deletes all reachable files first (reference
        DeleteReachableFilesSparkAction — DROP TABLE PURGE), honoring
        the gc.enabled ownership guard; plain drop removes the table
        directory (or just unregisters a registered table)."""
        loc = self._table_location(name)
        from iceberg_geo_poc_spark.table.fileio import io_for

        fio = io_for(loc)
        if fio.is_posix and os.path.islink(loc):
            os.unlink(loc)  # registered table: unregister, leave data in place
        elif purge:
            from iceberg_geo_poc_spark.table.maintenance import (
                delete_reachable_files,
            )

            delete_reachable_files(loc)
        elif fio.is_posix:
            shutil.rmtree(loc)
        else:
            for p in fio.list_files(loc):
                fio.delete(p)

    # ------------------------------------------------------------------
    # DDL
    # ------------------------------------------------------------------
    def set_geometry_fields(self, name: str, fields: dict[str, str]) -> Table:
        """Promote string/binary columns to geometry (or change
        encoding); rejects physical-type mismatches exactly like
        reference SetGeometryFieldsExec.scala:52-57."""
        t = self.load_table(name)
        _validate_geometry_columns(t.meta.schema_ddl, fields)
        t.meta.geo_fields.update(fields)
        t.meta.schema_log.append({"set-geometry-fields": fields, "at": MD.now_ms()})
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def drop_geometry_fields(self, name: str, columns: list[str]) -> Table:
        """Demote geometry columns back to their physical type."""
        t = self.load_table(name)
        for c in columns:
            t.meta.geo_fields.pop(c, None)
        t.meta.schema_log.append({"drop-geometry-fields": columns, "at": MD.now_ms()})
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def add_columns(self, name: str, ddl: str) -> Table:
        """Schema evolution: append nullable columns; existing files
        read the new columns as NULL (id-free name-based variant of the
        reference's AddColumn update)."""
        t = self.load_table(name)
        t.meta.schema_ddl = f"{t.meta.schema_ddl}, {ddl}"
        if t.file_format == "avro":
            _check_avro_schema(t.meta.schema_ddl)
        t.meta.schema_log.append({"add-columns": ddl, "at": MD.now_ms()})
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def add_column_with_default(
        self,
        name: str,
        column: str,
        col_type: str,
        initial_default=None,
        write_default=None,
    ) -> Table:
        """Schema evolution with default values (Iceberg v3 spec
        "Default values": TableMetadata initial-default/write-default).

        ``initial_default`` is what EVERY row of files written before
        this evolution reads for the new column — applied at scan time
        to files whose commit sequence predates the add, never by
        rewriting data.  ``write_default`` fills the column when a
        later writer omits it entirely (writers that supply the column
        keep their values, explicit NULLs included — exactly the v3
        distinction between absent-column and null-value)."""
        t = self.load_table(name)
        existing = [f.split()[0] for f in _ddl_fields(t.meta.schema_ddl)]
        if column in existing:
            raise ValueError(f"column {column!r} already exists")
        t.meta.schema_ddl = f"{t.meta.schema_ddl}, {column} {col_type}"
        t.meta.column_defaults[column] = {
            "initial": initial_default,
            "write": write_default,
            "added-at-seq": t.meta.last_sequence_number,
        }
        t.meta.schema_log.append(
            {
                "add-column-default": {
                    "column": column,
                    "type": col_type,
                    "initial-default": initial_default,
                    "write-default": write_default,
                },
                "at": MD.now_ms(),
            }
        )
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def alter_table_properties(
        self, name: str, set_props: dict[str, str] | None = None,
        unset: list[str] | None = None,
    ) -> Table:
        """SET/UNSET TBLPROPERTIES (reference UpdateProperties)."""
        t = self.load_table(name)
        _reject_modular_encryption_off_posix(t.location, set_props or {})
        for k, v in (set_props or {}).items():
            t.meta.properties[k] = str(v)
        for k in unset or []:
            t.meta.properties.pop(k, None)
        t.meta.schema_log.append(
            {"set-properties": set_props or {}, "unset": unset or [],
             "at": MD.now_ms()}
        )
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def set_write_order(
        self, name: str, order_by: list[str], distribution_mode: str = "range"
    ) -> Table:
        """ALTER TABLE ... WRITE [DISTRIBUTED BY PARTITION] LOCALLY
        ORDERED BY (reference SparkWriteConf DistributionMode +
        SetWriteDistributionAndOrdering): future writes range- or
        hash-distribute and locally sort, so per-file min/max ranges
        tighten and stats pruning gets selective."""
        if distribution_mode not in ("none", "hash", "range"):
            raise ValueError(f"unknown distribution mode {distribution_mode!r}")
        t = self.load_table(name)
        cols = [f.split()[0] for f in _ddl_fields(t.meta.schema_ddl)]
        phys = []
        for c in order_by:
            if c.startswith("hilbert(") and c.endswith(")"):
                # WRITE ORDERED BY hilbert(geom): spatial clustering order
                inner = self._physical_name(t, c[8:-1].strip())
                if inner not in t.meta.geo_fields:
                    raise ValueError(f"hilbert order needs a geometry field, got {inner!r}")
                phys.append(f"hilbert({inner})")
                continue
            pc = self._physical_name(t, c)
            if pc not in cols:
                raise KeyError(f"column {c!r} not found")
            phys.append(pc)
        t.meta.properties["write.sort-order"] = json.dumps(phys)
        t.meta.properties["write.distribution-mode"] = distribution_mode
        t.meta.schema_log.append(
            {"set-write-order": {"order": order_by, "mode": distribution_mode},
             "at": MD.now_ms()}
        )
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def rename_column(self, name: str, old: str, new: str) -> Table:
        """Rename a column WITHOUT rewriting any data file — the Python
        analogue of Iceberg's rename-by-field-id (Schema.java:51: schema
        evolution by ID, not name).  The physical name (as written in
        parquet) is remembered in metadata; reads alias physical ->
        logical, writes alias back, and manifest-stats pruning remaps
        stat keys so predicates on the new name still skip files."""
        t = self.load_table(name)
        logical_to_phys = {
            t.meta.renames.get(p, p): p
            for p in (f.split()[0] for f in _ddl_fields(t.meta.schema_ddl))
        }
        if old not in logical_to_phys:
            raise KeyError(f"column {old!r} not found")
        if new in logical_to_phys and logical_to_phys.get(new) != logical_to_phys[old]:
            raise ValueError(f"column {new!r} already exists")
        phys = logical_to_phys[old]
        if new == phys:
            t.meta.renames.pop(phys, None)
        else:
            t.meta.renames[phys] = new
        t.meta.schema_log.append(
            {"rename-column": {"from": old, "to": new}, "at": MD.now_ms()}
        )
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def drop_column(self, name: str, column: str) -> Table:
        """Drop a column metadata-only: data files keep the bytes, the
        read schema simply stops projecting them (reference DeleteColumn
        update). Refuses when a partition transform or geometry field
        still references the column."""
        t = self.load_table(name)
        phys = self._physical_name(t, column)
        for pf in t.partition_fields:
            if pf.source == phys:
                raise ValueError(
                    f"cannot drop {column!r}: referenced by partition spec"
                )
        if phys in t.meta.geo_fields:
            raise ValueError(f"cannot drop {column!r}: geometry field")
        fields = [
            f for f in _ddl_fields(t.meta.schema_ddl) if f.split()[0] != phys
        ]
        if len(fields) == len(_ddl_fields(t.meta.schema_ddl)):
            raise KeyError(f"column {column!r} not found")
        t.meta.schema_ddl = ", ".join(fields)
        t.meta.renames.pop(phys, None)
        t.meta.schema_log.append({"drop-column": column, "at": MD.now_ms()})
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    _PROMOTIONS = {("int", "bigint"), ("float", "double")}

    def promote_column_type(self, name: str, column: str, new_type: str) -> Table:
        """Widen a column type metadata-only (INT->BIGINT, FLOAT->DOUBLE,
        DECIMAL(p,s)->DECIMAL(p'>p,s)) — the legal primitive promotions
        of Types.java; Spark 4's parquet reader widens on scan."""
        t = self.load_table(name)
        phys = self._physical_name(t, column)
        new_fields = []
        for f in _ddl_fields(t.meta.schema_ddl):
            fname, ftype = f.split(None, 1)
            if fname != phys:
                new_fields.append(f)
                continue
            old_t, new_t = ftype.strip().lower(), new_type.strip().lower()
            ok = (old_t, new_t) in self._PROMOTIONS
            if old_t.startswith("decimal(") and new_t.startswith("decimal("):
                op, os_ = _decimal_params(old_t)
                np, ns = _decimal_params(new_t)
                ok = np >= op and ns == os_
            if not ok:
                raise ValueError(f"illegal promotion {ftype.strip()} -> {new_type}")
            new_fields.append(f"{fname} {new_type}")
        if len(new_fields) == len(_ddl_fields(t.meta.schema_ddl)) and phys not in [
            f.split()[0] for f in new_fields
        ]:
            raise KeyError(f"column {column!r} not found")
        t.meta.schema_ddl = ", ".join(new_fields)
        t.meta.schema_log.append(
            {"promote-column": {"column": column, "to": new_type}, "at": MD.now_ms()}
        )
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def set_identifier_fields(self, name: str, columns: list[str]) -> Table:
        """Row-identity columns (ALTER TABLE ... SET IDENTIFIER FIELDS);
        used as the default equality-delete / changelog-update key."""
        t = self.load_table(name)
        cols = t.columns()
        for c in columns:
            if c not in cols:
                raise KeyError(f"column {c!r} not found")
        t.meta.properties["identifier-fields"] = json.dumps(columns)
        t.meta.schema_log.append({"set-identifier-fields": columns, "at": MD.now_ms()})
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def drop_identifier_fields(self, name: str) -> Table:
        t = self.load_table(name)
        t.meta.properties.pop("identifier-fields", None)
        t.meta.schema_log.append({"drop-identifier-fields": True, "at": MD.now_ms()})
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    @staticmethod
    def _physical_name(t: Table, logical: str) -> str:
        for p in (f.split()[0] for f in _ddl_fields(t.meta.schema_ddl)):
            if t.meta.renames.get(p, p) == logical:
                return p
        return logical

    def alter_partition_spec(self, name: str, partition_by: list[tuple[str, str]]) -> Table:
        """Replace the partition spec; existing files keep their layout
        (hidden partitioning: specs apply to future writes, reference
        ALTER TABLE ... ADD/DROP PARTITION FIELD)."""
        t = self.load_table(name)
        t.meta.partition_spec = [
            PartitionField(src, parse_transform(tr)).to_json() for src, tr in partition_by
        ]
        t.meta.schema_log.append({"set-partition-spec": t.meta.partition_spec, "at": MD.now_ms()})
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    # ------------------------------------------------------------------
    # snapshot pointer surgery (reference procedures: RollbackToSnapshot,
    # SetCurrentSnapshot, branch/tag DDL)
    # ------------------------------------------------------------------
    def rollback_to_snapshot(self, name: str, snapshot_id: int) -> Table:
        t = self.load_table(name)
        t.meta.snapshot_by_id(snapshot_id)  # validate
        t.meta.current_snapshot_id = snapshot_id
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def rollback_to_timestamp(self, name: str, timestamp_ms: int) -> Table:
        t = self.load_table(name)
        snap = t.meta.snapshot_as_of(timestamp_ms)
        t.meta.current_snapshot_id = snap.snapshot_id
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    @staticmethod
    def _check_ref_mode(
        t: Table, ref: str, kind: str, replace: bool, if_not_exists: bool,
        must_exist: bool,
    ) -> bool:
        """Shared CREATE/REPLACE ref-existence rules (reference
        TestBranchDDL / TestReplaceBranch): plain CREATE refuses an
        existing ref; IF NOT EXISTS no-ops; REPLACE requires the ref to
        exist AND to be of the same kind; CREATE OR REPLACE accepts
        both.  Returns True when the caller should no-op."""
        existing = t.meta.refs.get(ref)
        if existing is not None:
            if existing.get("type") != kind and (replace or must_exist):
                raise ValueError(
                    f"ref {ref!r} is a {existing.get('type')}, not a {kind}"
                )
            if not replace and not must_exist:
                if if_not_exists:
                    return True
                raise ValueError(f"{kind} {ref!r} already exists")
        elif must_exist:
            raise ValueError(f"{kind} {ref!r} not found (use CREATE)")
        return False

    def create_tag(
        self,
        name: str,
        tag: str,
        snapshot_id: int | None = None,
        max_ref_age_ms: int | None = None,
        replace: bool = False,
        if_not_exists: bool = False,
        must_exist: bool = False,
    ) -> Table:
        t = self.load_table(name)
        if self._check_ref_mode(t, tag, "tag", replace, if_not_exists, must_exist):
            return t
        sid = snapshot_id if snapshot_id is not None else t.meta.current_snapshot_id
        self._validate_snapshot_exists(t, sid)
        ref = {"snapshot-id": sid, "type": "tag", "created-at-ms": MD.now_ms()}
        if max_ref_age_ms is not None:
            ref["max-ref-age-ms"] = int(max_ref_age_ms)
        t.meta.refs[tag] = ref
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    @staticmethod
    def _validate_snapshot_exists(t: Table, sid) -> None:
        if sid is not None and sid not in {
            s.snapshot_id for s in t.meta.snapshots
        }:
            raise ValueError(f"snapshot {sid} not found in the snapshot log")

    def create_branch(
        self,
        name: str,
        branch: str,
        snapshot_id: int | None = None,
        max_ref_age_ms: int | None = None,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: int | None = None,
        replace: bool = False,
        if_not_exists: bool = False,
        must_exist: bool = False,
    ) -> Table:
        """Branch ref with the reference's retention surface (grammar:
        CREATE BRANCH b RETAIN n DAYS WITH SNAPSHOT RETENTION k
        SNAPSHOTS m DAYS): max-ref-age expires the REF itself;
        min-snapshots / max-snapshot-age protect the branch's ancestor
        history from expire_snapshots.  ``replace``/``if_not_exists``/
        ``must_exist`` give the CREATE [OR REPLACE] / IF NOT EXISTS /
        REPLACE statement semantics (reference TestReplaceBranch)."""
        t = self.load_table(name)
        if self._check_ref_mode(
            t, branch, "branch", replace, if_not_exists, must_exist
        ):
            return t
        sid = snapshot_id if snapshot_id is not None else t.meta.current_snapshot_id
        self._validate_snapshot_exists(t, sid)
        ref = {"snapshot-id": sid, "type": "branch", "created-at-ms": MD.now_ms()}
        if max_ref_age_ms is not None:
            ref["max-ref-age-ms"] = int(max_ref_age_ms)
        if min_snapshots_to_keep is not None:
            ref["min-snapshots-to-keep"] = int(min_snapshots_to_keep)
        if max_snapshot_age_ms is not None:
            ref["max-snapshot-age-ms"] = int(max_snapshot_age_ms)
        t.meta.refs[branch] = ref
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    # ------------------------------------------------------------------
    # views (reference spark-extensions view surface, TestViews.java):
    # versioned SQL text over engine tables
    # ------------------------------------------------------------------
    def drop_ref(self, name: str, ref: str, kind: str = "branch") -> Table:
        """DROP BRANCH / DROP TAG (reference branch-tag DDL): removes
        the named ref; the snapshots it pointed at stay in the log until
        expire_snapshots reaps unreachable ones."""
        if kind == "branch" and ref == "main":
            raise ValueError("cannot drop the main branch")
        t = self.load_table(name)
        entry = t.meta.refs.get(ref)
        if entry is None or entry.get("type") != kind:
            raise KeyError(f"{kind} {ref!r} not found")
        del t.meta.refs[ref]
        t.meta.schema_log.append({f"drop-{kind}": ref, "at": MD.now_ms()})
        MD.write_new_metadata(t.meta, t.meta.version)
        return t

    def create_view(self, name: str, sql_text: str, replace: bool = False) -> None:
        """Store a named SQL view (text + version log).  The SQL runs
        against engine tables registered as temp views at read time."""
        path = os.path.join(self.warehouse, "_views", f"{name}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        versions = []
        if os.path.exists(path):
            if not replace:
                raise ValueError(f"view {name} already exists")
            import json as _json

            with open(path) as f:
                versions = _json.load(f)["versions"]
        import json as _json

        versions.append({"sql": sql_text, "at": MD.now_ms()})
        with open(path, "w") as f:
            _json.dump({"name": name, "versions": versions}, f, indent=1)

    def load_view(self, name: str, version: int | None = None):
        """DataFrame for the view's SQL; engine tables in the warehouse
        are registered as temp views first so the SQL can reference
        them by name."""
        import json as _json

        path = os.path.join(self.warehouse, "_views", f"{name}.json")
        if not os.path.exists(path):
            raise KeyError(f"view {name} not found")
        with open(path) as f:
            doc = _json.load(f)
        v = doc["versions"][-1 if version is None else version]
        for tname in self.list_tables():
            self.load_table(tname).to_df().createOrReplaceTempView(tname)
        return self.spark.sql(v["sql"])

    def list_views(self) -> list[str]:
        vdir = os.path.join(self.warehouse, "_views")
        if not os.path.isdir(vdir):
            return []
        return sorted(f[:-5] for f in os.listdir(vdir) if f.endswith(".json"))

    def view_sql(self, name: str, version: int | None = None) -> str:
        """The stored SQL text of a view version (latest by default)."""
        import json as _json

        path = os.path.join(self.warehouse, "_views", f"{name}.json")
        if not os.path.exists(path):
            raise KeyError(f"view {name} not found")
        with open(path) as f:
            doc = _json.load(f)
        return doc["versions"][-1 if version is None else version]["sql"]

    def view_versions(self, name: str) -> list[dict]:
        """Full version log of a view: ``[{"sql": ..., "at": ms}, ...]``
        oldest-first (reference view/ViewVersion history).  Version id N
        in SQL ``VERSION AS OF`` is 1-based => ``versions[N-1]``."""
        import json as _json

        path = os.path.join(self.warehouse, "_views", f"{name}.json")
        if not os.path.exists(path):
            raise KeyError(f"view {name} not found")
        with open(path) as f:
            return _json.load(f)["versions"]

    def drop_view(self, name: str) -> None:
        """Remove a named SQL view (reference: view/BaseMetastoreViewCatalog
        dropView).  KeyError if the view does not exist."""
        path = os.path.join(self.warehouse, "_views", f"{name}.json")
        if not os.path.exists(path):
            raise KeyError(f"view {name} not found")
        os.remove(path)

    def add_files(
        self,
        name: str,
        parquet_paths: list[str],
        name_mapping: dict[str, str] | None = None,
        derive_partition_values: bool = False,
    ) -> Table:
        """Register existing parquet files into a table WITHOUT copying
        (reference AddFilesProcedure / SnapshotTable: manifests built
        from existing footers).  Files must match the table schema.

        ``name_mapping`` maps FILE column names to table column names
        for imports whose physical schema uses different names — the
        reference's NameMapping (core/.../mapping/NameMapping.java,
        table property ``schema.name-mapping.default``, flat top-level
        form; nested-field mapping is out of scope for this engine's
        flat-stats manifests).  The mapping is persisted as the same
        property, harvested stats are rekeyed to table names (so
        manifest pruning sees canonical columns), and the parquet read
        path coalesces canonical-or-mapped per row — native and
        imported files mix freely in one scan.

        ``derive_partition_values`` registers each file's partition
        tuple by applying the table's partition transforms over the
        file's rows in ONE distributed pass (a foreign Iceberg layout
        guarantees one tuple per file; a file spanning several tuples
        fails the import).  Required when importing a genuinely
        Iceberg-bucketed layout: declare the table's spec as
        ``bucket[N,iceberg]`` so derived values use the spec hash
        (Murmur3-32 seed 0, ``iceberg_bucket.py``) and later engine
        appends land in the SAME numbering as the imported files."""
        t = self.load_table(name)
        if t.meta.properties.get("write.parquet.encryption.footer-key"):
            # zero-copy imports are plaintext parquet; the encrypted
            # read path would try (and fail) to decrypt them — and
            # silently importing plaintext into an encrypted table
            # would defeat the property's promise
            raise ValueError(
                "add_files is not supported on modular-encrypted tables "
                "(imported files are plaintext; re-write through append)"
            )
        from iceberg_geo_poc_spark.table import manifest as M

        if name_mapping:
            import json as _json

            schema_cols = {f.split()[0] for f in _ddl_fields(t.meta.schema_ddl)}
            for alt, canon in name_mapping.items():
                if canon not in schema_cols:
                    raise ValueError(
                        f"name mapping target {canon!r} not in table schema"
                    )
                if alt in schema_cols:
                    raise ValueError(
                        f"name mapping source {alt!r} collides with a "
                        "schema column"
                    )
            existing = _json.loads(
                t.meta.properties.get("schema.name-mapping.default", "{}")
            )
            existing.update(name_mapping)
            self.alter_table_properties(
                name,
                {"schema.name-mapping.default": _json.dumps(existing)},
            )
            t = self.load_table(name)

        stats = M.harvest_stats(parquet_paths)
        geo = M.compute_bboxes(self.spark, parquet_paths, t.meta.geo_fields)
        # imported files come from unknown writers: pyarrow strips NaN
        # from bounds without any footer signal, so NaN counts must be
        # computed unconditionally (unlike Table._write_files, which
        # trusts parquet-mr's max=NaN hint for its own output)
        from pyspark.sql.types import StructType

        float_cols = [
            f.name
            for f in StructType.fromDDL(t.meta.schema_ddl).fields
            if f.dataType.typeName() in ("float", "double")
        ]
        # the NaN-count job reads the FILES, so float columns must be
        # addressed by their in-file (mapped) names; results rekey back
        # to canonical so manifests stay schema-keyed
        reverse = {c: a for a, c in (name_mapping or {}).items()}
        nan_counts = M.compute_nan_counts(
            self.spark,
            parquet_paths,
            [reverse.get(c, c) for c in float_cols],
        )
        import pandas as pd

        part_by_path: dict[str, dict] = {}
        if derive_partition_values and t.partition_fields:
            import pyspark.sql.functions as F

            reverse_map = {c: a for a, c in (name_mapping or {}).items()}
            pcols = t._partition_columns()
            df = (
                self.spark.read.parquet(*parquet_paths)
                .withColumn(
                    "__f",
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:(//)?", ""
                    ),
                )
            )
            for cname, pf in pcols:
                src = reverse_map.get(pf.source, pf.source)
                df = df.withColumn(cname, pf.transform.spark_column(src))
            names = [c for c, _ in pcols]
            rows = (
                df.groupBy("__f")
                .agg(
                    F.countDistinct(*[F.coalesce(
                        F.col(c).cast("string"), F.lit("\x00")
                    ) for c in names]).alias("__nt"),
                    *[F.first(c, ignorenulls=False).alias(c) for c in names],
                )
                .collect()
            )
            for r in rows:
                if r["__nt"] > 1:
                    raise ValueError(
                        f"imported file {r['__f']} spans {r['__nt']} partition "
                        "tuples; a partition-registered import requires one "
                        "tuple per file (Iceberg layouts guarantee this)"
                    )
                part_by_path[r["__f"]] = {pf.name: r[c] for c, pf in pcols}

        # harvested stats are rekeyed to table names (in-file names
        # under a name mapping)
        def canon(d: dict) -> dict:
            return {(name_mapping or {}).get(k, k): v for k, v in d.items()}

        files = []
        for p in parquet_paths:
            record_count, file_size, lower, upper, nulls, _ = stats[p]
            files.append(
                {
                    "file_path": p,
                    "file_size": file_size,
                    "record_count": record_count,
                    "partition": part_by_path.get(p, {}),
                    "lower": canon(lower),
                    "upper": canon(upper),
                    "nulls": canon(nulls),
                    "nans": canon(nan_counts.get(p, {c: 0 for c in float_cols})),
                    **geo.get(p, {}),
                }
            )
        entries = M.data_entries(files, t.meta)

        def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
            add = M.entries_dataframe(
                [dict(e, sequence_number=seq, snapshot_id=0) for e in entries]
            )
            return M.concat_entries([current, add])

        t._commit("append", build, {"added-files": len(entries), "imported": True})
        # The imported files live outside this table's location and are not
        # owned by it: forbid physical GC (reference sets gc.enabled=false on
        # imported/snapshot tables for exactly this reason — expire_snapshots
        # must never delete another table's data files).
        return self.alter_table_properties(name, {"gc.enabled": "false"})

    def snapshot_delta_table(self, delta_path: str, dest: str) -> Table:
        """Delta Lake -> engine snapshot migration (reference
        delta-lake/.../BaseSnapshotDeltaLakeTableAction.java): replay
        ``_delta_log`` (checkpoint + JSON commits), register the live
        parquet zero-copy with footer-harvested stats, and map each
        file's partitionValues into its manifest partition tuple +
        column bounds.  See ``delta_migration.py``."""
        from iceberg_geo_poc_spark.table import delta_migration as DL

        return DL.snapshot_delta_table(self, delta_path, dest)

    def snapshot_table(self, source: str, dest: str) -> Table:
        """Zero-copy testing clone (reference SnapshotTableProcedure):
        the new table's metadata references the SOURCE's data files by
        absolute path; new writes land under the clone's own location,
        so dropping the clone never touches source data."""
        src_loc = self._table_location(source)
        dest_loc = self._table_location(dest)
        if os.path.exists(dest_loc):
            raise ValueError(f"table {dest!r} already exists")
        self.load_table(source)  # validate source
        os.makedirs(dest_loc)
        shutil.copytree(
            MD.metadata_dir(src_loc), MD.metadata_dir(dest_loc), dirs_exist_ok=True
        )
        meta = MD.read_metadata(dest_loc)
        meta.location = dest_loc
        # gc.enabled=false: the clone's manifests point at the SOURCE's data
        # files by absolute path; physical GC on the clone would delete them.
        meta.properties = dict(
            meta.properties, **{"snapshot-source": source, "gc.enabled": "false"}
        )
        MD.write_new_metadata(meta, meta.version)
        return self.load_table(dest)

    def register_table(self, name: str, metadata_location: str) -> Table:
        """Register an existing table directory (with its metadata/ log)
        under a new name in this catalog without moving anything
        (reference RegisterTableProcedure)."""
        dest = self._table_location(name)
        if os.path.exists(dest):
            raise ValueError(f"table {name!r} already exists")
        MD.read_metadata(metadata_location)  # validate before linking
        os.symlink(metadata_location, dest, target_is_directory=True)
        return self.load_table(name)

    def migrate_parquet(self, name: str, directory: str, schema_ddl: str) -> Table:
        """Adopt a plain parquet directory as a managed table in place —
        no data copied, manifests built from the existing footers
        (reference MigrateTableProcedure over a Spark parquet table)."""
        paths = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(directory)
            for f in fs
            if f.endswith(".parquet")
        )
        if not paths:
            raise ValueError(f"no parquet files under {directory}")
        self.create_table(name, schema_ddl)
        return self.add_files(name, paths)

    def ancestors_of(self, name: str, snapshot_id: int | None = None) -> list[MD.Snapshot]:
        """Snapshot lineage walk, newest first (reference
        AncestorsOfProcedure.java)."""
        t = self.load_table(name)
        sid = snapshot_id if snapshot_id is not None else t.meta.current_snapshot_id
        out: list[MD.Snapshot] = []
        while sid is not None:
            snap = t.meta.snapshot_by_id(sid)
            out.append(snap)
            sid = snap.parent_id
        return out

    def cherrypick_snapshot(self, name: str, snapshot_id: int) -> Table:
        """Apply a (possibly staged) snapshot on top of the current one
        (reference CherrypickSnapshotProcedure.java).  Fast-forwards when
        the snapshot's parent IS current; otherwise re-applies its added
        files as a fresh append commit (append-only cherrypicks, the
        same restriction the reference enforces for non-WAP picks)."""
        t = self.load_table(name)
        snap = t.meta.snapshot_by_id(snapshot_id)
        if snap.parent_id == t.meta.current_snapshot_id:
            t.meta.current_snapshot_id = snapshot_id
            MD.write_new_metadata(t.meta, t.meta.version)
            t.meta = MD.read_metadata(t.location)
            return t
        if snap.operation != "append":
            raise ValueError(
                f"cannot cherry-pick non-append snapshot {snapshot_id} "
                f"({snap.operation}): it does not apply cleanly to a diverged base"
            )
        import pandas as pd

        picked = t._entries(snap)
        parent_paths = (
            set(t._entries(t.meta.snapshot_by_id(snap.parent_id)).file_path)
            if snap.parent_id is not None
            else set()
        )
        added = picked[~picked.file_path.isin(parent_paths)]

        def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
            add = added.assign(sequence_number=seq, snapshot_id=0)
            return M.concat_entries([current, add])

        t._commit("append", build, {"cherry-picked-from": snapshot_id})
        return t

    def publish_changes(self, name: str, wap_id: str) -> Table:
        """Publish a staged write-audit-publish snapshot by wap id
        (reference PublishChangesProcedure.java)."""
        t = self.load_table(name)
        matches = [
            s for s in t.meta.snapshots if s.summary.get("wap.id") == wap_id
        ]
        if not matches:
            raise KeyError(f"no staged snapshot with wap.id={wap_id!r}")
        return self.cherrypick_snapshot(name, matches[-1].snapshot_id)

    def fast_forward(self, name: str, branch: str, to_snapshot_id: int) -> Table:
        """Move a branch ref (or ``"main"``) forward to a descendant
        snapshot (reference FastForwardBranchProcedure.java); refuses
        non-fast-forward moves.  fast_forward(name, "main", branch_head)
        is how audited branch writes land on the main line."""
        t = self.load_table(name)
        if branch == "main":
            cur = t.meta.current_snapshot_id
        else:
            ref = t.meta.refs.get(branch)
            if ref is None or ref.get("type") != "branch":
                raise KeyError(f"branch {branch!r} not found")
            cur = ref["snapshot-id"]
        ancestry = []
        sid = to_snapshot_id
        while sid is not None:
            ancestry.append(sid)
            sid = t.meta.snapshot_by_id(sid).parent_id
        if cur is not None and cur not in ancestry:
            raise ValueError(
                f"cannot fast-forward {branch}: {to_snapshot_id} is not a descendant"
            )
        if branch == "main":
            t.meta.current_snapshot_id = to_snapshot_id
        else:
            t.meta.refs[branch] = {"snapshot-id": to_snapshot_id, "type": "branch"}
        MD.write_new_metadata(t.meta, t.meta.version)
        return t


def _decimal_params(t: str) -> tuple[int, int]:
    inner = t[t.index("(") + 1 : t.index(")")]
    p, s = inner.split(",")
    return int(p), int(s)


def _reject_modular_encryption_off_posix(location: str, props: dict) -> None:
    """Parquet modular encryption's read path opens data files with
    pyarrow directly (table/parquet_crypto.py::read_encrypted_df), which
    only reaches POSIX paths — and the staged-upload finalizer plus an
    at-rest EncryptingFileIO would double-seal the bytes.  Refuse the
    property on object-store locations at CREATE/ALTER time (same shape
    as the avro/orc format guards) instead of producing unreadable
    scans later."""
    if "write.parquet.encryption.footer-key" not in props:
        return
    from iceberg_geo_poc_spark.table.fileio import io_for

    if not io_for(location).is_posix:
        raise ValueError(
            "write.parquet.encryption.* requires a POSIX table location "
            f"(got {location!r}); use EncryptingFileIO for at-rest "
            "sealing on object stores"
        )


def _check_avro_schema(schema_ddl: str) -> None:
    """Avro data files are encoded by ``avro_codec`` inside the write
    task; run its schema mapping on the driver, so a column type it
    cannot encode fails here with a ValueError naming the column, not in
    every append's Python worker."""
    from iceberg_geo_poc_spark.table import avro_codec, avro_format

    avro_codec.schema_json(avro_format._ddl_pairs(schema_ddl))


def _validate_geometry_columns(schema_ddl: str, geometry_columns: dict[str, str]) -> None:
    types = {}
    for fielddef in _ddl_fields(schema_ddl):
        parts = fielddef.split(None, 1)
        if len(parts) == 2:
            types[parts[0].strip("`")] = parts[1].split()[0].lower()
    for col, enc in geometry_columns.items():
        if enc not in ENCODINGS:
            raise ValueError(f"unknown geometry encoding {enc!r}")
        if col not in types:
            raise ValueError(f"geometry column {col!r} not in schema")
        expected = spark_physical_type(enc)
        actual = types[col]
        if expected == "binary" and actual != "binary":
            raise ValueError(
                f"cannot set geometry field {col!r}: encoding {enc} requires BINARY, "
                f"column is {actual.upper()}"
            )
        if expected == "string" and actual != "string":
            raise ValueError(
                f"cannot set geometry field {col!r}: encoding {enc} requires STRING, "
                f"column is {actual.upper()}"
            )
