"""Table: versioned writes, pruned scans, row-level ops.

The Spark-first re-expression of the reference's table stack:

- write path     = Spark DataFrame write (partitionBy on hidden
  transform columns) + footer-stats harvest + one bbox aggregation
  (vs reference MergingSnapshotProducer/SparkWrite.java)
- scan path      = driver-side manifest pruning (inclusive metrics +
  geometry bbox, reference ManifestGroup.java:177-221 /
  InclusiveMetricsEvaluator.java) -> spark.read.parquet(pruned files)
  -> MoR delete anti-join -> residual filter
- row-level ops  = one plan -> mark -> write -> commit core
  (``Table._row_level``) for DELETE, UPDATE, MERGE and
  overwrite-by-filter: copy-on-write rewrite of affected files only, or
  merge-on-read position-delete / deletion-vector files applied at read
  via left_anti join on (_metadata.file_path, _metadata.row_index)
  (vs reference SparkCopyOnWriteOperation / SparkPositionDeltaWrite)
- commit         = optimistic metadata-version put-if-absent with
  retry (vs reference SnapshotProducer.java:369-409)

Everything data-sized runs in Spark executors; the driver touches only
footers and manifests.  At 1000-executor scale the manifest itself can
be processed as a DataFrame — entries are plain Parquet — but driver-
side pandas is the right call up to ~10^5 files.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from urllib.parse import unquote

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from iceberg_geo_poc_spark.table import expressions as E
from iceberg_geo_poc_spark.table import fileio as FIO
from iceberg_geo_poc_spark.table import manifest as M
from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table import vector_eval as V
from iceberg_geo_poc_spark.table.transforms import PartitionField

_MAX_COMMIT_RETRIES = 5

# row-level write modes every DELETE / UPDATE / MERGE accepts
_ROW_LEVEL_MODES = ("copy-on-write", "merge-on-read", "merge-on-read-dv")


class ValidationException(Exception):
    """Commit revalidation failure: the snapshot this operation planned
    against changed in a way that invalidates the plan (the minimal
    analogue of the reference's MergingSnapshotProducer validation
    matrix, e.g. validateNoNewDeletesForDataFiles)."""


def _validate_files_still_live(current: pd.DataFrame, paths) -> None:
    """Row-level ops plan a set of files to rewrite/drop; if a concurrent
    commit (compaction, another rewrite) removed any of them, applying
    the stale plan would resurrect or lose rows — fail the commit."""
    missing = set(paths) - set(current.file_path)
    if missing:
        raise ValidationException(
            f"{len(missing)} file(s) this operation planned against were "
            f"removed by a concurrent commit; re-run the operation"
        )


_LINEAGE_COLS = ("_row_id", "_last_updated_sequence_number")
_LINEAGE_DDL = ", _row_id BIGINT, _last_updated_sequence_number BIGINT"


# sort-term modifiers -> Column sort order, with Iceberg's null defaults
# (ASC puts nulls first, DESC puts them last)
_SORT_MODIFIERS = {
    ("ASC",): "asc_nulls_first",
    ("DESC",): "desc_nulls_last",
    ("NULLS", "FIRST"): "asc_nulls_first",
    ("NULLS", "LAST"): "asc_nulls_last",
    ("ASC", "NULLS", "FIRST"): "asc_nulls_first",
    ("ASC", "NULLS", "LAST"): "asc_nulls_last",
    ("DESC", "NULLS", "FIRST"): "desc_nulls_first",
    ("DESC", "NULLS", "LAST"): "desc_nulls_last",
}

# order terms the write sorts by as given; any other term is a computed key
_SORTABLE_AS_GIVEN = ("UnresolvedAttribute", "SortOrder")


def order_columns(terms, geo_fields: dict, renames: dict | None = None) -> list:
    """Sort-order terms as Columns.  A term is ``col [ASC|DESC] [NULLS
    FIRST|LAST]`` or ``hilbert(geom)``, the geometry's Hilbert key at
    resolution 12; a Column passes through.  ``renames`` maps a term's
    column name to the name it has in the frame being sorted (the
    table's physical -> logical names); ``geo_fields`` holds the
    geometry encodings under the frame's names (``Table.geo_fields``).
    An unknown modifier raises ValueError."""
    ren = renames or {}
    cols = []
    for term in terms:
        if not isinstance(term, str):
            cols.append(term)
            continue
        name, *mods = term.split()
        if name.startswith("hilbert(") and name.endswith(")"):
            from iceberg_geo_poc_spark.geo.functions import as_wkb, st_hilbert

            g = ren.get(name[8:-1], name[8:-1])
            col = st_hilbert(as_wkb(g, geo_fields.get(g)), 12)
        else:
            col = F.col(ren.get(name, name))
        if mods:
            how = _SORT_MODIFIERS.get(tuple(m.upper() for m in mods))
            if how is None:
                raise ValueError(f"unknown sort modifier in {term!r}")
            col = getattr(col, how)()
        cols.append(col)
    return cols


def _assign_row_id_blocks(entries: pd.DataFrame, base) -> pd.DataFrame:
    """Row-lineage block allocation at commit time (Iceberg v3
    TableMetadata next-row-id semantics): every data entry without a
    ``first_row_id`` claims ``[next_row_id, next_row_id + record_count)``
    in deterministic file-path order, and the allocator on ``base``
    advances.  Runs INSIDE the optimistic-commit loop, so a retry
    against fresh metadata re-allocates against the fresh counter —
    ids are unique under concurrent writers by construction."""
    entries = entries.copy()
    if "first_row_id" not in entries.columns:
        entries["first_row_id"] = pd.array([None] * len(entries), dtype="Int64")
    else:
        # old manifests round-trip the column as float64 NaN; re-anchor
        # to nullable Int64 so ids stay exact past 2^53
        entries["first_row_id"] = entries["first_row_id"].astype("Int64")
    mask = (entries.content == "data") & entries.first_row_id.isna()
    if bool(mask.any()):
        sub = entries.loc[mask].sort_values("file_path")
        nid = int(getattr(base, "next_row_id", 0))
        vals = []
        for rc in sub.record_count:
            vals.append(nid)
            nid += int(rc)
        entries.loc[sub.index, "first_row_id"] = pd.array(vals, dtype="Int64")
        base.next_row_id = nid
    return entries


def _summary_counters(deltas: dict) -> dict:
    """SnapshotSummary.java standard property names from a deltas dict."""
    return {
        "added-data-files": deltas["added_data_files"],
        "deleted-data-files": deltas["removed_data_files"],
        "added-records": deltas["added_records"],
        "deleted-records": deltas["removed_records"],
        "added-delete-files": deltas["added_delete_files"],
        "total-data-files": deltas["total_data_files"],
        "total-records": deltas["total_records"],
    }


class Table:
    def __init__(self, meta: MD.TableMetadata, spark: SparkSession):
        self.meta = meta
        self.spark = spark

    # ------------------------------------------------------------------
    # metadata accessors
    # ------------------------------------------------------------------
    @property
    def location(self) -> str:
        return self.meta.location

    @property
    def partition_fields(self) -> list[PartitionField]:
        return [PartitionField.from_json(o) for o in self.meta.partition_spec]

    @property
    def geo_fields(self) -> dict[str, str]:
        """Geometry encodings keyed by LOGICAL (post-rename) column name,
        the names predicates, scans and order terms use.  Data files and
        manifest bboxes use the physical names of ``meta.geo_fields``."""
        ren = self.meta.renames
        return {ren.get(c, c): enc for c, enc in self.meta.geo_fields.items()}

    @property
    def file_format(self) -> str:
        """Data file format: 'parquet' (default) or 'orc' — the
        reference's write.format.default table property.  Geometry
        columns require parquet, exactly as in the reference (geometry
        writers exist only under parquet/.../havasu/, SURVEY §1.2)."""
        return self.meta.properties.get("write.format.default", "parquet")

    def schema_ddl(self) -> str:
        """LOGICAL schema DDL (post-rename names, user-facing)."""
        ren = self.meta.renames
        if not ren:
            return self.meta.schema_ddl
        parts = []
        for f in _ddl_fields(self.meta.schema_ddl):
            name, rest = f.split(None, 1)
            parts.append(f"{ren.get(name, name)} {rest}")
        return ", ".join(parts)

    def columns(self) -> list[str]:
        """Logical column names in schema order."""
        ren = self.meta.renames
        return [
            ren.get(f.split()[0], f.split()[0])
            for f in _ddl_fields(self.meta.schema_ddl)
        ]

    def _ddl_types(self) -> list[tuple[str, str]]:
        """(logical column name, Spark type DDL) pairs in schema order."""
        ren = self.meta.renames
        out = []
        for f in _ddl_fields(self.meta.schema_ddl):
            name, typ = f.strip().split(None, 1)
            out.append((ren.get(name, name), typ))
        return out

    def _to_logical(self, df: DataFrame) -> DataFrame:
        for phys, log in self.meta.renames.items():
            if log != phys and phys in df.columns:
                df = df.withColumnRenamed(phys, log)
        return df

    def _to_physical(self, df: DataFrame) -> DataFrame:
        for phys, log in self.meta.renames.items():
            if log != phys and log in df.columns:
                df = df.withColumnRenamed(log, phys)
        return df

    def refresh(self) -> "Table":
        self.meta = MD.read_metadata(self.meta.location)
        return self

    def snapshots(self) -> list[MD.Snapshot]:
        return list(self.meta.snapshots)

    def current_snapshot(self) -> MD.Snapshot | None:
        return self.meta.current_snapshot()

    def history(self) -> list[dict]:
        return [
            {"snapshot_id": s.snapshot_id, "timestamp_ms": s.timestamp_ms,
             "operation": s.operation, "sequence_number": s.sequence_number}
            for s in self.meta.snapshots
        ]

    # ------------------------------------------------------------------
    # manifests
    # ------------------------------------------------------------------
    def _entries(self, snapshot: MD.Snapshot | None = None) -> pd.DataFrame:
        snap = snapshot or self.current_snapshot()
        if snap is None:
            return M.entries_dataframe([])
        return M.read_snapshot_entries(self.location, snap)

    def _write_snapshot(
        self,
        operation: str,
        entries: pd.DataFrame,
        base: MD.TableMetadata,
        summary: dict | None = None,
        parent: int | None = None,
    ) -> MD.Snapshot:
        snapshot_id = MD.new_snapshot_id()
        seq = base.last_sequence_number + 1
        rel_manifest = os.path.join(
            "metadata", "manifests", f"snap-{snapshot_id}.parquet"
        )
        M.write_manifest(entries, os.path.join(self.location, rel_manifest))
        if parent is None:
            parent = base.current_snapshot_id
        # whole-manifest column bounds: the manifest-list partition-summary
        # analogue (ManifestGroup.java:251-264) — lets scans skip reading
        # the manifest when the predicate cannot match its overall range
        summary = dict(summary or {})
        bounds = M.manifest_bounds(entries)
        if bounds:
            summary["bounds"] = bounds
            summary["manifest-bounds"] = {rel_manifest: bounds}
        if bool((entries.content != "data").any()):
            # delete entries must be visible to every read regardless of
            # data-bounds pruning — record which manifests carry them
            summary["manifest-deletes"] = [rel_manifest]
        snap = MD.Snapshot(
            snapshot_id=snapshot_id,
            parent_id=parent,
            sequence_number=seq,
            timestamp_ms=MD.now_ms(),
            operation=operation,
            manifest=rel_manifest,
            summary=summary,
            manifests=[rel_manifest],
        )
        return snap

    def _commit(
        self,
        operation: str,
        build_entries=None,
        summary: dict | None = None,
        stage_only: bool = False,
        to_branch: str | None = None,
        append_entries: list[dict] | None = None,
        validate_live_paths=None,
        validate_isolation: tuple | None = None,
    ):
        """Optimistic commit loop: build_entries(current_entries) -> new
        full entry set; retried against fresh metadata on conflict.
        ``stage_only`` records the snapshot in the log WITHOUT advancing
        the current pointer (write-audit-publish staging; published
        later via Catalog.cherrypick_snapshot / publish_changes).
        ``to_branch`` commits on top of a branch ref and advances that
        ref instead of main (reference branch writes, toBranch).

        ``append_entries`` takes the FAST APPEND path (reference
        FastAppend.java): a delta manifest holding only the new entries
        is written and the parent's manifests are REUSED unchanged — the
        commit never reads existing manifests, so append cost is
        O(new files) regardless of table size.  Row-level/maintenance
        ops keep the consolidate-to-one-manifest path (which doubles as
        manifest compaction)."""
        if getattr(self, "_static", False):
            # _static may carry a catalog-specific refusal message
            # (e.g. the Snowflake read-only catalog)
            raise ValueError(
                self._static
                if isinstance(self._static, str)
                else "static table is read-only (loaded from a pinned "
                "metadata file; reference StaticTableOperations.java "
                "refuses commits)"
            )
        retries = int(
            self.meta.properties.get("commit.retry.num-retries", _MAX_COMMIT_RETRIES)
        )
        for _attempt in range(retries):
            if _attempt:
                base = MD.read_metadata(self.location)
            else:
                # work on a COPY: the loop below mutates ``base``
                # (snapshot list, current pointer, sequence number)
                # BEFORE the conditional metadata write, so mutating
                # self.meta in place would leave a FAILED operation's
                # phantom snapshot and advanced sequence number on the
                # handle — corrupting every later operation's view
                # (including the serializable-isolation base marker)
                import copy

                base = copy.copy(self.meta)
                base.snapshots = list(self.meta.snapshots)
                base.refs = dict(self.meta.refs)
            # stashed for _validate_no_conflicting_appends: build_entries
            # closures see only (current, seq), but classifying a
            # concurrent file as append-vs-compaction needs the snapshot
            # list MATCHING ``current`` (fresh on retry, where conflicts
            # are actually visible).  One in-flight commit per handle —
            # the same convention _last_stage_dir relies on.
            self._commit_snapshots = base.snapshots
            if to_branch is not None:
                ref = base.refs.get(to_branch)
                if ref is None and base.current_snapshot_id is None:
                    # WAP auto-create over an empty table: this commit
                    # plants the branch ref (created at line ~400 below)
                    head_id = None
                elif ref is None or ref.get("type") != "branch":
                    raise KeyError(f"branch {to_branch!r} not found")
                else:
                    head_id = ref["snapshot-id"]
            else:
                head_id = base.current_snapshot_id
            head = base.snapshot_by_id(head_id) if head_id is not None else None
            if append_entries is not None and head is not None:
                # bounded manifest-list growth (reference
                # commit.manifest.min-count-to-merge, MergingSnapshotProducer
                # manifest merging): once the list would exceed the
                # threshold, this commit consolidates instead of appending
                # another delta
                merge_at = int(
                    self.meta.properties.get(
                        "commit.manifest.min-count-to-merge", 100
                    )
                )
                if len(head.manifest_list()) + 1 > merge_at:
                    adds = append_entries
                    paths_to_check = validate_live_paths

                    def build_entries(current: pd.DataFrame, seq: int) -> pd.DataFrame:
                        if paths_to_check:
                            _validate_files_still_live(current, paths_to_check)
                        if validate_isolation is not None:
                            self._validate_no_conflicting_appends(
                                current, validate_isolation[2],
                                validate_isolation[0], validate_isolation[1],
                            )
                        add = M.entries_dataframe(
                            [
                                dict(e, sequence_number=seq, snapshot_id=0)
                                for e in adds
                            ]
                        )
                        return M.concat_entries([current, add])

                    append_entries = None
                    validate_live_paths = None
            if append_entries is not None:
                if validate_live_paths:
                    # MoR row-delta commits must revalidate that the files
                    # their position deletes reference still exist
                    # (reference RowDelta validateDataFilesExist): the
                    # validation READS manifests, but the commit still
                    # writes only the delta manifest
                    cur = self._entries(head) if head else M.entries_dataframe([])
                    _validate_files_still_live(cur, validate_live_paths)
                if validate_isolation is not None:
                    cur = self._entries(head) if head else M.entries_dataframe([])
                    self._validate_no_conflicting_appends(
                        cur, validate_isolation[2],
                        validate_isolation[0], validate_isolation[1],
                    )
                snap, deltas = self._write_append_snapshot(
                    operation, append_entries, base, dict(summary or {}), head
                )
            else:
                current = self._entries(head) if head else M.entries_dataframe([])
                new_entries = build_entries(current, base.last_sequence_number + 1)
                new_entries = _assign_row_id_blocks(new_entries, base)
                # SnapshotSummary parity (core/.../SnapshotSummary.java):
                # standard counter properties ride in the snapshot summary
                # so metadata-table consumers see commit deltas without
                # diffing manifests themselves
                deltas = self._commit_deltas(current, new_entries)
                snap_summary = dict(summary or {})
                snap_summary.update(_summary_counters(deltas))
                snap = self._write_snapshot(
                    operation, new_entries, base, snap_summary, parent=head_id
                )
            base.snapshots.append(snap)
            if to_branch is not None:
                # advance the branch head, PRESERVING retention attrs
                # (max-ref-age-ms etc.) set by branch DDL
                bref = dict(base.refs.get(to_branch) or {})
                bref.update(
                    {"snapshot-id": snap.snapshot_id, "type": "branch"}
                )
                base.refs[to_branch] = bref
            elif not stage_only:
                base.current_snapshot_id = snap.snapshot_id
            base.last_sequence_number = snap.sequence_number
            try:
                MD.write_new_metadata(base, base.version)
                self.meta = base
                try:
                    self._report_commit(operation, snap, deltas, _attempt + 1)
                except Exception:  # noqa: BLE001 — never fail a landed commit
                    pass
                return snap
            except MD.CommitConflict:
                continue
        raise MD.CommitConflict(f"commit failed after {retries} retries")

    def _write_append_snapshot(
        self,
        operation: str,
        append_entries: list[dict],
        base: MD.TableMetadata,
        summary: dict,
        head: MD.Snapshot | None,
    ) -> tuple[MD.Snapshot, dict]:
        """Fast-append snapshot: delta manifest + parent manifest reuse
        (reference FastAppend.java).  Totals roll forward from the
        parent's summary counters — no manifest is read (legacy parents
        without counters pay a one-time read)."""
        snapshot_id = MD.new_snapshot_id()
        seq = base.last_sequence_number + 1
        rel = os.path.join("metadata", "manifests", f"snap-{snapshot_id}.parquet")
        add = M.entries_dataframe(
            [dict(e, sequence_number=seq, snapshot_id=0) for e in append_entries]
        )
        add = _assign_row_id_blocks(add, base)
        M.write_manifest(add, os.path.join(self.location, rel))
        prior = head.manifest_list() if head else []
        manifests = prior + [rel]
        # carry per-manifest data bounds forward; legacy single-manifest
        # parents contributed whole-snapshot bounds under "bounds"
        mbounds: dict = {}
        mdeletes: list[str] = []
        if head is not None:
            hsum = head.summary or {}
            hb = hsum.get("manifest-bounds")
            if hb is None and head.manifests is None and hsum.get("bounds"):
                hb = {head.manifest: hsum["bounds"]}
            mbounds.update(hb or {})
            mdeletes = list(hsum.get("manifest-deletes", []))
        nb = M.manifest_bounds(add)
        has_data = bool((add.content == "data").any())
        if nb:
            mbounds[rel] = nb
        elif not has_data:
            # delete-only delta: contributes no data range — explicit
            # neutral entry so merged bounds stay available
            mbounds[rel] = {}
        if bool((add.content != "data").any()):
            mdeletes.append(rel)
        if mbounds:
            summary["manifest-bounds"] = mbounds
        if mdeletes:
            summary["manifest-deletes"] = mdeletes
        if len(mbounds) == len(manifests):
            nonempty = [b for b in mbounds.values() if b]
            merged = M.merge_bounds(nonempty) if nonempty else {}
            if merged:
                summary["bounds"] = merged
        add_data = add[add.content == "data"]
        added_records = int(add_data.record_count.sum()) if len(add_data) else 0
        psum = (head.summary or {}) if head else {}
        if head is None:
            p_files, p_records = 0, 0
        elif "total-data-files" in psum:
            p_files, p_records = psum["total-data-files"], psum["total-records"]
        else:
            cur = self._entries(head)
            cd = cur[cur.content == "data"]
            p_files = int(len(cd))
            p_records = int(cd.record_count.sum()) if len(cd) else 0
        deltas = {
            "added_data_files": int(len(add_data)),
            "removed_data_files": 0,
            "added_records": added_records,
            "removed_records": 0,
            "added_delete_files": int(len(add)) - int(len(add_data)),
            "total_data_files": int(p_files) + int(len(add_data)),
            "total_records": int(p_records) + added_records,
        }
        summary.update(_summary_counters(deltas))
        snap = MD.Snapshot(
            snapshot_id=snapshot_id,
            parent_id=head.snapshot_id if head else None,
            sequence_number=seq,
            timestamp_ms=MD.now_ms(),
            operation=operation,
            manifest=rel,
            summary=summary,
            manifests=manifests,
        )
        return snap, deltas

    @staticmethod
    def _commit_deltas(current: pd.DataFrame, new_entries: pd.DataFrame) -> dict:
        """Added/removed file+record deltas by file-path set difference
        over the planning frames already in hand — no extra IO.  Shared
        by the snapshot summary (SnapshotSummary.java counters) and the
        CommitReport."""
        cur_data = current[current.content == "data"] if len(current) else current
        new_data = new_entries[new_entries.content == "data"]
        cur_paths = set(cur_data.file_path) if len(cur_data) else set()
        new_paths = set(new_data.file_path)
        added = new_data[new_data.file_path.map(lambda p: p not in cur_paths)]
        removed = (
            cur_data[cur_data.file_path.map(lambda p: p not in new_paths)]
            if len(cur_data)
            else cur_data
        )
        cur_del = set(current[current.content != "data"].file_path) if len(current) else set()
        new_del = new_entries[new_entries.content != "data"]
        added_del = int(new_del.file_path.map(lambda p: p not in cur_del).sum()) if len(new_del) else 0
        return {
            "added_data_files": int(len(added)),
            "removed_data_files": int(len(removed)),
            "added_records": int(added.record_count.sum()) if len(added) else 0,
            "removed_records": int(removed.record_count.sum()) if len(removed) else 0,
            "added_delete_files": added_del,
            "total_data_files": int(len(new_data)),
            "total_records": int(new_data.record_count.sum()) if len(new_data) else 0,
        }

    def _report_commit(self, operation, snap, d: dict, attempts: int) -> None:
        """Emit a CommitReport (reference core/.../metrics/CommitReport.java)."""
        from iceberg_geo_poc_spark.table import reporting as RPT

        RPT.report(
            self.location,
            RPT.CommitReport(
                table_location=self.location,
                snapshot_id=snap.snapshot_id,
                sequence_number=snap.sequence_number,
                operation=operation,
                attempts=attempts,
                **d,
            ),
        )

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------
    def _partition_columns(self) -> list[tuple[str, PartitionField]]:
        return [(f"__p_{pf.name}", pf) for pf in self.partition_fields]

    def _write_files(
        self, df: DataFrame, order: list | None = None, n_files: int | None = None
    ) -> list[dict]:
        """Write df as data files; return entry dicts (no seq/snap).

        The one place rows are distributed and sorted for a write.  With
        ``order=None`` the table's own settings apply
        (``write.sort-order``, ``write.distribution-mode``,
        ``write.range-partitions``).  A given ``order`` (Columns over
        df's column names, see ``order_columns``) replaces them:
        rows are range-split by (partition columns, order) into
        ``n_files`` splits (unset: Spark decides) and sorted within each
        split; the table's order is not applied as well.  This is how
        compaction writes its strategy's order (the reference's rewriters
        skip the table's, ``use-table-distribution-and-ordering``).

        Every returned entry carries the table's metrics policy
        (``write.metadata.metrics.*``: metrics modes and the
        max-inferred-column cap), whichever writer produced the file —
        Spark's parquet/ORC writer, the avro writer or the
        modular-encrypted one: all entries come from ``M.data_entries``.

        Abort hygiene (reference TestWriteAborts.java: a failed write
        must leave no stray files behind): a Spark-job or stats-harvest
        failure removes the write's own staging directory before
        re-raising — no commit happened, so nothing references those
        files, and the table needs no remove_orphan_files pass to stay
        clean after a crashed INSERT.

        The pointer is reset BEFORE the write starts: ``_last_stage_dir``
        survives from the previous (successful) write, and on POSIX
        locations the stage dir IS the committed data directory — a
        failure raised before this write's ``_stage_dir()`` runs (e.g.
        the write-schema-mismatch ValueError below) must not delete the
        files the previous commit's manifests still reference."""
        self._last_stage_dir = None
        try:
            return self._write_files_impl(df, order, n_files)
        except BaseException:
            stage = getattr(self, "_last_stage_dir", None)
            if stage and os.path.isdir(stage):
                import shutil

                shutil.rmtree(stage, ignore_errors=True)
            raise
        finally:
            # never leave a pointer at a now-committed directory for a
            # later abort handler to find
            self._last_stage_dir = None

    def _write_files_impl(
        self, df: DataFrame, order: list | None, n_files: int | None
    ) -> list[dict]:
        # write-schema validation (reference TypeUtil.validateWriteSchema
        # via SparkWrite): the incoming frame must carry exactly the
        # table's columns — a misnamed or missing column would otherwise
        # be written as-is and silently read back as NULLs
        expected = self.columns()
        got = list(df.columns)
        # columns evolved in with a default are optional for writers: an
        # omitted one is filled with its write-default (Iceberg v3
        # write-default semantics) and so is always physically present
        # in files written after the evolution — which is what lets the
        # read path treat NULLs in post-evolution files as genuine
        defaults = getattr(self.meta, "column_defaults", {})
        types = dict(self._ddl_types())
        for c in expected:
            if c not in got and c in defaults:
                df = df.withColumn(
                    c, F.lit(defaults[c].get("write")).cast(types[c])
                )
                got.append(c)
        missing = [c for c in expected if c not in got]
        # lineage columns are system columns a rewrite may materialize
        extra = [c for c in got if c not in expected and c not in _LINEAGE_COLS]
        if missing or extra:
            raise ValueError(
                f"write schema mismatch for table {self.location!r}: "
                f"missing columns {missing}, unexpected columns {extra}; "
                f"table schema is ({self.schema_ddl()})"
            )
        keep = expected + [c for c in _LINEAGE_COLS if c in got]
        if got != keep:
            df = df.select(*keep)
        # INT96 (the legacy default) writes no parquet min/max stats —
        # timestamp columns would be invisible to manifest pruning.  The
        # conf is runtime-settable; force it even under a caller-provided
        # SparkSession (the driver passes its own).
        df.sparkSession.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        # Non-POSIX (object-store) locations: Spark's writer needs a
        # Hadoop-reachable path, so stage on local disk and upload the
        # finished files through the location's FileIO.  On a real
        # cluster the location would be an s3a:// URI the executors
        # write directly (no driver staging); this path serves
        # filesystems Spark itself cannot reach (reference parity:
        # S3FileIO-backed writes, aws/.../s3/S3FileIO.java).
        stage, _final_dir = self._stage_dir("data")
        fmt = self.file_format
        pcols = self._partition_columns()
        # Iceberg v3 timestamp_ns: columns listed in the property hold
        # int64 epoch-nanoseconds (the v3 physical form); date-family
        # transforms convert to micros first (truncation to day/hour
        # is unaffected by the dropped sub-microsecond bits)
        ns_cols = set(
            json.loads(
                self.meta.properties.get("schema.timestamp-ns-columns", "[]")
            )
        )
        # partition values and the write order are computed on the frame
        # as passed, in logical names (the names a caller's ``order``
        # terms use); the rename to physical names comes last
        ren = self.meta.renames
        out = df
        for cname, pf in pcols:
            src = ren.get(pf.source, pf.source)
            if pf.transform.name == "hilbert":
                from iceberg_geo_poc_spark.geo.functions import as_wkb

                src = as_wkb(src, self.meta.geo_fields.get(pf.source))
            if pf.source in ns_cols and pf.transform.name in (
                "year",
                "month",
                "day",
                "hour",
            ):
                tmp = f"__nsts_{pf.source}"
                # ns -> us must FLOOR (Math.floorDiv in the reference's
                # Timestamps.java / DateTimeUtil), not truncate toward
                # zero: -1ns belongs to 1969-12-31, not 1970-01-01.
                # (x - pmod(x, 1000)) is divisible by 1000 and DIV on it
                # equals floorDiv, all in exact int64 arithmetic.
                c = src
                out = (
                    out.withColumn(
                        tmp,
                        F.timestamp_micros(
                            F.expr(
                                f"CAST((({c}) - pmod({c}, 1000)) DIV 1000 AS LONG)"
                            )
                        ),
                    )
                    .withColumn(cname, pf.transform.spark_column(tmp))
                    .drop(tmp)
                )
                continue
            out = out.withColumn(cname, pf.transform.spark_column(src))
        # write distribution & ordering (reference SparkWriteConf
        # DistributionMode NONE/HASH/RANGE + local sort, SURVEY 4.9):
        # the caller's order and split count, else the table's own
        if order is None:
            order = order_columns(
                json.loads(self.meta.properties.get("write.sort-order", "[]")),
                self.geo_fields,
                ren,
            )
            mode = self.meta.properties.get(
                "write.distribution-mode", "hash" if pcols else "none"
            )
            # optional explicit range-split count: pins the number of
            # clustered output files regardless of AQE coalescing (the
            # knob that makes range clustering produce prunable files
            # even on small appends; unset -> Spark decides)
            nparts = self.meta.properties.get("write.range-partitions")
            n_files = int(nparts) if nparts else None
        else:
            mode = "range"
        order_exprs, tmp_order_cols = [], []
        for i, o in enumerate(order):
            if o._jc.node().getClass().getSimpleName() in _SORTABLE_AS_GIVEN:
                order_exprs.append(o)
                continue
            # a computed key (Hilbert, z-value) is evaluated once, into a
            # column the range split and the local sort share
            c = f"__ord_{i}"
            out = out.withColumn(c, o)
            tmp_order_cols.append(c)
            order_exprs.append(F.col(c))
        part_exprs = [F.col(c) for c, _ in pcols]
        if mode == "range" and (part_exprs or order_exprs):
            if n_files:
                out = out.repartitionByRange(n_files, *part_exprs, *order_exprs)
            else:
                out = out.repartitionByRange(*part_exprs, *order_exprs)
        elif mode == "hash" and part_exprs:
            # hash-distribute by partition tuple so each partition's rows
            # co-locate (SparkWriteConf DistributionMode.HASH analogue)
            out = out.repartition(*part_exprs)
        if order_exprs:
            out = out.sortWithinPartitions(*part_exprs, *order_exprs)
        if tmp_order_cols:
            out = out.drop(*tmp_order_cols)
        out = self._to_physical(out)
        fkey = self._modular_footer_key()
        if fmt != "parquet" and fkey:
            # the property names PARQUET modular encryption; an avro/orc
            # table carrying it would silently write plaintext
            raise NotImplementedError(
                "write.parquet.encryption.* requires file_format='parquet' "
                f"(table is {fmt}); use EncryptingFileIO for at-rest "
                "sealing of other formats"
            )
        if fmt == "avro":
            # one mapInArrow job writes the containers and computes their
            # stats in-task (write-time metrics, like the reference's Avro
            # writers) — see table/avro_format.py
            from iceberg_geo_poc_spark.table import avro_format as AV

            files = AV.write_avro_files(out, stage, self.meta.schema_ddl)
        elif fkey:
            # Parquet MODULAR encryption (PARQUET-1300; reference rides
            # parquet-mr's implementation of the same format feature):
            # the same in-task writer, with per-file data keys wrapped by
            # the registered master key
            from iceberg_geo_poc_spark.table import parquet_crypto as PC

            files = PC.write_encrypted_files(
                out,
                stage,
                pcols,
                PC.master_keys(),
                fkey,
                json.loads(self.meta.properties.get(PC.PROP_COLUMN_KEYS, "{}")),
                self.meta.geo_fields,
            )
        else:
            files = self._write_spark_files(df, out, stage, fmt, pcols)
        entries = M.data_entries(files, self.meta)
        return self._finalize_staged(entries, stage, _final_dir)

    def _write_spark_files(self, df, out, stage, fmt, pcols) -> list[dict]:
        """Spark's own parquet/ORC writer; the raw stats of its files
        come from the footers (ORC: one distributed aggregation), the
        bboxes and point flags from ``M.compute_bboxes``, the NaN counts
        from ``M.compute_nan_counts``.  Empty task outputs are removed."""
        writer = out.write.format(fmt)
        if fmt == "parquet":
            # bloom-filter passthrough (reference TableProperties
            # PARQUET_BLOOM_FILTER_COLUMN_ENABLED_PREFIX, consumed by
            # Parquet.java write builders): per-column enable + optional
            # expected NDV reach parquet-mr via Spark writer options;
            # Spark's scan then gets row-group bloom skipping for free
            # (ParquetBloomRowGroupFilter parity, SURVEY §4.6).
            _bloom_pref = "write.parquet.bloom-filter-enabled.column."
            _ndv_pref = "write.parquet.bloom-filter-expected-ndv.column."
            for k, v in self.meta.properties.items():
                if k.startswith(_bloom_pref) and str(v).lower() == "true":
                    col = k[len(_bloom_pref):]
                    writer = writer.option(
                        f"parquet.bloom.filter.enabled#{col}", "true"
                    )
                elif k.startswith(_ndv_pref):
                    col = k[len(_ndv_pref):]
                    writer = writer.option(
                        f"parquet.bloom.filter.expected.ndv#{col}", str(int(v))
                    )
        if pcols:
            writer.partitionBy([c for c, _ in pcols]).save(stage)
        else:
            writer.save(stage)
        paths = _list_parquet(stage)
        if fmt == "parquet":
            stats = M.harvest_stats(paths)
        else:
            # no cheap footer API for ORC under pyarrow: one distributed
            # per-file aggregation supplies the same manifest stats
            stats = M.harvest_stats_spark(self.spark, paths, fmt, self.meta.schema_ddl)
        geo = M.compute_bboxes(
            self.spark, paths, self.meta.geo_fields, schema_ddl=self.meta.schema_ddl
        )
        # nan_value_counts for float/double columns (reference
        # Metrics.java nanValueCounts / FloatFieldMetrics.java).  The
        # parquet footer already *signals* NaN presence exactly
        # (parquet-mr writes max=NaN), so the distributed column-pruned
        # counting job runs only over files whose footers hint NaNs —
        # zero extra Spark jobs on the common NaN-free append.
        float_cols = M.float_columns(self._to_physical(df))
        nan_counts: dict[str, dict[str, int]] = {}
        if float_cols:
            if fmt == "parquet":
                hinted = [p for p in paths if any(stats[p][5].values())]
                counted = M.compute_nan_counts(
                    self.spark, hinted, float_cols, fmt, self.meta.schema_ddl
                )
                for p in paths:
                    nan_counts[p] = counted.get(p, {c: 0 for c in float_cols})
            else:
                # ORC stats came from a distributed agg that already
                # counted NaNs exactly
                nan_counts = {p: stats[p][5] for p in paths}
        files = []
        for p in paths:
            record_count, file_size, lower, upper, nulls = stats[p][:5]
            if record_count == 0:
                os.remove(p)  # empty task output: not a data file
                continue
            files.append(
                {
                    "file_path": p,
                    "file_size": file_size,
                    "record_count": record_count,
                    "partition": _partition_from_path(os.path.relpath(p, stage), pcols),
                    "lower": lower,
                    "upper": upper,
                    "nulls": nulls,
                    "nans": nan_counts.get(p, {}),
                    **geo.get(p, {}),
                }
            )
        return files

    def _finalize_staged(
        self, entries: list[dict], stage: str, final_dir: str | None
    ) -> list[dict]:
        """Upload locally-staged files to an object-store location and
        rewrite entry paths; no-op for POSIX locations (files were
        written in place)."""
        if final_dir is None:
            return entries
        fio = FIO.io_for(self.location)
        for e in entries:
            rel = os.path.relpath(e["file_path"], stage).replace(os.sep, "/")
            dest = final_dir + "/" + rel
            with open(e["file_path"], "rb") as f:
                fio.write_bytes(dest, f.read())
            e["file_path"] = dest
        shutil.rmtree(stage, ignore_errors=True)
        return entries

    def append(
        self,
        df: DataFrame,
        wap_id: str | None = None,
        to_branch: str | None = None,
    ) -> MD.Snapshot:
        """Append; with ``wap_id`` the snapshot is STAGED (logged but not
        current) for write-audit-publish — publish with
        Catalog.publish_changes(name, wap_id) after auditing
        (reference spark.wap.id + PublishChangesProcedure.java).
        With ``to_branch`` the commit lands on that branch ref instead
        of main (audit there, then Catalog.fast_forward main)."""
        new = self._write_files(df)
        summary = {"added-files": len(new)}
        if wap_id is not None:
            summary["wap.id"] = wap_id
        return self._commit(
            "append",
            summary=summary,
            stage_only=wap_id is not None,
            to_branch=to_branch,
            append_entries=new,
        )

    def append_streaming(
        self, df: DataFrame, query_id: str, epoch_id: int
    ) -> MD.Snapshot | None:
        """Exactly-once streaming append: foreachBatch may REPLAY an
        epoch after a failure (Structured Streaming's at-least-once
        sink contract); the committed snapshot records (query-id,
        epoch-id) in its summary and a replayed epoch is skipped — the
        reference's SparkWrite streaming commits do the same via the
        snapshot's epoch-id property.  Returns None on a skipped replay.
        """
        eid = str(int(epoch_id))
        for s in self.meta.snapshots:
            if (
                s.summary.get("streaming.query-id") == query_id
                and s.summary.get("streaming.epoch-id") == eid
            ):
                return None
        new = self._write_files(df)
        return self._commit(
            "append",
            summary={
                "added-files": len(new),
                "streaming.query-id": query_id,
                "streaming.epoch-id": eid,
            },
            append_entries=new,
        )

    def overwrite_streaming(
        self, df: DataFrame, query_id: str, epoch_id: int
    ) -> MD.Snapshot | None:
        """Exactly-once streaming OVERWRITE (Spark complete output
        mode): each epoch replaces the table with the stream's full
        state — the reference's ``asStreamingOverwrite``
        (SparkWrite.java:181-186).  Epoch replay detection mirrors
        ``append_streaming``; a skipped replay returns None."""
        eid = str(int(epoch_id))
        for s in self.meta.snapshots:
            if (
                s.summary.get("streaming.query-id") == query_id
                and s.summary.get("streaming.epoch-id") == eid
            ):
                return None
        new = self._write_files(df)

        def build(current, seq):
            return M.entries_dataframe(
                [dict(e, sequence_number=seq, snapshot_id=0) for e in new]
            )

        return self._commit(
            "overwrite",
            build,
            {
                "replaced": "all",
                "streaming.query-id": query_id,
                "streaming.epoch-id": eid,
            },
        )

    def overwrite(self, df: DataFrame, where: E.Expr | None = None) -> MD.Snapshot:
        """Full-table overwrite, or overwrite-by-filter (rows matching
        ``where`` are replaced by ``df``; reference SparkWrite.java:165-175
        asOverwriteByFilter).  Overwrite-by-filter is a copy-on-write
        DELETE of ``where`` through the row-level core, committed with
        ``df``'s files, so it validates and narrows exactly like one."""
        if where is not None:
            return self._row_level(
                "delete", [("delete", None)], where, where,
                add=lambda: self._write_files(df),
            )
        new = self._write_files(df)

        def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
            return M.entries_dataframe(
                [dict(e, sequence_number=seq, snapshot_id=0) for e in new]
            )

        return self._commit("overwrite", build, {"replaced": "all"})

    def dynamic_partition_overwrite(self, df: DataFrame) -> MD.Snapshot:
        """Replace exactly the partitions present in df (reference
        SparkWrite.java asDynamicOverwrite)."""
        if not self.partition_fields:
            raise ValueError("dynamic_partition_overwrite requires a partitioned table")
        new = self._write_files(df)
        incoming = {e["partition"] for e in new}

        def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
            kept = current[~current.partition.isin(incoming)]
            add = M.entries_dataframe(
                [dict(e, sequence_number=seq, snapshot_id=0) for e in new]
            )
            return M.concat_entries([kept, add])

        return self._commit("overwrite", build, {"replaced-partitions": len(incoming)})

    # ------------------------------------------------------------------
    # scan path
    # ------------------------------------------------------------------
    def scan(
        self,
        where: E.Expr | None = None,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        ref: str | None = None,
        select: list[str] | None = None,
        lineage: bool = False,
        metadata_columns: bool = False,
    ) -> "TableScan":
        if ref is not None:
            snapshot_id = self.meta.refs[ref]["snapshot-id"]
        if as_of_ms is not None:
            snapshot_id = self.meta.snapshot_as_of(as_of_ms).snapshot_id
        snap = (
            self.meta.snapshot_by_id(snapshot_id)
            if snapshot_id is not None
            else self.current_snapshot()
        )
        return TableScan(
            self,
            snap,
            where,
            select,
            lineage=lineage,
            metadata_columns=metadata_columns,
        )

    def to_df(self, **scan_kwargs) -> DataFrame:
        return self.scan(**scan_kwargs).to_df()

    def _empty_df(self) -> DataFrame:
        return self.spark.createDataFrame([], self.schema_ddl())

    def new_transaction(self) -> "Transaction":
        """Batch several operations into ONE atomic commit (reference
        Transaction / TestTransaction.java: operations stage against the
        transaction's working state; nothing is visible until commit)."""
        return Transaction(self)

    # ------------------------------------------------------------------
    # row-level operations
    # ------------------------------------------------------------------
    def _plan_cow(self, where: E.Expr, entries: pd.DataFrame | None = None) -> dict:
        """Split current data files into full-match / partial-match sets
        (strict vs inclusive metrics evaluators; reference decides
        metadata-only deletes the same way, SparkTable.java:87-91 +
        StrictMetricsEvaluator).  Vectorized: one columnar pass over the
        manifest, no per-file Python loop (SURVEY §4.3)."""
        if entries is None:
            entries = self._entries()
        data = entries[entries.content == "data"]
        if data.empty:
            return {"full": [], "partial": []}
        sv = V.StatsView(data, self.meta.renames)
        might = V.might_match(where, sv)
        strict = V.all_match(where, sv)
        has_del = self._files_with_deletes(entries, data)
        paths = data.file_path.to_numpy()
        full_mask = might & strict & ~has_del
        return {
            "full": list(paths[full_mask]),
            "partial": list(paths[might & ~full_mask]),
        }

    @staticmethod
    def _files_with_deletes(entries: pd.DataFrame, data: pd.DataFrame):
        """Boolean mask over ``data`` rows: which data files can any
        delete file apply to?  Per-file granularity (not "any delete
        anywhere", which would suppress the metadata-only delete fast
        path table-wide).  Mirrors the reference's DeleteFileIndex
        matching (core/.../DeleteFileIndex.java:122-130): sequence-number
        visibility plus, for position deletes, the referenced-path range
        from the delete file's own file_path column bounds.  Loops only
        over delete files (few); data files are evaluated vectorized."""
        import numpy as np

        out = np.zeros(len(data), dtype=bool)
        dels = entries[entries.content.isin(["posdel", "eqdel", "dv"])]
        if dels.empty:
            return out
        data_seq = data.sequence_number.to_numpy(dtype="int64")
        paths = data.file_path.to_numpy()
        for row in dels.itertuples():
            del_seq = int(row.sequence_number)
            if row.content == "dv":
                # a deletion vector names exactly one data file
                out |= paths == json.loads(row.dv)["referenced"]
                continue
            if row.content == "eqdel":
                # equality deletes hit data files with strictly LOWER seq
                out |= data_seq < del_seq
                continue
            # position deletes hit data files with seq <= delete seq, and
            # only paths inside the delete file's file_path min/max range
            # (parquet string stats are bounds, truncation only widens)
            m = data_seq <= del_seq
            try:
                lo = json.loads(row.lower).get("file_path")
                hi = json.loads(row.upper).get("file_path")
            except (TypeError, ValueError):
                lo = hi = None
            if lo is not None and hi is not None:
                m = m & (paths >= lo) & (paths <= hi)
            out |= m
        return out

    def _validate_no_conflicting_appends(
        self, current: pd.DataFrame, base_seq: int, where, op: str
    ) -> None:
        """SERIALIZABLE isolation for row-level operations (reference
        TestConflictValidation + TableProperties *_ISOLATION_LEVEL,
        default serializable): a row-level plan is computed against a
        base snapshot; if, by commit time, a CONCURRENT commit added
        data files whose stats might contain rows matching the
        operation's condition, applying the stale plan would miss those
        rows — the serial order the user observed no longer exists.
        Concurrent additions are exactly the data files with a sequence
        number above the plan's base; the check is one vectorized
        inclusive-stats pass (same evaluator as scan pruning).  Set
        ``write.<op>.isolation-level=snapshot`` to accept
        snapshot-isolation semantics and skip the check.

        An UNCONDITIONAL operation (``where is None``) validates with an
        always-true conflict filter — the reference wires
        ``Expressions.alwaysTrue()`` into the conflict-detection filter
        when the command has no condition (SparkRowLevelOperationBuilder),
        so ANY concurrently appended row aborts a serializable commit.

        Files added by a concurrent compaction (operation ``replace``,
        rewrite_data_files / rewrite_manifests) carry no NEW rows and are
        excluded — the reference's validateAddedDataFiles walks only
        append/overwrite snapshots (MergingSnapshotProducer), so a
        background compaction whose rewritten stats overlap the predicate
        must not spuriously abort a DELETE/UPDATE/MERGE."""
        level = self.meta.properties.get(
            f"write.{op}.isolation-level",
            self.meta.properties.get("write.isolation-level", "serializable"),
        )
        if level == "snapshot":
            return
        data = current[current.content == "data"]
        if data.empty:
            return
        new = data[data.sequence_number.astype("int64") > int(base_seq)]
        if new.empty:
            return
        snaps = getattr(self, "_commit_snapshots", None) or self.meta.snapshots
        seq_op = {int(s.sequence_number): s.operation for s in snaps}
        ops = new.sequence_number.astype("int64").map(
            lambda q: seq_op.get(int(q), "append")
        )
        new = new[(ops == "append") | (ops == "overwrite")]
        if new.empty:
            return
        if where is None:
            raise ValidationException(
                f"serializable isolation violated: {len(new)} "
                f"concurrently-added data file(s) were not visible to this "
                f"unconditional {op}; re-run the {op}, or set "
                f"write.{op}.isolation-level=snapshot to allow it"
            )
        might = V.might_match(where, V.StatsView(new, self.meta.renames))
        if bool(might.any()):
            raise ValidationException(
                f"serializable isolation violated: {int(might.sum())} "
                f"concurrently-added data file(s) might contain rows "
                f"matching this {op}'s condition; re-run the {op}, or set "
                f"write.{op}.isolation-level=snapshot to allow it"
            )

    def _where_mark(self, where: E.Expr):
        """Row-local marking of an expression DELETE/UPDATE: clause 1
        where ``coalesce(where, false)`` holds, else 0.  NOT the
        expression-tree negation: in SQL three-valued logic a row whose
        predicate is NULL does *not* match and must stay untouched
        (reference semantics: Spark's ReplaceData keeps rows via the
        same null-safe inversion of the condition)."""
        cond = F.coalesce(where.to_spark_column(self.geo_fields), F.lit(False))
        return lambda df: df.withColumn("__clause", F.when(cond, 1).otherwise(0))

    def _apply_clauses(self, marked: DataFrame, clauses: list[tuple]) -> DataFrame:
        """Marked target rows (aliased ``t``, carrying lineage and
        ``__clause``) -> the rows to write.  An update clause sets its
        columns, a delete clause drops the row, clause 0 passes through.
        Every row keeps its ``_row_id``; an updated row's
        ``_last_updated_sequence_number`` goes NULL, which resolves to
        the committing file's sequence number at read time, so it stays
        right across commit retries."""
        clause = F.col("__clause")
        cols = []
        for c in self.columns():
            val = F.col(f"t.{c}")
            for i, (kind, sets) in enumerate(clauses, 1):
                if kind == "update" and c in sets:
                    val = F.when(clause == i, _as_column(sets[c])).otherwise(val)
            cols.append(val.alias(c))
        seq = F.col("t._last_updated_sequence_number")
        updated = [i for i, (kind, _) in enumerate(clauses, 1) if kind == "update"]
        if updated:
            seq = F.when(clause.isin(updated), F.lit(None).cast("long")).otherwise(seq)
        deleted = [i for i, (kind, _) in enumerate(clauses, 1) if kind == "delete"]
        if deleted:
            marked = marked.filter(~clause.isin(deleted))
        return marked.select(
            *cols,
            F.col("t._row_id").alias("_row_id"),
            seq.alias("_last_updated_sequence_number"),
        )

    def _cow_rewrite(
        self,
        paths: list[str],
        mark,
        clauses: list[tuple],
        entries: pd.DataFrame,
        with_pos: bool = False,
    ) -> list[dict]:
        """The copy-on-write rewrite step: read ``paths`` with deletes
        applied and lineage kept (v3 row lineage — a rewrite must not
        reassign surviving rows' ids), mark them, and write what
        ``_apply_clauses`` keeps."""
        if not paths:
            return []
        df = self._read_files(
            paths, with_deletes=True, with_pos=with_pos, with_lineage=True,
            entries=entries,
        )
        return self._write_files(self._apply_clauses(mark(df.alias("t")), clauses))

    def _touched_file_paths(self, matched_df: DataFrame) -> list[str]:
        """Runtime matched-file narrowing for copy-on-write row-level
        ops (reference SparkCopyOnWriteScan.java:143-171 — the CoW scan
        accepts a runtime ``_file IN (...)`` filter built from the
        matched-row set, so only file groups that actually contain
        matches are rewritten).  Collects the DISTINCT ``__file_path``
        of the matched frame — bounded by the CANDIDATE FILE COUNT,
        never by matched-row count — so a DELETE/UPDATE/MERGE touching
        0.1% of files rewrites 0.1% of the table instead of 100%."""
        return sorted(
            r[0] for r in matched_df.select("__file_path").distinct().collect()
        )

    def _branch_entries(self, to_branch: str | None):
        """Entries of a branch head for branch-scoped row-level ops
        (reference WAP-branch DML, TestDelete.testDeleteToWapBranch) —
        None means current-snapshot planning."""
        if to_branch is None:
            return None
        ref = self.meta.refs.get(to_branch)
        if ref is None and self.meta.current_snapshot_id is None:
            # WAP auto-create over an EMPTY table: no snapshot exists to
            # branch from, so the branch head is empty and the first
            # to_branch commit plants the ref (reference: wap.branch
            # needs no pre-created branch)
            return M.entries_dataframe([])
        if ref is None or ref.get("type") != "branch":
            raise KeyError(f"branch {to_branch!r} not found")
        return self._entries(self.meta.snapshot_by_id(ref["snapshot-id"]))

    def ensure_branch(self, name: str) -> None:
        """Auto-create branch ``name`` at the current snapshot if it
        does not exist — WAP semantics (reference
        TestDelete.testDeleteToWapBranch: the test never creates the
        branch; the first write under ``spark.wap.branch`` creates it
        from the current snapshot).  An EMPTY table defers creation to
        the first ``to_branch`` commit, which plants the ref with its
        snapshot."""
        ref = self.meta.refs.get(name)
        if ref is not None:
            if ref.get("type") != "branch":
                raise ValueError(f"ref {name!r} exists and is not a branch")
            return
        if self.meta.current_snapshot_id is None:
            return
        self.meta.refs[name] = {
            "snapshot-id": self.meta.current_snapshot_id,
            "type": "branch",
            "created-at-ms": MD.now_ms(),
        }
        MD.write_new_metadata(self.meta, self.meta.version)

    def delete(
        self,
        where: E.Expr | None,
        mode: str = "copy-on-write",
        to_branch: str | None = None,
    ) -> MD.Snapshot:
        """DELETE the rows matching ``where`` through the row-level core
        (``_row_level``).  ``where=None`` is the unconditional form: it
        plans and marks with always-true, and serializable isolation
        treats ANY concurrent append as a conflict (reference
        SparkRowLevelOperationBuilder wires alwaysTrue() as the
        conflict-detection filter when there is no condition).  As for
        every row-level op, the commit validates that every planned file
        is still live and isolation under ``where``; survivors keep their
        ``_row_id``."""
        return self._row_level(
            "delete", [("delete", None)], where, where, mode, to_branch
        )

    def _row_level(
        self,
        op: str,
        clauses: list[tuple],
        prune: E.Expr | None,
        cond: E.Expr | None,
        mode: str = "copy-on-write",
        to_branch: str | None = None,
        match=None,
        mark=None,
        add=None,
    ) -> MD.Snapshot:
        """The one row-level path: DELETE, UPDATE, MERGE and
        overwrite-by-filter all run plan -> mark -> write -> commit here.

        ``op`` ("delete" | "update" | "merge") names the isolation
        property ``write.<op>.isolation-level``.  ``clauses`` is the
        ordered list of ``("delete" | "update", sets)`` actions.
        Marking gives every candidate row the 1-based index of the
        clause it elects, or 0 when it stays untouched:

        - neither ``match`` nor ``mark``: an expression DELETE/UPDATE,
          ``prune`` evaluated row-locally as ``coalesce(prune, false)``;
        - ``match(df) -> matching rows``: a join-powered predicate (SQL
          subqueries).  Under copy-on-write its ``(__file_path,
          __pos)`` identities are persisted once and joined back;
          ``prune`` only narrows the candidate files;
        - ``mark(df) -> df with __clause``: MERGE's target⋈source join
          over the ``t``-aliased target.

        ``prune`` plans the candidate files; None means the op may act
        on any row of any file, so every file is a candidate and no
        matched-file probe can narrow them.  ``cond`` is the isolation
        condition (None = unconditional).  Modes:

        - ``copy-on-write`` rewrites only the candidate files holding a
          marked row (reference SparkCopyOnWriteScan.java:143-171), and
          a pure expression DELETE drops strict full matches from
          metadata alone (SparkTable.java:87-91);
        - ``merge-on-read`` writes the marked rows' positions as a
          position-delete file (SparkPositionDeltaWrite.java);
        - ``merge-on-read-dv`` writes them as deletion vectors.

        Both merge-on-read modes write updated rows as new data files.
        ``add()`` returns extra data entries committed with the op
        (MERGE inserts, overwrite-by-filter's new rows).

        Invariants, for every op and mode: the commit validates that
        every file the op planned against is still live, and that no
        concurrent append might hold rows matching ``cond`` (serializable
        isolation, unless the op's isolation level is ``snapshot``);
        every surviving or updated row keeps its ``_row_id``."""
        if mode not in _ROW_LEVEL_MODES:
            raise ValueError(
                f"unknown row-level mode {mode!r}; expected one of "
                f"{', '.join(_ROW_LEVEL_MODES)}"
            )
        # 1. plan — against the branch head for branch-scoped ops
        entries = self._branch_entries(to_branch)
        if entries is None:
            entries = self._entries()
        base_seq = self.meta.last_sequence_number
        plan = {"full": [], "partial": []}
        if clauses:
            plan = self._plan_cow(
                prune if prune is not None else E.AlwaysTrue(), entries
            )
        cands = plan["full"] + plan["partial"]
        row_local = match is None and mark is None
        if row_local:
            mark = self._where_mark(prune if prune is not None else E.AlwaysTrue())
        dropped: list[str] = []
        touched: list[str] = []
        deletes: list[dict] = []
        new: list[dict] = []
        superseded: set = set()
        # 2-3. mark and write
        if cands and mode == "copy-on-write":
            # strict stats prove every row of a full match is marked when
            # the planning predicate IS the row condition
            full = plan["full"] if row_local else []
            rest = plan["partial"] if row_local else cands
            ids = hits = None
            if match is not None:
                ids = match(
                    self._read_files(
                        cands, with_deletes=True, with_pos=True, entries=entries
                    )
                ).select("__file_path", "__pos", F.lit(1).alias("__clause")).persist()
                hits = ids
                mark = lambda df: df.join(  # noqa: E731
                    ids, ["__file_path", "__pos"], "left"
                ).fillna(0, ["__clause"])
            elif prune is not None and rest:
                probe = self._read_files(
                    rest, with_deletes=True, with_file_path=True, entries=entries
                )
                hits = mark(probe.alias("t")).filter(F.col("__clause") > 0)
            try:
                touched = (
                    self._touched_file_paths(hits) if hits is not None else list(rest)
                )
                if all(kind == "delete" for kind, _ in clauses):
                    dropped = full
                else:
                    touched = full + touched
                new = self._cow_rewrite(
                    touched, mark, clauses, entries, with_pos=ids is not None
                )
            finally:
                if ids is not None:
                    ids.unpersist()
        elif cands:
            updates = any(kind == "update" for kind, _ in clauses)
            df = self._read_files(
                cands, with_deletes=True, with_pos=True, with_lineage=updates,
                entries=entries,
            ).alias("t")
            if match is not None:
                hits = match(df).withColumn("__clause", F.lit(1))
            else:
                hits = mark(df).filter(F.col("__clause") > 0)
            if updates:
                hits = hits.persist()
            try:
                if mode == "merge-on-read":
                    deletes = self._posdel_entries(hits)
                else:
                    deletes, superseded = self._dv_entries(hits, cands, entries)
                if deletes and updates:
                    new = self._write_files(self._apply_clauses(hits, clauses))
            finally:
                if updates:
                    hits.unpersist()
        inserted = add() if add is not None else []
        # 4. commit
        if mode == "copy-on-write":
            mode = "metadata+cow" if dropped and not touched else "cow"
        summary = {
            "candidate-files": len(cands) - len(dropped),
            "rewritten-files": len(touched),
            "deleted-files": len(dropped),
            "delete-files": len(deletes),
            "mode": mode,
        }
        if op == "merge":
            summary["merged-files"] = len(touched)
            summary["inserted-files"] = len(inserted)
        operation = "delete" if op == "delete" and add is None else "overwrite"
        added = deletes + new + inserted
        gone = set(dropped) | set(touched)
        if added and not gone and not superseded:
            # row delta: only new files, so the fast-append path writes
            # just a delta manifest; both validations rerun per attempt
            return self._commit(
                operation,
                summary=summary,
                append_entries=added,
                validate_live_paths=cands,
                validate_isolation=(cond, op, base_seq),
                to_branch=to_branch,
            )

        def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
            _validate_files_still_live(current, cands)
            self._validate_no_conflicting_appends(current, base_seq, cond, op)
            out = current.file_path.isin(gone)
            if superseded:
                out |= pd.Series(
                    [(p, d) in superseded for p, d in zip(current.file_path, current.dv)],
                    index=current.index,
                )
            add_e = M.entries_dataframe(
                [dict(e, sequence_number=seq, snapshot_id=0) for e in added]
            )
            return M.concat_entries([current[~out], add_e])

        return self._commit(operation, build, summary, to_branch=to_branch)

    def _dv_entries(
        self, hits: DataFrame, paths: list[str], entries: pd.DataFrame
    ) -> tuple[list[dict], set]:
        """Deletion-vector delete files for the marked rows ``hits``
        (``__file_path``/``__pos``): one roaring bitmap per touched data
        file in a Puffin sidecar, MERGED with any existing DV on the
        same file so the "one DV per data file, new supersedes old" rule
        holds at write time.  Returns the new entries and the
        ``(puffin path, dv)`` keys of the entries they supersede."""
        from iceberg_geo_poc_spark.table import deletion_vectors as DVEC

        touched = set(paths)
        merge_rows: list[tuple[str, str, int, int]] = []
        superseded: set[tuple[str, str]] = set()
        for r in entries[entries.content == "dv"].itertuples():
            d = json.loads(r.dv)
            if d["referenced"] in touched:
                merge_rows.append(
                    (r.file_path, d["referenced"], int(d["offset"]), int(d["length"]))
                )
                superseded.add((r.file_path, r.dv))
        tuples = hits.select(
            F.col("__file_path").alias("file_path"), F.col("__pos").alias("pos")
        )
        if merge_rows:
            tuples = tuples.unionByName(
                DVEC.dv_deletes_df(self.spark, merge_rows).selectExpr(
                    "__file_path AS file_path", "__pos AS pos"
                )
            )
        packed = DVEC.pack_tuples(tuples)
        if not packed:
            return [], set()
        snap = self.current_snapshot()
        data, descs = DVEC.write_dv_file(
            {path: (blob, card) for path, blob, card in packed},
            snap.snapshot_id if snap else 0,
            snap.sequence_number if snap else 0,
        )
        dv_path = os.path.join(
            self.location, "deletes", f"dv-{uuid.uuid4().hex[:12]}.puffin"
        )
        MD.backend_for(self.location).put(dv_path, data)
        part_of = {
            r.file_path: r.partition
            for r in entries[entries.content == "data"].itertuples()
        }
        new_entries = [
            {
                "content": "dv",
                "file_path": dv_path,
                "file_size": len(data),
                "record_count": d["cardinality"],
                "partition": part_of.get(d["referenced"], json.dumps({})),
                "lower": json.dumps({}),
                "upper": json.dumps({}),
                "nulls": json.dumps({}),
                "bbox": json.dumps({}),
                "dv": json.dumps(
                    {
                        "referenced": d["referenced"],
                        "offset": d["offset"],
                        "length": d["length"],
                    }
                ),
            }
            for d in descs
        ]
        return new_entries, superseded

    def _modular_footer_key(self) -> str | None:
        return self.meta.properties.get("write.parquet.encryption.footer-key")

    def _sidecar_read(self, paths: list[str], ddl: str) -> DataFrame:
        """Read delete-sidecar parquet (posdel/eqdel), decrypting when
        the table uses Parquet modular encryption — sidecars are sealed
        with the same footer master key as the data files."""
        if self._modular_footer_key():
            from iceberg_geo_poc_spark.table import parquet_crypto as PC

            return PC.read_encrypted_df(self.spark, paths, ddl, PC.master_keys())
        return _read_parquet_any(self.spark, paths)

    def _sidecar_write(
        self, df: DataFrame, content: str, extra: dict | None = None
    ) -> list[dict]:
        """Persist a delete sidecar (posdel/eqdel) and return manifest
        entries.  On modular-encrypted tables the sidecar routes through
        the encrypted pyarrow writer under the footer key — an equality
        delete carries column VALUES, which must not land plaintext.
        Delete entries keep full stats of their own columns: the table's
        metrics policy is about its data columns.

        One file per delete commit is the default (delete batches are
        small); ``write.delete.distribution-count`` > 1 keeps N writer
        tasks for GDPR-scale mass deletes, where funneling billions of
        (path, pos) tuples through one task is the bottleneck — the
        read side merges any number of sidecar files per commit."""
        stage, final_dir = self._stage_dir("deletes")
        n_out = int(
            self.meta.properties.get("write.delete.distribution-count", 1)
        )
        df = df.repartition(n_out) if n_out > 1 else df.coalesce(1)
        fkey = self._modular_footer_key()
        if fkey:
            from iceberg_geo_poc_spark.table import parquet_crypto as PC

            files = PC.write_encrypted_files(
                df, stage, [], PC.master_keys(), fkey, None
            )
        else:
            df.write.parquet(stage)
            files = [
                dict(zip(("record_count", "file_size", "lower", "upper", "nulls"),
                         M.harvest_footer_stats(p)), file_path=p)
                for p in _list_parquet(stage)
            ]
        entries = [
            {
                "content": content,
                "file_path": f["file_path"],
                "file_size": f["file_size"],
                "record_count": f["record_count"],
                "partition": json.dumps({}),
                "lower": json.dumps(f["lower"]),
                "upper": json.dumps(f["upper"]),
                "nulls": json.dumps(f["nulls"]),
                "bbox": json.dumps({}),
                **(extra or {}),
            }
            for f in files
            if f["record_count"]
        ]
        return self._finalize_staged(entries, stage, final_dir)

    def _posdel_entries(self, matches: DataFrame) -> list[dict]:
        """Persist ``(file_path, pos)`` tuples of ``matches`` (which must
        carry ``__file_path``/``__pos``) as a position-delete parquet and
        return its manifest entries (reference SparkPositionDeltaWrite)."""
        posdel = matches.select(
            F.col("__file_path").alias("file_path"), F.col("__pos").alias("pos")
        )
        return self._sidecar_write(posdel, "posdel")

    def _stage_dir(self, kind: str) -> tuple[str, str | None]:
        """(spark-writable stage dir, object-store final dir or None).

        POSIX locations write in place; object-store locations stage on
        local disk and upload via ``_finalize_staged``."""
        rel = uuid.uuid4().hex[:12]
        if FIO.io_for(self.location).is_posix:
            out = os.path.join(self.location, kind, rel), None
        else:
            import tempfile

            out = (
                os.path.join(tempfile.mkdtemp(prefix="igps_stage_"), rel),
                self.location.rstrip("/") + "/" + kind + "/" + rel,
            )
        # recorded for abort cleanup (_write_files); one in-flight write
        # per Table handle — racing writers use separate handles, as the
        # multiprocess commit tests do
        self._last_stage_dir = out[0]
        return out

    def delete_by_keys(self, keys: DataFrame, key_cols: list[str] | None = None) -> MD.Snapshot:
        """Merge-on-read equality delete: persist the key tuples as an
        equality-delete file (reference DeleteFile equality_ids,
        api/.../DeleteFile.java).  Visibility follows Iceberg's sequence
        rule (DeleteFileIndex.java:122-130): the delete suppresses
        matching rows only in data files with a strictly LOWER sequence
        number, so rows appended after the delete keep the key.  That
        sequence rule IS the isolation story here: a concurrent append
        commits with a higher sequence number and is untouched by
        definition, so no serializable-conflict check applies (unlike
        predicate DELETE/UPDATE/MERGE, whose stale plans would MISS
        matching rows).
        """
        if key_cols is None:
            idf = self.meta.properties.get("identifier-fields")
            key_cols = json.loads(idf) if idf else list(keys.columns)
        unknown = [c for c in key_cols if c not in self.columns()]
        if unknown:
            raise KeyError(f"equality-delete key columns not in table: {unknown}")
        entries = self._sidecar_write(
            keys.select(*key_cols).distinct(),
            "eqdel",
            extra={"eq_cols": json.dumps(key_cols)},
        )

        # equality deletes need no file-liveness validation: they apply
        # by key to any lower-sequence data file, whatever compaction does
        return self._commit(
            "delete",
            summary={"equality-delete-files": len(entries)},
            append_entries=entries,
        )

    def delete_matching(
        self,
        match,
        prune: E.Expr | None = None,
        mode: str = "copy-on-write",
        to_branch: str | None = None,
    ) -> MD.Snapshot:
        """DELETE whose predicate needs relational power beyond a
        row-local expression — subquery ``IN (SELECT …)`` / null-aware
        ``NOT IN (SELECT …)`` / multi-column IN (reference
        TestDelete.java:748-823; Spark plans these as semi/anti joins).

        ``match`` maps the read frame — which carries ``__file_path`` /
        ``__pos`` row identity — to its MATCHING subset via arbitrary
        DataFrame ops (the sql dispatcher builds semi and null-aware
        anti joins).  ``prune`` is the inclusive conjunction of the
        predicate's join-free conjuncts: it only SHRINKS the candidate
        file list via manifest stats; the full predicate always runs in
        ``match``.  Scale shape: candidate files stream through one
        distributed join per subquery — no driver-side collect of the
        subquery values, so a 10^9-row subquery costs one shuffle, not
        driver memory.

        Isolation is conservative: a join predicate cannot be
        stats-evaluated against concurrently appended files, so ANY
        concurrent append conflicts (the unconditional-DELETE posture).
        Liveness of every candidate file is validated at commit, and
        survivors keep their ``_row_id``, as for every row-level op."""
        return self._row_level(
            "delete", [("delete", None)], prune, None, mode, to_branch,
            match=match,
        )

    def update_matching(
        self,
        set_exprs: dict[str, object],
        match,
        prune: E.Expr | None = None,
        mode: str = "copy-on-write",
        to_branch: str | None = None,
    ) -> MD.Snapshot:
        """UPDATE with a join-powered predicate (subquery IN / NOT IN —
        reference TestUpdate's subquery cases); same ``match``/``prune``
        contract and conservative isolation as ``delete_matching``."""
        return self._row_level(
            "update", [("update", set_exprs)], prune, None, mode, to_branch,
            match=match,
        )

    def update(
        self,
        set_exprs: dict[str, object],
        where: E.Expr,
        mode: str = "copy-on-write",
        to_branch: str | None = None,
    ) -> MD.Snapshot:
        """UPDATE through the row-level core.  Copy-on-write rewrites the
        files holding a matching row, applying SET via
        when(cond, new).otherwise(old); merge-on-read deletes each
        matched row's position and writes the updated rows as a new data
        file (reference SparkPositionDeltaOperation /
        TestMergeOnReadUpdate).  Updated rows keep their ``_row_id``.

        ``where=None`` is the unconditional form: every row updates,
        and serializable isolation treats the condition as always-true
        (any concurrent append conflicts).  ``to_branch`` scopes the
        whole op to a branch head (WAP-branch DML).  As for every
        row-level op, the commit validates that every planned file is
        still live and isolation under ``where``."""
        return self._row_level(
            "update", [("update", set_exprs)], where, where, mode, to_branch
        )
    def merge(
        self,
        source: DataFrame,
        on: list,
        when_matched_update: dict[str, object] | None = None,
        when_matched_delete: bool = False,
        when_not_matched_insert: bool = True,
        mode: str = "copy-on-write",
        matched_clauses: list[tuple] | None = None,
        when_not_matched_condition: str | None = None,
        not_matched_by_source_clauses: list[tuple] | None = None,
        when_not_matched_insert_values: dict[str, object] | None = None,
        not_matched_clauses: list[tuple] | None = None,
        to_branch: str | None = None,
    ) -> MD.Snapshot:
        """MERGE INTO as engine API (SQL MERGE needs a JVM catalog;
        SURVEY §2.4 documents the API form), run through the row-level
        core.  Files whose key ranges overlap the source's are the
        candidates.  Copy-on-write rewrites only the candidates holding
        a row some clause acts on; merge-on-read turns those rows into
        position deletes or deletion vectors (+ a new data file when
        updating) and rewrites no data file (reference
        TestMergeOnReadMerge).  Updated rows keep their ``_row_id`` in
        every mode, and the commit validates that every candidate file
        is still live and isolation under the source key-range
        predicate (unconditional with by-source clauses).
        Cardinality: an error is
        raised only when a TARGET row matches multiple source rows and
        a matched clause exists (reference TestMerge.java:882);
        duplicate source keys that match nothing legally insert
        (TestMerge.java:527 — the empty-target insert-only merge).

        ``matched_clauses`` is the CONDITIONAL multi-clause form
        (reference TestMerge: ``WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE ...`` — clauses evaluate IN ORDER, the
        first whose condition holds wins per row, rows matching no
        clause pass through unchanged): a list of
        ``(condition_sql | None, "update" | "delete", set_dict | None)``
        where the condition sees the join under ``t``/``s`` aliases.
        Overrides the single-clause kwargs when given.
        ``when_not_matched_condition`` gates INSERT the same way
        (``s``-aliased columns).

        ``not_matched_by_source_clauses`` is the by-SOURCE family
        (reference Spark 3.5 TestMerge.java:116-177 — ``WHEN NOT
        MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE``): same
        ordered-clause shape, applied to TARGET rows whose key matches
        no source row; conditions and SET values may reference only
        ``t``-aliased columns (there is no source row).

        ``on`` entries are either a shared column name or a
        ``(target_col, source_col)`` pair for differently-named equi
        keys (reference TestMerge ``ON t.id == s.value``).
        ``when_not_matched_insert_values`` is the explicit
        ``INSERT (col, ...) VALUES (expr, ...)`` form: target-column ->
        Column/literal (``s``-aliased refs allowed); unlisted columns
        insert as typed NULL.  Without it, INSERT * maps source columns
        by name.  ``not_matched_clauses`` is the ordered MULTI-clause
        insert form (reference testMergeWithMultipleNotMatchedActions):
        a list of ``(condition_sql | None, values_dict | None)`` — the
        first clause whose condition holds wins per unmatched source
        row, ``values_dict=None`` meaning INSERT *; overrides the
        single-clause kwargs."""
        on_pairs = [
            (k, k) if isinstance(k, str) else (k[0], k[1]) for k in on
        ]
        t_on = [t for t, _ in on_pairs]
        s_on = [s for _, s in on_pairs]
        # ordered NOT MATCHED insert clauses (reference
        # testMergeWithMultipleNotMatchedActions): explicit list wins;
        # else the single-clause kwargs build one
        if not_matched_clauses is None:
            insert_clauses = (
                [(when_not_matched_condition, when_not_matched_insert_values)]
                if when_not_matched_insert
                else []
            )
        else:
            insert_clauses = list(not_matched_clauses)
        if matched_clauses is None:
            if when_matched_update and when_matched_delete:
                raise ValueError("choose one of update/delete for matched rows")
            matched_clauses = []
            if when_matched_update:
                matched_clauses.append((None, "update", when_matched_update))
            if when_matched_delete:
                matched_clauses.append((None, "delete", None))
        bs_clauses = not_matched_by_source_clauses or []
        for _cond, kind, sets in list(matched_clauses) + list(bs_clauses):
            if kind not in ("update", "delete"):
                raise ValueError(f"matched clause kind must be update/delete: {kind!r}")
            if kind == "update" and not sets:
                raise ValueError("update clause needs a SET dict")
        # Cardinality (reference SparkMergeRows): error ONLY when a
        # target row would be touched by >1 source row.  Duplicate
        # source keys alone are legal (they may all be inserts), so the
        # target probe runs only when duplicates exist AND a matched
        # clause could act on them.
        if matched_clauses:
            dup_keys = (
                source.groupBy(*s_on).count().filter(F.col("count") > 1).drop("count")
            )
            if dup_keys.limit(1).count():
                for tc, sc in on_pairs:
                    if tc != sc:
                        dup_keys = dup_keys.withColumnRenamed(sc, tc)
                hit = (
                    dup_keys.join(
                        self.to_df(select=t_on, ref=to_branch)
                        .select(*t_on)
                        .distinct(),
                        on=t_on,
                        how="left_semi",
                    )
                    .limit(1)
                    .count()
                )
                if hit:
                    raise ValueError(
                        "MERGE cardinality violation: a target row matches "
                        "multiple source rows"
                    )
        # prune candidate files by source key min/max (broadcast-collected);
        # by-source clauses can touch ANY target row, so they leave no
        # predicate: no file pruning, no narrowing probe and an
        # unconditional conflict check
        key_pred: E.Expr | None = None
        if not bs_clauses:
            key_pred = E.AlwaysTrue()
            bounds = source.agg(
                *[F.min(s).alias(f"min_{s}") for s in s_on],
                *[F.max(s).alias(f"max_{s}") for s in s_on],
            ).collect()[0]
            for tc, sc in on_pairs:
                lo, hi = bounds[f"min_{sc}"], bounds[f"max_{sc}"]
                if lo is not None:
                    key_pred = key_pred & E.ge(tc, _plain(lo)) & E.le(tc, _plain(hi))
        # one target⋈source join marks every target row: matched clauses
        # elect over matched rows, by-source clauses over unmatched ones.
        # An explicit never-null column tells them apart (a key-only
        # source has no other column to test).  Matched clauses may
        # reference source-only columns (e.g. s.op), so they join the
        # FULL source; a by-source-only MERGE joins DISTINCT keys so
        # duplicate source keys cannot fan out target rows
        src = source if matched_clauses else source.select(*s_on).distinct()
        src = src.withColumn("__s_exists", F.lit(True)).alias("s")

        def mark(t: DataFrame) -> DataFrame:
            marked = t.join(src, on=_on_condition(on_pairs), how="left")
            hit = F.col("s.__s_exists").isNotNull()
            return marked.withColumn(
                "__clause",
                _clause_index(
                    [(hit, c) for c, _k, _s in matched_clauses]
                    + [(~hit, c) for c, _k, _s in bs_clauses]
                ),
            )

        def inserts() -> list[dict]:
            return self._merge_insert_entries(
                source, on_pairs, insert_clauses, ref=to_branch
            )

        # serializable MERGE conflict check uses the source key-range
        # predicate (a conservative superset of the ON condition)
        return self._row_level(
            "merge",
            [(kind, sets) for _c, kind, sets in [*matched_clauses, *bs_clauses]],
            key_pred,
            key_pred,
            mode,
            to_branch,
            mark=mark,
            add=inserts if insert_clauses else None,
        )

    def _merge_insert_entries(
        self,
        source: DataFrame,
        on_pairs: list[tuple],
        insert_clauses: list[tuple],
        ref: str | None = None,
    ) -> list[dict]:
        """Write the NOT-MATCHED insert rows of a MERGE: source rows whose key matches no target row elect the
        FIRST insert clause whose condition holds (reference
        testMergeWithMultipleNotMatchedActions — ordered, first match
        wins, rows electing none drop); each clause projects either
        through its explicit ``INSERT (col, ...) VALUES (expr, ...)``
        mapping or by name (INSERT *); unlisted/missing columns insert
        as typed NULL."""
        t_on = [t for t, _ in on_pairs]
        s_on = [s for _, s in on_pairs]
        target_cols = self.columns()
        existing_keys = (
            self.to_df(select=t_on, ref=ref).select(*t_on).distinct()
        )
        for tc, sc in on_pairs:
            if tc != sc:
                existing_keys = existing_keys.withColumnRenamed(tc, sc)
        anti = source.join(existing_keys, on=s_on, how="left_anti").alias("s")
        marked = anti.withColumn(
            "__ins",
            _clause_index([(F.lit(True), c) for c, _v in insert_clauses]),
        )
        types = dict(self._ddl_types())
        parts = []
        for i, (_cond, insert_values) in enumerate(insert_clauses, 1):
            rows_i = marked.filter(F.col("__ins") == i).drop("__ins")
            if insert_values:
                bad = [c for c in insert_values if c not in target_cols]
                if bad:
                    raise ValueError(f"INSERT targets unknown columns: {bad}")
                cols = []
                for c in target_cols:
                    if c in insert_values:
                        v = _as_column(insert_values[c])
                        cols.append(v.cast(types[c]).alias(c))
                    else:
                        cols.append(F.lit(None).cast(types[c]).alias(c))
                rows_i = rows_i.select(*cols)
            else:
                # INSERT * maps by NAME; a differently-named join key
                # cannot map, and a NULL key would corrupt the table
                # silently — fail like the reference's analysis error
                unmappable = [
                    tc
                    for tc, sc in on_pairs
                    if tc != sc and tc not in rows_i.columns
                ]
                if unmappable:
                    raise ValueError(
                        f"INSERT * cannot map join key column(s) {unmappable} "
                        "absent from the source; use INSERT (cols) VALUES"
                    )
                rows_i = rows_i.select(
                    *[c for c in rows_i.columns if c in target_cols]
                )
                for c in [c for c in target_cols if c not in rows_i.columns]:
                    # typed NULL: an untyped lit(None) writes a VOID parquet
                    # column that later vectorized reads reject
                    rows_i = rows_i.withColumn(c, F.lit(None).cast(types[c]))
                rows_i = rows_i.select(*target_cols)
            parts.append(rows_i)
        new_rows = parts[0]
        for p in parts[1:]:
            new_rows = new_rows.unionByName(p)
        if new_rows.limit(1).count():
            return self._write_files(new_rows)
        return []

    # ------------------------------------------------------------------
    # reading helpers
    # ------------------------------------------------------------------
    def _read_files(
        self,
        paths: list[str],
        with_deletes: bool = False,
        with_pos: bool = False,
        entries: pd.DataFrame | None = None,
        with_lineage: bool = False,
        _skip_defaults: bool = False,
        with_file_path: bool = False,
        _skip_inject: bool = False,
    ) -> DataFrame:
        if not paths:
            return self._empty_df()
        # partition-value INJECTION (Delta Lake snapshot migration,
        # reference BaseSnapshotDeltaLakeTableAction): Delta data files
        # physically OMIT identity partition columns — their values live
        # in the commit log and ride in each manifest entry's partition
        # tuple.  Paths group by partition tuple (bounded by tuple
        # count, not files); each group is one plain scan plus literal
        # columns, so pushdown/codegen survive and the union adds no
        # shuffle.  Identity transforms only: every row's value IS the
        # partition value, so overwriting files that do carry the
        # column (post-migration engine appends) is a no-op.
        if (
            not _skip_inject
            and self.meta.properties.get("read.inject-partition-values")
            == "true"
        ):
            ent0 = entries if entries is not None else self._entries()
            dent = ent0[ent0.content == "data"]
            part_of = dict(zip(dent.file_path, dent.partition))
            groups: dict[str, list[str]] = {}
            for p in paths:
                groups.setdefault(part_of.get(p) or "{}", []).append(p)
            types = dict(self._ddl_types())
            parts = []
            for pj, ps in sorted(groups.items()):
                sub = self._read_files(
                    ps,
                    with_deletes=with_deletes,
                    with_pos=with_pos,
                    entries=ent0,
                    with_lineage=with_lineage,
                    _skip_defaults=_skip_defaults,
                    with_file_path=with_file_path,
                    _skip_inject=True,
                )
                for cname, v in json.loads(pj).items():
                    if cname in types:
                        sub = sub.withColumn(
                            cname, F.lit(v).cast(types[cname])
                        )
                parts.append(sub)
            df = parts[0]
            for extra in parts[1:]:
                df = df.unionByName(extra)
            return df
        # initial-default application (Iceberg v3 default values): files
        # whose commit sequence predates a column's evolution read the
        # column's initial-default for EVERY row.  The path list splits
        # into groups by which defaulted columns each file predates
        # (bounded by the number of schema evolutions, not files); each
        # group is a plain scan — predicate pushdown and codegen are
        # preserved per branch, and the union adds no shuffle.
        defaults = {
            c: d
            for c, d in getattr(self.meta, "column_defaults", {}).items()
            if d.get("initial") is not None
        }
        if defaults and not _skip_defaults:
            ent0 = entries if entries is not None else self._entries()
            dent = ent0[ent0.content == "data"]
            seq_of = dict(zip(dent.file_path, dent.sequence_number))
            groups: dict[tuple, list[str]] = {}
            for p in paths:
                s = seq_of.get(p)
                key = (
                    tuple(
                        sorted(
                            c
                            for c, d in defaults.items()
                            if int(s) <= int(d["added-at-seq"])
                        )
                    )
                    if s is not None
                    else ()
                )
                groups.setdefault(key, []).append(p)
            if any(groups):
                types = dict(self._ddl_types())
                parts = []
                for key, ps in sorted(groups.items()):
                    sub = self._read_files(
                        ps,
                        with_deletes=with_deletes,
                        with_pos=with_pos,
                        entries=ent0,
                        with_lineage=with_lineage,
                        _skip_defaults=True,
                        with_file_path=with_file_path,
                        _skip_inject=True,
                    )
                    for c in key:
                        sub = sub.withColumn(
                            c, F.lit(defaults[c]["initial"]).cast(types[c])
                        )
                    parts.append(sub)
                df = parts[0]
                for extra_part in parts[1:]:
                    df = df.unionByName(extra_part)
                return df
        fmt = self.file_format
        # row lineage needs per-row positions; ORC has none here (same
        # limit as position deletes) — such tables still expose the
        # lineage columns to callers, but as untracked NULLs
        synth_lineage = with_lineage and fmt in ("parquet", "avro")
        ent = entries
        if ent is None and (with_deletes or synth_lineage):
            ent = self._entries()
        # only delete files need row positions: a read with none to
        # apply references no _metadata column at all
        with_deletes = with_deletes and bool(
            ent.content.isin(("posdel", "dv", "eqdel")).any()
        )
        # with_file_path keeps ONLY __file_path in the output (works on
        # every format — _metadata.file_path needs no row index), for
        # the CoW matched-file probes; with_pos keeps __file_path+__pos
        need_pos = with_pos or with_deletes or synth_lineage or with_file_path
        if fmt == "avro":
            # Python DataSource reader; synthesizes __file_path/__pos
            # during its sequential decode (so avro supports position
            # deletes, which ORC cannot)
            from iceberg_geo_poc_spark.table import avro_format as AV

            df = AV.read_avro_df(
                self.spark, paths, self.meta.schema_ddl, with_pos=need_pos
            )
            df = self._to_logical(df)
        elif fmt == "parquet" and self.meta.properties.get(
            "write.parquet.encryption.footer-key"
        ):
            # modular-encrypted data files: distributed in-place Arrow
            # scan with the wrapped-key decryption properties
            from iceberg_geo_poc_spark.table import parquet_crypto as PC

            df = PC.read_encrypted_df(
                self.spark,
                paths,
                self.meta.schema_ddl,
                PC.master_keys(),
                need_pos=need_pos,
            )
            df = self._to_logical(df)
        elif fmt == "parquet" and not FIO.io_for(paths[0]).is_posix:
            # object-store location Spark cannot reach natively (mock /
            # test filesystems): driver-side Arrow read through FileIO
            # with synthesized file/pos columns.  On a real cluster the
            # location is a Hadoop-reachable URI (s3a://) and the branch
            # below reads it executor-side — this path guards its size.
            df = _fileio_parquet_df(
                self.spark, paths, FIO.io_for(paths[0]), need_pos=need_pos
            )
            expect = []
            for fdef in _ddl_fields(self.meta.schema_ddl):
                name, typ = fdef.strip().split(None, 1)
                expect.append(
                    F.col(name).cast(typ).alias(name)
                    if name in df.columns
                    else F.lit(None).cast(typ).alias(name)
                )
            if need_pos:
                expect += [F.col("__file_path"), F.col("__pos")]
            df = self._to_logical(df.select(*expect))
        else:
            read_ddl = self.meta.schema_ddl
            if synth_lineage and fmt == "parquet":
                # physically materialized lineage columns (written by
                # CoW rewrites / compaction) read back; files lacking
                # them yield NULLs and fall through to synthesis below
                read_ddl = read_ddl + _LINEAGE_DDL
            # name mapping (reference NameMapping.java, property
            # schema.name-mapping.default): imported files whose
            # physical columns use mapped names read those columns
            # under the mapped name (typed as the canonical column)
            # and coalesce per row — native files see NULL alts, so
            # the mix is seamless and stays one vectorized scan
            mapping = {}
            if fmt == "parquet":
                mapping = json.loads(
                    self.meta.properties.get(
                        "schema.name-mapping.default", "{}"
                    )
                )
                if mapping:
                    types = {
                        f.strip().split(None, 1)[0]: f.strip().split(None, 1)[1]
                        for f in _ddl_fields(self.meta.schema_ddl)
                    }
                    read_ddl = read_ddl + "".join(
                        f", {alt} {types[canon]}"
                        for alt, canon in mapping.items()
                    )
            reader = self.spark.read.schema(read_ddl)
            df = reader.parquet(*paths) if fmt == "parquet" else reader.format(fmt).load(paths)
            for alt, canon in mapping.items():
                df = df.withColumn(
                    canon, F.coalesce(F.col(canon), F.col(alt))
                ).drop(alt)
            for c in df.columns:
                if c.startswith("__p_"):
                    df = df.drop(c)
            df = self._to_logical(df)
            if need_pos:
                if with_pos and fmt != "parquet":
                    raise NotImplementedError(
                        "position deletes require parquet (_metadata.row_index); "
                        "use copy-on-write or equality deletes for ORC tables"
                    )
                df = df.withColumn(
                    "__file_path",
                    F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
                )
                if fmt == "parquet":
                    df = df.withColumn("__pos", F.col("_metadata.row_index"))
        if with_lineage:
            for c in _LINEAGE_COLS:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast("long"))
        if with_deletes:
            dpaths = ent[ent.content == "posdel"].file_path.tolist()
            deletes = None
            if dpaths:
                deletes = self._sidecar_read(
                    dpaths, "file_path STRING, pos BIGINT"
                ).select(
                    F.col("file_path").alias("__file_path"),
                    F.col("pos").alias("__pos"),
                )
            dv_ent = ent[ent.content == "dv"]
            if len(dv_ent):
                from iceberg_geo_poc_spark.table import deletion_vectors as DVEC

                descs = []
                for r in dv_ent.itertuples():
                    d = json.loads(r.dv)
                    descs.append(
                        (r.file_path, d["referenced"], int(d["offset"]), int(d["length"]))
                    )
                # crossover: the union below is broadcast, so a bounded
                # position count (manifest record_count = DV cardinality)
                # is decoded driver-side — one FileIO read per sidecar +
                # numpy, no Python-worker stage; above the bound the
                # decode fans out executor-side (mapInPandas)
                total_card = int(dv_ent.record_count.sum())
                if total_card <= 4_000_000:
                    dv_del = DVEC.dv_deletes_local(self.spark, descs)
                else:
                    dv_del = DVEC.dv_deletes_df(self.spark, descs)
                deletes = dv_del if deletes is None else deletes.unionByName(dv_del)
            if deletes is not None:
                df = df.join(
                    F.broadcast(deletes), on=["__file_path", "__pos"], how="left_anti"
                )
            df = self._apply_equality_deletes(df, ent)
        if synth_lineage:
            # synthesize from the manifest block for rows without a
            # materialized value: _row_id = first_row_id + position;
            # _last_updated defaults to the file's commit sequence
            data_ent = ent[ent.content == "data"]
            # a local relation (``_local_frame``), as are the two maps
            # below
            frid = data_ent.get("first_row_id", pd.Series(pd.NA, data_ent.index))
            lmap = _local_frame(
                self.spark,
                pd.DataFrame(
                    {
                        "__file_path": data_ent.file_path,
                        "__frid": frid.astype("Int64"),
                        "__fseq": data_ent.sequence_number.astype("int64"),
                    }
                ),
                "__file_path string, __frid long, __fseq long",
            )
            df = (
                df.join(F.broadcast(lmap), "__file_path", "left")
                .withColumn(
                    "_row_id",
                    F.coalesce(F.col("_row_id"), F.col("__frid") + F.col("__pos")),
                )
                .withColumn(
                    "_last_updated_sequence_number",
                    F.coalesce(
                        F.col("_last_updated_sequence_number"), F.col("__fseq")
                    ),
                )
                .drop("__frid", "__fseq")
            )
        if need_pos and not with_pos:
            df = (
                df.drop("__pos")
                if with_file_path
                else df.drop("__file_path", "__pos")
            )
        return df

    def _apply_equality_deletes(self, df: DataFrame, ent: pd.DataFrame) -> DataFrame:
        """Suppress rows matched by equality-delete files, honoring the
        sequence rule: a delete at sequence S removes matching rows only
        from data files with sequence < S.  Delete key sets are
        broadcast (the reference likewise materializes equality deletes
        in memory per task, DeleteFilter.java:160-233); compact large
        delete sets into data rewrites via maintenance."""
        if "eq_cols" not in ent.columns:
            return df
        eq = ent[ent.content == "eqdel"]
        if not len(eq):
            return df
        data_ent = ent[ent.content == "data"]
        seq_df = _local_frame(
            self.spark,
            pd.DataFrame(
                {
                    "__file_path": data_ent.file_path,
                    "__data_seq": data_ent.sequence_number.astype("int64"),
                }
            ),
            "__file_path string, __data_seq long",
        )
        df = df.join(F.broadcast(seq_df), on="__file_path", how="left")
        groups: dict[str, list[tuple[str, int]]] = {}
        for row in eq.itertuples():
            groups.setdefault(row.eq_cols, []).append(
                (row.file_path, int(row.sequence_number))
            )
        types = dict(self._ddl_types())
        for eq_cols_json, files in groups.items():
            cols = json.loads(eq_cols_json)
            ddl = ", ".join(f"{c} {types[c]}" for c in cols)
            dels = None
            for p, s in files:
                d = self._sidecar_read([p], ddl).select(*cols).withColumn(
                    "__del_seq", F.lit(s)
                )
                dels = d if dels is None else dels.unionByName(d)
            newest = dels.groupBy(*cols).agg(F.max("__del_seq").alias("__del_seq"))
            df = (
                df.join(F.broadcast(newest), on=cols, how="left")
                .filter(
                    F.col("__del_seq").isNull()
                    | (F.col("__del_seq") <= F.col("__data_seq"))
                )
                .drop("__del_seq")
            )
        return df.drop("__data_seq")


def _on_condition(on_pairs: list[tuple]):
    """Explicit t/s-aliased equi-join condition from (target_col,
    source_col) pairs — keeps both sides' key columns addressable in
    clause conditions and supports differently-named keys
    (reference TestMerge ``ON t.id == s.value``)."""
    cond = None
    for tc, sc in on_pairs:
        c = F.col(f"t.{tc}") == F.col(f"s.{sc}")
        cond = c if cond is None else (cond & c)
    return cond


def _clause_index(conds: list[tuple]):
    """1-based index of the FIRST ``(gate, condition_sql)`` pair that
    holds for the row, 0 when none does (clause-order semantics —
    reference SparkMergeRows evaluates actions in order).  ``gate`` is a
    boolean Column, ``condition_sql`` None or SQL over the join's
    ``t``/``s`` aliases."""
    expr = F.lit(0)
    for i, (gate, cond_sql) in reversed(list(enumerate(conds, 1))):
        cond = gate if cond_sql is None else (gate & F.expr(cond_sql))
        expr = F.when(cond, F.lit(i)).otherwise(expr)
    return expr


def _as_column(v):
    """A SET / INSERT VALUES value as a Column: a Column passes through,
    any other value becomes a literal."""
    return v if isinstance(v, Column) else F.lit(v)


def _plain(v):
    """Convert a Spark-collected value to a stats-comparable literal."""
    import datetime

    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return v


class Transaction:
    """Multiple operations, one atomic commit (reference Transaction).

    Data files for appends are written EAGERLY (exactly like Iceberg —
    only the metadata commit is deferred); deletes are planned lazily
    inside the commit's build function so they see both the retried
    base state and this transaction's own pending appends.  On abort,
    the transaction deletes its own pending files immediately (same
    hygiene as _write_files' abort path) — nothing referenced them, so
    no remove_orphan_files pass is needed.
    """

    def __init__(self, table: Table):
        self.table = table
        self._ops: list = []
        self._done = False
        self._pending_files: list[str] = []

    def append(self, df: DataFrame) -> "Transaction":
        entries = self.table._write_files(df)
        self._pending_files += [e["file_path"] for e in entries]

        def apply(cur: pd.DataFrame, seq: int) -> pd.DataFrame:
            add = M.entries_dataframe(
                [dict(e, sequence_number=seq, snapshot_id=0) for e in entries]
            )
            return M.concat_entries([cur, add])

        self._ops.append(apply)
        return self

    def delete(self, where: E.Expr | None) -> "Transaction":
        """Stage a copy-on-write DELETE (None = every row).  It plans
        inside the commit's build against the transaction's working
        entries, drops strict full matches and rewrites partial files
        through the table's rewrite step, so survivors keep their
        ``_row_id``."""
        t = self.table
        where = E.AlwaysTrue() if where is None else where
        mark = t._where_mark(where)

        def apply(cur: pd.DataFrame, seq: int) -> pd.DataFrame:
            plan = t._plan_cow(where, entries=cur)
            rewritten = t._cow_rewrite(
                plan["partial"], mark, [("delete", None)], cur
            )
            drop = set(plan["full"]) | set(plan["partial"])
            out = cur[~cur.file_path.isin(drop)]
            add = M.entries_dataframe(
                [dict(e, sequence_number=seq, snapshot_id=0) for e in rewritten]
            )
            return M.concat_entries([out, add])

        self._ops.append(apply)
        return self

    def commit(self) -> MD.Snapshot:
        if self._done:
            raise RuntimeError("transaction already committed/aborted")
        self._done = True

        def build(cur: pd.DataFrame, seq: int) -> pd.DataFrame:
            for op in self._ops:
                cur = op(cur, seq)
            return cur

        return self.table._commit(
            "transaction", build, {"operations": len(self._ops)}
        )

    # context-manager form: commit on clean exit, abort on exception
    def __enter__(self) -> "Transaction":
        return self

    def abort(self) -> None:
        """Drop the transaction and delete its eagerly-written pending
        files (no commit ever referenced them)."""
        self._done = True
        for p in self._pending_files:
            try:
                os.remove(p)
            except OSError:
                pass
        self._pending_files.clear()

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            self.commit()
        else:
            self.abort()
        return False


class TableScan:
    """Planned scan: pruned file list + residual filter.

    The (files-scanned, rows-returned) pair is the golden signature the
    reference asserts (TestGeometryReadersAndWriters.java validateScan
    :318-337); ``files()`` exposes it for tests."""

    def __init__(
        self,
        table: Table,
        snapshot: MD.Snapshot | None,
        where: E.Expr | None,
        select: list[str] | None = None,
        lineage: bool = False,
        metadata_columns: bool = False,
    ):
        self.table = table
        self.snapshot = snapshot
        self.where = where
        self.select = select
        self.lineage = lineage
        self.metadata_columns = metadata_columns
        self._planned: list[str] | None = None
        self._entries_cache: pd.DataFrame | None = None
        self._residual_noop: bool = False
        self._kept_manifests: list[str] | None = None
        # geometry columns whose every kept file the manifest flags as
        # point-only (the residual's JVM form); distributed planning
        # leaves it empty
        self._points: frozenset = frozenset()

    def with_runtime_filter(self, column: str, values) -> "TableScan":
        """Runtime re-pruning with an IN set discovered mid-query — the
        analogue of the reference scan accepting runtime V2 filters for
        DPP (SparkBatchQueryScan.java:134-171 SupportsRuntimeV2Filtering).
        Typical use: collect the distinct join keys of a small dimension
        side, then re-plan the fact scan so only stats-matching files
        are read.  Returns a NEW scan; residual filtering still applies
        the full predicate."""
        pred = E.in_(column, list(values))
        combined = pred if self.where is None else (self.where & pred)
        return TableScan(self.table, self.snapshot, combined, self.select)

    def files(self) -> list[str]:
        """Pruned data-file list (manifest + inclusive metrics eval).

        Also runs the STRICT evaluator per kept file: when every kept
        file fully matches the predicate, the residual row filter is
        provably a no-op and ``to_df`` elides it (the reference's
        ResidualEvaluator returning alwaysTrue per file — SURVEY §2.2 —
        collapsed to the whole-scan case).  And it reads the kept
        files' point-only flags for the geometry columns the predicate
        references."""
        if self._planned is None:
            import time as _time

            from iceberg_geo_poc_spark.table import reporting as RPT

            _t0 = _time.monotonic()
            _snap_id = self.snapshot.snapshot_id if self.snapshot else None
            _filter_desc = repr(self.where) if self.where is not None else None

            def _report(**kw):
                RPT.report(
                    self.table.location,
                    RPT.ScanReport(
                        table_location=self.table.location,
                        snapshot_id=_snap_id,
                        filter_desc=_filter_desc,
                        planning_duration_ms=(_time.monotonic() - _t0) * 1e3,
                        **kw,
                    ),
                )

            renames = self.table.meta.renames
            snap = self.snapshot or self.table.current_snapshot()
            ssum = (snap.summary or {}) if snap else {}
            mlist = snap.manifest_list() if snap else []
            # whole-snapshot bounds skip (reference ManifestGroup.java:
            # 251-264 manifest-list summaries): the merged column bounds
            # on the snapshot let a non-matching scan skip every manifest
            if self.where is not None and snap is not None:
                bounds = ssum.get("bounds")
                if bounds and not V.manifest_might_match(
                    self.where, bounds, renames
                ):
                    self._planned = []
                    self._residual_noop = True
                    self._kept_manifests = []
                    _report(
                        total_data_files=0,
                        result_data_files=0,
                        skipped_data_files=0,
                        skipped_data_manifests=len(mlist) or 1,
                    )
                    return self._planned
            # per-MANIFEST pruning: fast appends leave a manifest list
            # with per-manifest data bounds — manifests whose range the
            # predicate cannot match are never read (data planning only;
            # delete-bearing manifests still feed to_df's delete frame)
            mb = ssum.get("manifest-bounds", {})
            if self.where is not None and len(mlist) > 1:
                kept_m = [
                    m
                    for m in mlist
                    if m not in mb
                    or V.manifest_might_match(self.where, mb[m], renames)
                ]
            else:
                kept_m = list(mlist)
            self._kept_manifests = kept_m
            skipped_m = len(mlist) - len(kept_m)
            # distributed planning fallback: above ~10^5 surviving
            # entries the manifests themselves are big data — prune them
            # as a Spark filter over the manifest parquet instead of
            # driver pandas (the reference's distributed planning mode).
            # Strict residual elision is skipped (conservative).
            if self.where is not None and self._entries_cache is None and kept_m:
                from iceberg_geo_poc_spark.table import spark_planning as SP

                mpaths = [os.path.join(self.table.location, m) for m in kept_m]
                threshold = int(
                    self.table.meta.properties.get(
                        "planning.spark-fallback-threshold",
                        SP.SPARK_PLAN_THRESHOLD,
                    )
                )
                try:
                    import pyarrow.parquet as _pq

                    # Spark-side planning needs executor-readable
                    # manifest paths; FileIO-only stores stay on the
                    # driver pandas path (their manifests are small by
                    # construction — the driver-side Arrow data path
                    # bounds such tables anyway)
                    if not FIO.io_for(mpaths[0]).is_posix:
                        n_entries = 0
                    else:
                        n_entries = sum(
                            _pq.read_metadata(p).num_rows for p in mpaths
                        )
                except OSError:
                    n_entries = 0
                if n_entries > threshold:
                    planned = SP.plan_files_spark(
                        self.table.spark, mpaths, self.where, renames
                    )
                    if planned is not None:
                        self._planned = planned
                        self._residual_noop = False
                        _report(
                            total_data_files=n_entries,
                            result_data_files=len(planned),
                            skipped_data_files=n_entries - len(planned),
                            scanned_data_manifests=len(kept_m),
                            skipped_data_manifests=skipped_m,
                            distributed_planning=True,
                        )
                        return self._planned
            entries = self._kept_entries()
            data = entries[entries.content == "data"]
            if self.where is None:
                self._planned = list(data.file_path)
                self._residual_noop = True
                kept_size = int(data.file_size.sum()) if len(data) else 0
            else:
                sv = V.StatsView(data, renames)
                keep = V.might_match(self.where, sv)
                strict = V.all_match(self.where, sv)
                self._planned = list(data.file_path.to_numpy()[keep])
                self._residual_noop = bool(strict[keep].all())
                if keep.any():
                    geo_refs = self.where.references() & self.table.geo_fields.keys()
                    flags = {c: sv.points(c) for c in geo_refs}
                    self._points = frozenset(
                        c
                        for c, f in flags.items()
                        if f is not None and (f[keep] == 1).all()
                    )
                kept_size = int(data.file_size.to_numpy()[keep].sum()) if len(data) else 0
            _report(
                total_data_files=int(len(data)),
                result_data_files=len(self._planned),
                skipped_data_files=int(len(data)) - len(self._planned),
                result_delete_files=int((entries.content != "data").sum()),
                scanned_data_manifests=len(kept_m) if mlist else 1,
                skipped_data_manifests=skipped_m,
                result_file_size_bytes=kept_size,
            )
        return self._planned

    def _kept_entries(self) -> pd.DataFrame:
        """Entries of the manifests surviving per-manifest pruning,
        PLUS every delete-bearing manifest (deletes must be applied to
        whatever data survives, wherever the delete entries live)."""
        snap = self.snapshot or self.table.current_snapshot()
        if snap is None:
            return M.entries_dataframe([])
        mlist = snap.manifest_list()
        kept = self._kept_manifests if self._kept_manifests is not None else mlist
        mdel = (snap.summary or {}).get("manifest-deletes", [])
        want = list(dict.fromkeys(list(kept) + [m for m in mdel if m in mlist]))
        if set(want) == set(mlist):
            return self._snapshot_entries()
        frames = [
            M.read_manifest(os.path.join(self.table.location, m)) for m in want
        ]
        if not frames:
            return M.entries_dataframe([])
        return frames[0] if len(frames) == 1 else M.concat_entries(frames)

    def _snapshot_entries(self) -> pd.DataFrame:
        if self._entries_cache is None:
            self._entries_cache = self.table._entries(self.snapshot)
        return self._entries_cache

    def total_data_files(self) -> int:
        snap = self.snapshot or self.table.current_snapshot()
        if snap is not None and "total-data-files" in (snap.summary or {}):
            return int(snap.summary["total-data-files"])
        entries = self._snapshot_entries()
        return int((entries.content == "data").sum())

    def to_df(self) -> DataFrame:
        files = self.files()
        if not files:
            df = self.table._empty_df()
            if self.lineage:
                for c in _LINEAGE_COLS:
                    df = df.withColumn(c, F.lit(None).cast("long"))
            if self.metadata_columns:
                df = (
                    df.withColumn("_file", F.lit(None).cast("string"))
                    .withColumn("_pos", F.lit(None).cast("long"))
                    .withColumn("_partition", F.lit(None).cast("string"))
                )
        else:
            df = self.table._read_files(
                files,
                with_deletes=True,
                entries=self._kept_entries(),
                with_lineage=self.lineage,
                with_pos=self.metadata_columns,
            )
            if self.metadata_columns:
                # reference MetadataColumns.java: _file / _pos /
                # _partition surfaced as reserved columns.  _partition
                # is the file's partition tuple JSON from the manifest
                # entry, attached with one broadcast map (n_files rows)
                ent = self._kept_entries()
                data_ent = ent[ent.content == "data"]
                pmap = _local_frame(
                    self.table.spark,
                    pd.DataFrame(
                        {
                            "__file_path": data_ent.file_path,
                            "_partition": data_ent.partition,
                        }
                    ),
                    "__file_path string, _partition string",
                )
                df = (
                    df.join(F.broadcast(pmap), "__file_path", "left")
                    .withColumnRenamed("__file_path", "_file")
                    .withColumnRenamed("__pos", "_pos")
                )
            if self.where is not None and not self._residual_noop:
                # inclusive pruning => full predicate re-applied as residual
                df = df.filter(
                    self.where.to_spark_column(self.table.geo_fields, self._points)
                )
        if self.select:
            df = df.select(*self.select)
        return df


def _local_frame(spark: SparkSession, pdf: pd.DataFrame, ddl: str) -> DataFrame:
    """The rows of ``pdf`` under the schema ``ddl`` as a local relation.
    A tuple list would be a Python RDD, and every job over it would
    start a Python worker.  An EMPTY pandas frame becomes an RDD scan
    too, and broadcasting it runs a job; without rows the frame is the
    ``limit(0)`` of one all-null row, an empty local relation that the
    optimizer folds out of a join."""
    if len(pdf):
        return spark.createDataFrame(pdf, ddl)
    nulls = pd.DataFrame([[None] * len(pdf.columns)], columns=pdf.columns)
    return spark.createDataFrame(nulls, ddl).limit(0)


# Driver-side Arrow reads exist ONLY for stores Spark itself cannot
# reach (test/mock filesystems); a real deployment points Spark at a
# Hadoop-reachable URI and never takes this path.  The cap keeps a
# misconfigured large table from silently funnelling through the driver.
_FILEIO_READ_CAP_BYTES = 512 * 1024 * 1024


def _fileio_parquet_df(
    spark: SparkSession, paths: list[str], fio, need_pos: bool = False
) -> DataFrame:
    """Read parquet files through a FileIO into a Spark DataFrame
    (driver-side Arrow; see cap note above).  ``need_pos`` synthesizes
    the ``__file_path``/``__pos`` columns the MoR delete protocol keys
    on, mirroring what ``_metadata.file_path``/``row_index`` provide on
    the executor-side read path."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    total = sum(fio.size(p) for p in paths)
    if total > _FILEIO_READ_CAP_BYTES:
        raise NotImplementedError(
            f"driver-side FileIO read of {total} bytes exceeds the "
            f"{_FILEIO_READ_CAP_BYTES}-byte guard; mount the store as a "
            "Spark-readable URI (s3a://...) for executor-side reads"
        )
    tables = []
    for p in paths:
        with fio.open_input(p) as f:
            t = pq_.read_table(f)
        drop = [c for c in t.column_names if c.startswith("__p_")]
        if drop:
            t = t.drop_columns(drop)
        if need_pos:
            n = t.num_rows
            t = t.append_column("__file_path", pa.array([p] * n, pa.string()))
            t = t.append_column("__pos", pa.array(range(n), pa.int64()))
        tables.append(t)
    merged = pa.concat_tables(tables, promote_options="default")
    return spark.createDataFrame(merged)


def _read_parquet_any(spark: SparkSession, paths: list[str]) -> DataFrame:
    """spark.read.parquet for POSIX paths; FileIO Arrow read otherwise
    (small files only — delete sidecars and similar)."""
    fio = FIO.io_for(paths[0])
    if fio.is_posix:
        return spark.read.parquet(*paths)
    return _fileio_parquet_df(spark, paths, fio)


def _list_parquet(root: str) -> list[str]:
    """Data files under root (parquet/orc/avro; names vary by writer)."""
    fio = FIO.io_for(root)
    if not fio.is_posix:
        return [
            p
            for p in fio.list_files(root)
            if p.rsplit("/", 1)[-1][0] not in ("_", ".")
            and p.endswith((".parquet", ".orc", ".avro"))
        ]
    out = []
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if (
                (n.endswith(".parquet") or n.endswith(".orc") or n.endswith(".avro"))
                and not n.startswith("_")
                and not n.startswith(".")
            ):
                out.append(os.path.join(dirpath, n))
    return sorted(out)


def _partition_from_path(relpath: str, pcols: list[tuple[str, PartitionField]]) -> dict:
    by_dirname = {cname: pf for cname, pf in pcols}
    out: dict = {}
    for seg in relpath.split(os.sep)[:-1]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        if k in by_dirname:
            pf = by_dirname[k]
            out[pf.name] = pf.transform.parse_path_value(unquote(v))
    return out


def _ddl_fields(ddl: str) -> list[str]:
    """Split 'a BIGINT, b STRING' into field defs (no nested commas
    support needed for our flat test schemas; nested types pass through
    Spark's own parser at read time)."""
    fields, depth, cur = [], 0, []
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            fields.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        fields.append("".join(cur).strip())
    return fields
