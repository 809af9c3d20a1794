"""Maintenance actions: compaction, snapshot expiry, orphan cleanup.

Analogues of the reference's Spark actions (reference
spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/actions/
RewriteDataFilesSparkAction.java, ExpireSnapshotsSparkAction.java,
DeleteOrphanFilesSparkAction.java) re-expressed as metadata operations
plus plain DataFrame rewrites:

- compaction: read small files, write them back, replace.  Each
  strategy decides only the order and the file count (``n_out``, from
  ``target_file_size``): sort by columns, a Hilbert key for geometry,
  or a z-value (SparkZOrderDataRewriter.java).  ``Table._write_files``
  applies them once, in place of the table's write order.  Bin-pack
  has no order: it coalesces to ``n_out`` and writes under the table's
  own settings
- expire: drop old snapshots, delete manifests + data files no longer
  reachable from any retained snapshot
- orphans: files on disk not referenced by any snapshot manifest
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import pandas as pd
import pyspark.sql.functions as F

from iceberg_geo_poc_spark.table import manifest as M
from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table.table import (
    Table,
    _list_parquet,
    _validate_files_still_live,
    order_columns,
)

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024


def _check_gc_enabled(table: Table, action: str) -> None:
    """Imported / snapshot-cloned tables reference data files they do not
    own; physical GC on them would silently delete the source table's data
    (reference forbids this via the gc.enabled table property)."""
    if table.meta.properties.get("gc.enabled", "true").lower() == "false":
        raise ValueError(
            f"cannot {action}: gc.enabled=false on table {table.location!r} "
            "(it references data files it does not own)"
        )


def _owns_path(table: Table, path: str) -> bool:
    if "://" in table.location:  # object-store URI: plain prefix ownership
        return path.startswith(table.location.rstrip("/") + "/")
    loc = os.path.abspath(table.location) + os.sep
    return os.path.abspath(path).startswith(loc)


@dataclass
class RewriteResult:
    rewritten_files: int
    added_files: int


def rewrite_data_files(
    table: Table,
    strategy: str = "binpack",
    sort_by: list[str] | None = None,
    hilbert_column: str | None = None,
    hilbert_resolution: int = 12,
    zorder_by: list[str] | None = None,
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
    min_input_files: int = 2,
) -> RewriteResult:
    """Compact data files (reference RewriteDataFilesProcedure).

    strategy: 'binpack' | 'sort' (with sort_by, ``order_columns`` terms
    such as ``"id DESC"``) | 'hilbert' (with hilbert_column) | 'zorder'
    (with zorder_by — the reference SparkZOrderDataRewriter/SparkZOrderUDF
    for non-geo columns; geo tables should prefer 'hilbert').  Only
    groups of >= min_input_files under the target size are rewritten;
    large files are left in place.

    The rewrite writes ``n_out = round(input bytes / target_file_size)``
    files (at least one).  sort/hilbert/zorder hand their order and
    ``n_out`` to ``Table._write_files``, which range-splits and sorts
    once and skips the table's write order.  binpack coalesces to
    ``n_out`` and then writes under the table's settings, so a
    range-distributed table's own split decides its file count.
    """
    entries = table._entries()
    data = entries[entries.content == "data"]
    small = data[data.file_size < target_file_size]
    if len(small) < min_input_files:
        return RewriteResult(0, 0)
    paths = small.file_path.tolist()
    # lineage read: compaction must carry _row_id (v3 row lineage) —
    # rewritten rows keep both their id and their last-updated seq
    df = table._read_files(paths, with_deletes=True, with_lineage=True)
    total_bytes = int(small.file_size.sum())
    n_out = max(1, round(total_bytes / target_file_size))
    if strategy == "binpack":
        # no order of its own: coalesce, then the table's write settings
        df, order = df.coalesce(n_out), None
    elif strategy == "sort":
        if not sort_by:
            raise ValueError("sort strategy requires sort_by")
        order = order_columns(sort_by, table.geo_fields)
    elif strategy == "hilbert":
        if not hilbert_column:
            raise ValueError("hilbert strategy requires hilbert_column")
        from iceberg_geo_poc_spark.geo.functions import as_wkb, st_hilbert

        enc = table.geo_fields.get(hilbert_column)
        order = [st_hilbert(as_wkb(hilbert_column, enc), hilbert_resolution)]
    elif strategy == "zorder":
        if not zorder_by or len(zorder_by) < 2:
            raise ValueError("zorder strategy requires >= 2 zorder_by columns")
        order = [_zvalue_column(df, zorder_by)]
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    new_entries = table._write_files(df, order, n_out)

    def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
        # MoR deletes were applied during the rewrite read, so compaction
        # of ALL data files also retires the delete files; partial
        # compaction must keep them (they may still target kept files).
        _validate_files_still_live(current, paths)
        kept = current[~current.file_path.isin(set(paths))]
        if set(paths) >= set(data.file_path):
            kept = kept[~kept.content.isin(["posdel", "eqdel", "dv"])]
        add = M.entries_dataframe(
            [dict(e, sequence_number=seq, snapshot_id=0) for e in new_entries]
        )
        return M.concat_entries([kept, add])

    table._commit(
        "replace", build, {"rewritten": len(paths), "added": len(new_entries)}
    )
    return RewriteResult(len(paths), len(new_entries))


def _zvalue_column(df, cols: list[str], bits: int = 16):
    """Interleaved-bit z-value as a pure JVM expression tree (no UDF —
    unlike the reference's SparkZOrderUDF byte-array interleave, this
    stays inside whole-stage codegen).  Numeric/date/timestamp columns
    are min-max scaled to ``bits`` bits (one small driver-side agg);
    strings fall back to a hash (bucket-like: clusters equal values,
    no lexicographic locality)."""
    from pyspark.sql.types import DateType, NumericType, TimestampType

    n = len(cols)
    bits = min(bits, 62 // n)  # keep the interleave inside a signed long
    mask = (1 << bits) - 1
    schema = {f.name: f.dataType for f in df.schema.fields}
    exprs: dict[str, object] = {}
    numeric_cols = []
    for c in cols:
        dt = schema[c]
        if isinstance(dt, DateType):
            exprs[c] = F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
            numeric_cols.append(c)
        elif isinstance(dt, TimestampType):
            exprs[c] = F.col(c).cast("double")
            numeric_cols.append(c)
        elif isinstance(dt, NumericType):
            exprs[c] = F.col(c).cast("double")
            numeric_cols.append(c)
        else:
            exprs[c] = F.pmod(F.xxhash64(F.col(c)), F.lit(mask + 1)).cast("long")
    if numeric_cols:
        row = df.agg(
            *[F.min(exprs[c]).alias(f"mn_{c}") for c in numeric_cols],
            *[F.max(exprs[c]).alias(f"mx_{c}") for c in numeric_cols],
        ).collect()[0]
    ints = []
    for c in cols:
        e = exprs[c]
        if c in numeric_cols:
            mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
            if mn is None or mx is None or mx == mn:
                e = F.lit(0).cast("long")
            else:
                e = F.floor(
                    (e - F.lit(float(mn))) / F.lit(float(mx - mn)) * mask
                ).cast("long")
                e = F.least(F.lit(mask).cast("long"), F.greatest(F.lit(0).cast("long"), e))
        ints.append(F.coalesce(e, F.lit(0).cast("long")))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, e in enumerate(ints):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(e, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return z


def rewrite_position_delete_files(
    table: Table, min_input_files: int = 2
) -> RewriteResult:
    """Compact position-delete files and drop dangling deletes
    (reference RewritePositionDeleteFilesSparkAction.java): entries
    pointing at data files no longer live are filtered out, and the
    remaining (file_path, pos) tuples are rewritten as one delete file.
    """
    import uuid

    entries = table._entries()
    dels = entries[entries.content == "posdel"]
    if len(dels) < min_input_files:
        return RewriteResult(0, 0)
    live = table.spark.createDataFrame(
        [(p,) for p in entries[entries.content == "data"].file_path], "file_path string"
    )
    tuples = table._sidecar_read(
        dels.file_path.tolist(), "file_path STRING, pos BIGINT"
    )
    kept_tuples = tuples.join(F.broadcast(live), "file_path", "left_semi")
    new_entries = table._sidecar_write(kept_tuples, "posdel")
    old_paths = set(dels.file_path)

    def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
        kept = current[~current.file_path.isin(old_paths)]
        add = M.entries_dataframe(
            [dict(e, sequence_number=seq, snapshot_id=0) for e in new_entries]
        )
        return M.concat_entries([kept, add])

    table._commit(
        "replace",
        build,
        {"delete-files-rewritten": len(old_paths), "added": len(new_entries)},
    )
    return RewriteResult(len(old_paths), len(new_entries))


def convert_position_deletes_to_dvs(table: Table) -> dict:
    """Convert position-delete PARQUET files into deletion vectors —
    one roaring bitmap per data file in a single Puffin sidecar
    (Iceberg v3's DV form; the reference ships the v2 machinery this
    supersedes, data/.../DeleteFilter.java:160-233).

    Re-running after further MoR deletes MERGES: existing DV blobs are
    decoded, unioned with the new (file_path, pos) tuples, and replaced
    by one fresh DV per file (the v3 "one DV per data file, new
    supersedes old" rule).  Dangling deletes (referencing dead data
    files) are dropped, like rewrite_position_delete_files.

    Scale shape: tuples are read distributed, bitmaps are serialized
    executor-side (one applyInPandas group per data file), and only the
    compressed payloads — the same bytes the sidecar will hold — come
    to the driver for the single Puffin write.  At 100 TB shard the
    blobs across several Puffin files per N MiB; entries already
    carry per-blob (path, offset, length) so readers are agnostic.
    """
    import uuid

    from iceberg_geo_poc_spark.table import deletion_vectors as DVEC

    entries = table._entries()
    dels = entries[entries.content == "posdel"]
    dv_old = entries[entries.content == "dv"]
    if dels.empty:
        return {"converted_files": 0, "dv_blobs": 0, "dv_file": None}

    tuples = table._sidecar_read(
        dels.file_path.tolist(), "file_path STRING, pos BIGINT"
    ).select("file_path", "pos")
    if len(dv_old):
        descs = []
        for r in dv_old.itertuples():
            d = json.loads(r.dv)
            descs.append(
                (r.file_path, d["referenced"], int(d["offset"]), int(d["length"]))
            )
        tuples = tuples.unionByName(
            DVEC.dv_deletes_df(table.spark, descs).selectExpr(
                "__file_path AS file_path", "__pos AS pos"
            )
        )
    live = table.spark.createDataFrame(
        [(p,) for p in entries[entries.content == "data"].file_path],
        "file_path string",
    )
    kept = tuples.join(F.broadcast(live), "file_path", "left_semi")
    packed = DVEC.pack_tuples(kept)

    old_paths = set(dels.file_path) | set(dv_old.file_path)
    snap = table.current_snapshot()
    if not packed:
        # every delete was dangling: drop the delete entries outright
        def build_drop(current: pd.DataFrame, seq: int) -> pd.DataFrame:
            return current[~current.file_path.isin(old_paths)]

        table._commit("replace", build_drop, {"delete-files-rewritten": len(old_paths)})
        return {"converted_files": len(old_paths), "dv_blobs": 0, "dv_file": None}

    payloads = {path: (blob, card) for path, blob, card in packed}
    data, descs_out = DVEC.write_dv_file(
        payloads, snap.snapshot_id if snap else 0, snap.sequence_number if snap else 0
    )
    dv_path = os.path.join(
        table.location, "deletes", f"dv-{uuid.uuid4().hex[:12]}.puffin"
    )
    MD.backend_for(table.location).put(dv_path, data)

    part_of = {
        r.file_path: r.partition for r in entries[entries.content == "data"].itertuples()
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
        for d in descs_out
    ]

    def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
        kept_e = current[~current.file_path.isin(old_paths)]
        add = M.entries_dataframe(
            [dict(e, sequence_number=seq, snapshot_id=0) for e in new_entries]
        )
        return M.concat_entries([kept_e, add])

    table._commit(
        "replace",
        build,
        {
            "delete-files-rewritten": len(old_paths),
            "dv-blobs": len(new_entries),
        },
    )
    return {
        "converted_files": len(old_paths),
        "dv_blobs": len(new_entries),
        "dv_file": dv_path,
    }


def expire_snapshots(
    table: Table, keep_last: int = 1, older_than_ms: int | None = None
) -> dict:
    """Drop old snapshots; physically delete manifests and data/delete
    files only reachable from expired ones (reference
    ExpireSnapshotsSparkAction: retain-last + older-than compose, and
    branch/tag heads are always retained)."""
    _check_gc_enabled(table, "expire_snapshots")
    meta = table.meta
    if len(meta.snapshots) <= keep_last:
        return {"expired": 0, "deleted_files": 0}
    now = MD.now_ms()
    # per-ref retention first (reference SnapshotRef max-ref-age): an
    # aged-out ref disappears and stops protecting its snapshots
    expired_refs = [
        rname
        for rname, r in meta.refs.items()
        if r.get("max-ref-age-ms") is not None
        and now - r.get("created-at-ms", now) > r["max-ref-age-ms"]
    ]
    for rname in expired_refs:
        del meta.refs[rname]
    keep = meta.snapshots[-keep_last:]
    if older_than_ms is not None:
        keep += [
            s
            for s in meta.snapshots
            if s.timestamp_ms >= older_than_ms and s not in keep
        ]
    ref_ids = {r["snapshot-id"] for r in meta.refs.values()}
    if meta.current_snapshot_id is not None:
        ref_ids.add(meta.current_snapshot_id)  # rollback target stays live
    keep += [s for s in meta.snapshots if s.snapshot_id in ref_ids and s not in keep]
    # branch snapshot retention: protect each surviving branch's ancestor
    # chain per its min-snapshots-to-keep / max-snapshot-age-ms
    by_id = {s.snapshot_id: s for s in meta.snapshots}
    for r in meta.refs.values():
        if r.get("type") != "branch":
            continue
        min_keep = r.get("min-snapshots-to-keep")
        max_age = r.get("max-snapshot-age-ms")
        if min_keep is None and max_age is None:
            continue
        cur, i = r["snapshot-id"], 0
        while cur is not None and cur in by_id:
            s = by_id[cur]
            protected = (min_keep is not None and i < min_keep) or (
                max_age is not None and now - s.timestamp_ms <= max_age
            )
            if protected and s not in keep:
                keep.append(s)
            i += 1
            cur = s.parent_id
    expired = [s for s in meta.snapshots if s not in keep]

    live_files: set[str] = set()
    live_manifests: set[str] = set()
    for s in keep:
        live_manifests |= set(s.manifest_list())
        m = M.read_snapshot_entries(table.location, s)
        live_files |= set(m.file_path)
    dead_files: set[str] = set()
    dead_manifests: set[str] = set()
    for s in expired:
        # fast appends SHARE manifests across snapshots — only delete
        # manifests no kept snapshot still references
        dead_manifests |= set(s.manifest_list()) - live_manifests
        m = M.read_snapshot_entries(table.location, s)
        dead_files |= set(m.file_path) - live_files

    from iceberg_geo_poc_spark.table.fileio import io_for

    _fio = io_for(table.location)
    for p in dead_files:
        # Belt and braces on top of the gc.enabled check: never physically
        # delete a file outside this table's own location (imported /
        # snapshot-cloned entries reference files the table does not own).
        if _owns_path(table, p) and _fio.exists(p):
            _fio.delete(p)
    for rel in dead_manifests:
        mp = os.path.join(table.location, rel)
        if _fio.exists(mp):
            _fio.delete(mp)
    meta.snapshots = [s for s in meta.snapshots if s in keep]
    # statistics files are snapshot-scoped: expiring the snapshot expires
    # its stats file too (reference RemoveSnapshots drops StatisticsFile
    # entries for removed snapshots)
    live_ids = {s.snapshot_id for s in keep}
    n_stats_dropped = 0
    for attr, path_key in (
        ("statistics_files", "statistics-path"),
        ("partition_statistics_files", "statistics-path"),
    ):
        kept_stats = []
        for sf in getattr(meta, attr):
            if sf["snapshot-id"] in live_ids:
                kept_stats.append(sf)
                continue
            n_stats_dropped += 1
            p = sf[path_key]
            if _owns_path(table, p) and _fio.exists(p):
                _fio.delete(p)
        setattr(meta, attr, kept_stats)
    MD.write_new_metadata(meta, meta.version)
    return {
        "expired": len(expired),
        "deleted_files": len(dead_files),
        "expired_statistics_files": n_stats_dropped,
    }


def remove_orphan_files(
    table: Table, dry_run: bool = False, older_than_ms: int | None = None
) -> list[str]:
    """Delete files under the table location not referenced by any
    snapshot (reference DeleteOrphanFilesSparkAction: listing vs
    metadata anti-join).

    ``older_than_ms`` is an absolute epoch-millis cutoff: only files whose
    mtime is strictly older are candidates.  A concurrent commit writes
    its data files and delta manifest BEFORE winning the metadata swap, so
    a sweep racing that commit would otherwise delete files the winning
    snapshot is about to reference.  The reference defends with an
    olderThan threshold defaulting to 3 days
    (spark/.../DeleteOrphanFilesSparkAction.java); pass
    ``now_ms - 3*86400*1000`` for the same posture.  ``None`` keeps the
    historical sweep-everything behavior for single-writer tests."""
    _check_gc_enabled(table, "remove_orphan_files")
    from iceberg_geo_poc_spark.table.fileio import io_for

    _fio = io_for(table.location)

    def _young(p: str) -> bool:
        if older_than_ms is None:
            return False
        try:
            mt = _fio.mtime_ms(p)
        except OSError:
            return True  # vanished mid-sweep: a racing commit owns it
        # stores without a usable mtime cannot prove age: treat as young
        # (never delete) rather than risk racing a concurrent commit
        return mt is None or mt >= older_than_ms
    referenced: set[str] = set()
    referenced_manifests: set[str] = set()
    for s in table.meta.snapshots:
        m = M.read_snapshot_entries(table.location, s)
        referenced |= set(m.file_path)
        referenced_manifests |= {
            os.path.join(table.location, rel) for rel in s.manifest_list()
        }
    on_disk = set(_list_parquet(os.path.join(table.location, "data"))) | set(
        _list_parquet(os.path.join(table.location, "deletes"))
    )
    # delta manifests written by commit attempts that lost the optimistic
    # race are unreferenced by every snapshot — sweep them too
    mdir = os.path.join(table.location, "metadata", "manifests")
    manifest_orphans = {
        os.path.join(mdir, f)
        for f in _fio.listdir(mdir)
        if f.endswith(".parquet")
    } - referenced_manifests
    orphans = sorted(
        p
        for p in (on_disk - referenced) | manifest_orphans
        if not _young(p)
    )
    if not dry_run:
        for p in orphans:
            _fio.delete(p)
    return orphans


def rewrite_manifests(table: Table) -> int:
    """Consolidate the snapshot's manifest LIST (fast appends leave one
    delta manifest per commit) into a single manifest clustered by
    partition (reference RewriteManifestsSparkAction)."""
    entries = table._entries()
    if entries.empty:
        return 0
    entries = entries.sort_values(["partition", "file_path"]).reset_index(drop=True)

    def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
        return entries

    table._commit("replace", build, {"manifests-rewritten": 1})
    return 1


def delete_reachable_files(location: str, dry_run: bool = False) -> dict:
    """Delete every file reachable from ANY metadata version of the table
    at ``location``: data/delete files, manifests, statistics sidecars,
    and the metadata JSON log itself (reference
    DeleteReachableFilesSparkAction — the purge path for dropping a
    table with all of its history).

    Files OUTSIDE the table location (imported via add_files /
    snapshot-clone) are counted but never deleted — same ownership
    posture as expire_snapshots.  Returns per-category counts.
    """
    from iceberg_geo_poc_spark.table.fileio import io_for
    from iceberg_geo_poc_spark.table.pointer_catalog import metadata_version

    _fio = io_for(location)
    mdir = MD.metadata_dir(location)
    if not _fio.listdir(mdir):
        raise FileNotFoundError(f"no table metadata under {location}")
    # every document, canonical or uuid-suffixed (metastore catalogs
    # name theirs v{N}-{uuid8}.metadata.json)
    versions = [f for f in _fio.listdir(mdir) if metadata_version(f) is not None]
    # the guard reflects the CURRENT document only (the one the pointer
    # names) — a table that set gc.enabled=false later must stay protected
    gc_enabled = (
        str(MD.read_metadata(location).properties.get("gc.enabled", "true"))
        .lower() != "false"
    )
    data_files: set[str] = set()
    manifests: set[str] = set()
    stats_files: set[str] = set()
    for v in versions:
        doc = json.loads(_fio.read_bytes(os.path.join(mdir, v)))
        for s in doc.get("snapshots", []):
            for rel in s.get("manifests") or [s["manifest"]]:
                mpath = os.path.join(location, rel)
                manifests.add(mpath)
                if _fio.exists(mpath):
                    m = M.read_manifest(mpath)
                    data_files |= set(m.file_path)
        for sf in doc.get("statistics", []) + doc.get("partition-statistics", []):
            stats_files.add(sf["statistics-path"])
    if not gc_enabled:
        raise ValueError(
            "delete_reachable_files refused: gc.enabled=false (imported or "
            "clone-referenced data; reference DeleteReachableFiles honors "
            "the same guard)"
        )

    def _owned(p: str) -> bool:
        if "://" in location:
            return p.startswith(location.rstrip("/") + "/")
        return os.path.realpath(p).startswith(os.path.realpath(location) + os.sep)

    counts = {
        "data_files": 0,
        "external_files_skipped": 0,
        "manifests": 0,
        "statistics_files": 0,
        "metadata_versions": len(versions),
    }
    for p in data_files:
        if not _owned(p):
            counts["external_files_skipped"] += 1
            continue
        counts["data_files"] += 1
        if not dry_run and _fio.exists(p):
            _fio.delete(p)
    for group, key in ((manifests, "manifests"), (stats_files, "statistics_files")):
        for p in group:
            if not _owned(p):
                continue
            counts[key] += 1
            if not dry_run and _fio.exists(p):
                _fio.delete(p)
    if not dry_run:
        if _fio.is_posix:
            import shutil

            shutil.rmtree(location, ignore_errors=True)
        else:
            for p in _fio.list_files(location):
                _fio.delete(p)
    return counts


def rewrite_table_path(
    table: Table, target_location: str, copy_files: bool = True
) -> dict:
    """Relocate a table: produce a complete, self-consistent copy of its
    metadata under ``target_location`` with every absolute path that
    pointed inside the old location rewritten to the new prefix — the
    reference's RewriteTablePathSparkAction (DR replication / bucket
    migration: metadata must be rewritten because Iceberg paths are
    absolute; data bytes are only COPIED, never reparsed).

    Rewrites, in dependency order:

    - position-delete parquet CONTENTS (their ``file_path`` column
      references data files) + the manifest stats bounds of that column
      (prefix replacement is order-preserving within one prefix);
    - DV Puffin sidecars' footer ``referenced-data-file`` properties,
      with blob offsets recomputed and the manifest ``dv`` descriptors
      updated to match;
    - every manifest's ``file_path`` column;
    - statistics / partition-statistics file paths in the metadata;
    - the metadata JSON itself (location + manifest paths), committed at
      the target with a fresh version-0 + version hint.

    Content-rewritten objects (manifests, position deletes, DV sidecars,
    the metadata JSON) are ALWAYS written at the target — a plain byte
    copy could not produce them.  ``plan`` lists the byte-identical
    copies (data files, equality deletes, statistics sidecars): with
    ``copy_files=True`` they are copied here via FileIO; with False the
    caller hands the plan to a bulk transfer tool (the reference action
    does exactly this).  Files outside the table location (zero-copy
    imports) keep their absolute paths, are excluded from the plan, and
    force ``gc.enabled=false`` on the copy.  Returns {"plan",
    "rewritten", "external", "copied", "manifests",
    "target_metadata_version"}.
    """
    from iceberg_geo_poc_spark.table import deletion_vectors as DVEC
    from iceberg_geo_poc_spark.table import fileio as FIO
    from iceberg_geo_poc_spark.table import puffin as P

    src = table.location.rstrip("/")
    tgt = target_location.rstrip("/")
    if tgt == src:
        raise ValueError("target_location equals the table location")
    if table._modular_footer_key() and any(
        e == "posdel" for e in table._entries().content
    ):
        # posdel CONTENTS must be rewritten (their file_path column
        # references data files), which on a modular-encrypted table
        # means decrypt + rewrite + re-encrypt — not wired yet
        raise NotImplementedError(
            "rewrite_table_path cannot yet rewrite ENCRYPTED position-"
            "delete contents; compact deletes into data files first "
            "(rewrite_data_files)"
        )
    src_io, tgt_io = FIO.io_for(src), FIO.io_for(tgt + "/x")

    def owned(p: str) -> bool:
        return p.startswith(src + "/")

    def repl(p: str) -> str:
        return tgt + p[len(src):] if owned(p) else p

    meta = table.meta
    plan: list[tuple[str, str]] = []  # plain byte copies (data/eqdel/stats)
    rewritten: list[tuple[str, str]] = []  # content-rewritten, already written
    external: set[str] = set()

    # pass 1 over all manifests: collect file inventory by content kind.
    # snapshot manifest fields are RELATIVE to the table location (so the
    # metadata JSON itself needs no manifest-path rewriting) — resolve
    # against src for reads, against tgt for writes, same relative layout
    man_rels: list[str] = []
    for s in meta.snapshots:
        for mp in s.manifest_list():
            if mp not in man_rels:
                man_rels.append(mp)
    frames = {rel: M.read_manifest(os.path.join(src, rel)) for rel in man_rels}
    inventory: dict[str, str] = {}  # path -> content kind
    for df in frames.values():
        for r in df.itertuples():
            inventory.setdefault(r.file_path, r.content)

    # DV sidecars: rewrite footer referenced paths, recompute descriptors
    dv_desc_map: dict[tuple[str, str], dict] = {}  # (old_puffin, old_ref) -> new
    dv_new_path: dict[str, str] = {}
    for p, kind in inventory.items():
        if kind != "dv":
            continue
        footer, payloads = P.read_puffin(src_io.read_bytes(p))
        blobs = []
        for b in footer["blobs"]:
            nb = {
                k: b[k]
                for k in ("type", "fields", "snapshot-id", "sequence-number")
                if k in b
            }
            props = dict(b.get("properties", {}))
            old_ref = props.get("referenced-data-file", "")
            props["referenced-data-file"] = repl(old_ref)
            nb["properties"] = props
            blobs.append((nb, old_ref))
        data = P.write_puffin(
            [b for b, _ in blobs], payloads, footer.get("properties", {})
        )
        new_footer, _ = P.read_puffin(data)
        new_p = repl(p)
        dv_new_path[p] = new_p
        for (nb, old_ref), fb in zip(blobs, new_footer["blobs"]):
            dv_desc_map[(p, old_ref)] = {
                "referenced": fb["properties"]["referenced-data-file"],
                "offset": fb["offset"],
                "length": fb["length"],
            }
        # rewritten-content sidecars are metadata-plane: always written
        # (a plain byte copy could not fulfill them)
        tgt_io.write_bytes(new_p, data)
        rewritten.append((p, new_p))

    # position-delete files: rewrite contained data-file paths
    for p, kind in inventory.items():
        if kind != "posdel":
            continue
        if not p.endswith(".parquet"):
            raise NotImplementedError(
                "rewrite_table_path handles parquet position deletes; "
                f"cannot rewrite contents of {p!r}"
            )
        import io as _io

        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(_io.BytesIO(src_io.read_bytes(p)))
        fp = t.column("file_path").to_pylist()
        t = t.set_column(
            t.schema.get_field_index("file_path"),
            "file_path",
            pa.array([repl(x) for x in fp], pa.string()),
        )
        buf = _io.BytesIO()
        pq.write_table(t, buf)
        new_p = repl(p)
        tgt_io.write_bytes(new_p, buf.getvalue())
        rewritten.append((p, new_p))

    # data + equality-delete files: byte copies
    for p, kind in inventory.items():
        if kind in ("data", "eqdel"):
            if not owned(p):
                external.add(p)
                continue
            new_p = repl(p)
            plan.append((p, new_p))
            if copy_files:
                tgt_io.write_bytes(new_p, src_io.read_bytes(p))

    # manifests: rewrite file_path (+ posdel file_path bounds, dv descs)
    man_map: dict[str, str] = {}
    for mp, df in frames.items():
        df = df.copy()
        df["file_path"] = df["file_path"].map(repl)
        if "dv" in df.columns:
            def _fix_dv(row):
                if row.get("content") != "dv" or not isinstance(row.get("dv"), str):
                    return row.get("dv")
                d = json.loads(row["dv"])
                nd = dv_desc_map.get((row["_old_fp"], d["referenced"]))
                return json.dumps(nd) if nd else row["dv"]
            df["_old_fp"] = [r.file_path for r in frames[mp].itertuples()]
            df["dv"] = df.apply(_fix_dv, axis=1)
            df = df.drop(columns=["_old_fp"])
        for col in ("lower", "upper"):
            mask = df["content"] == "posdel"
            def _fix_bounds(s):
                d = json.loads(s)
                if "file_path" in d and isinstance(d["file_path"], str):
                    d["file_path"] = repl(d["file_path"])
                return json.dumps(d)
            df.loc[mask, col] = df.loc[mask, col].map(_fix_bounds)
        new_mp = os.path.join(tgt, mp)
        man_map[mp] = mp  # relative form is location-independent
        M.write_manifest(M.ensure_flat_stats(df), new_mp)

    # statistics sidecars: copy + re-point
    def _move_stats(entries: list[dict], key: str) -> list[dict]:
        out = []
        for e in entries:
            e = dict(e)
            sp = e.get(key)
            if sp and owned(sp):
                new_sp = repl(sp)
                plan.append((sp, new_sp))
                if copy_files:
                    tgt_io.write_bytes(new_sp, src_io.read_bytes(sp))
                e[key] = new_sp
            out.append(e)
        return out

    new_meta = MD.TableMetadata(
        table_uuid=meta.table_uuid,
        location=tgt,
        schema_ddl=meta.schema_ddl,
        partition_spec=list(meta.partition_spec),
        geo_fields=dict(meta.geo_fields),
        properties=dict(meta.properties),
        current_snapshot_id=meta.current_snapshot_id,
        snapshots=[
            MD.Snapshot(
                s.snapshot_id,
                s.parent_id,
                s.sequence_number,
                s.timestamp_ms,
                s.operation,
                man_map.get(s.manifest, s.manifest),
                dict(s.summary),
                [man_map[m] for m in s.manifests] if s.manifests else None,
            )
            for s in meta.snapshots
        ],
        last_sequence_number=meta.last_sequence_number,
        refs={k: dict(v) for k, v in meta.refs.items()},
        schema_log=list(meta.schema_log),
        renames=dict(meta.renames),
        statistics_files=_move_stats(meta.statistics_files, "statistics-path"),
        partition_statistics_files=_move_stats(
            meta.partition_statistics_files, "statistics-path"
        ),
        next_row_id=meta.next_row_id,
        column_defaults=json.loads(json.dumps(meta.column_defaults)),
    )
    if external:
        # relocated copy references files it does not own -> forbid GC
        new_meta.properties["gc.enabled"] = "false"
    MD.write_new_metadata(new_meta, base_version=-1)
    return {
        "plan": sorted(plan),
        "rewritten": sorted(rewritten),
        "external": sorted(external),
        "copied": len(plan) if copy_files else 0,
        "manifests": len(man_map),
        "target_metadata_version": new_meta.version,
    }
