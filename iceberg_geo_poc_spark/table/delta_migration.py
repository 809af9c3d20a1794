"""Delta Lake -> Iceberg snapshot migration.

Python analogue of the reference's
``delta-lake/src/main/java/org/apache/iceberg/delta/
BaseSnapshotDeltaLakeTableAction.java``: read the Delta transaction log
(``_delta_log/``), reconstruct the CURRENT live file set, and register
those parquet files into a brand-new engine table WITHOUT copying —
manifests are built from the files' own footers (the same zero-copy
harvest ``Catalog.add_files`` uses).

Log protocol (delta.io PROTOCOL.md, public spec):

- ``_delta_log/{version:020d}.json`` — one commit per file, newline-
  delimited JSON actions: ``metaData`` (schemaString = Spark StructType
  JSON, partitionColumns), ``add`` (relative URL-encoded path,
  partitionValues, dataChange), ``remove`` (tombstone), ``protocol``,
  ``commitInfo``;
- ``_delta_log/_last_checkpoint`` — ``{"version": N, ...}`` pointing at
  ``{N:020d}.checkpoint.parquet``, a columnar snapshot of the log state
  at N (add/remove/metaData struct columns); replay resumes at N+1.

Partition handling: Delta data files physically OMIT identity partition
columns — their values live only in each add action's
``partitionValues`` string map.  The migration stores the typed values
in every manifest entry's partition tuple AND as that column's
lower==upper bounds (so manifest pruning on partition predicates works
immediately), and sets ``read.inject-partition-values=true`` so the
scan path materializes the column per file group
(``Table._read_files``).  The group count is bounded by the partition
tuple count, never the file count — at 100 TB the injection costs one
literal column per scan branch, no shuffle.

Scale shape: the log replay is driver-side but bounded by the LOG size
(checkpoint + tail commits — Delta's own readers do the same); the
footer harvest is a bounded thread pool over file metadata; no data is
read or rewritten.
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse

from iceberg_geo_poc_spark.table import manifest as M

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")


def read_delta_log(delta_path: str) -> tuple[dict, list[str], dict[str, dict]]:
    """Replay the Delta log.  Returns ``(metaData, partition_columns,
    live)`` where ``live`` maps each live data file's ABSOLUTE path to
    its (string-typed) partitionValues map."""
    log_dir = os.path.join(delta_path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {delta_path}")

    meta: dict | None = None
    live: dict[str, dict] = {}
    start_version = 0

    def _abs(rel: str) -> str:
        return os.path.join(delta_path, urllib.parse.unquote(rel))

    lc = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc):
        with open(lc) as f:
            info = json.load(f)
        if info.get("parts"):
            raise NotImplementedError(
                "multi-part Delta checkpoints are not supported"
            )
        v = int(info["version"])
        import pyarrow.parquet as pq

        ckpt = pq.read_table(
            os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")
        ).to_pylist()
        for row in ckpt:
            md = row.get("metaData")
            if md:
                meta = md
            add = row.get("add")
            if add and add.get("path"):
                live[_abs(add["path"])] = dict(add.get("partitionValues") or {})
            # checkpoint `remove` rows are VACUUM tombstones for files
            # already absent from the live set — nothing to replay
        start_version = v + 1

    versions = sorted(
        int(m.group(1))
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    )
    for v in versions:
        if v < start_version:
            continue
        with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    a = action["add"]
                    live[_abs(a["path"])] = dict(a.get("partitionValues") or {})
                elif "remove" in action:
                    live.pop(_abs(action["remove"]["path"]), None)
    if meta is None:
        raise ValueError(f"Delta log at {delta_path} carries no metaData action")
    return meta, list(meta.get("partitionColumns") or []), live


def _schema_ddl(meta: dict) -> tuple[str, dict[str, str]]:
    """Delta schemaString (Spark StructType JSON) -> engine DDL +
    per-column type map."""
    from pyspark.sql.types import StructType

    st = StructType.fromJson(json.loads(meta["schemaString"]))
    cols = [(f.name, f.dataType.simpleString()) for f in st.fields]
    return ", ".join(f"{n} {t}" for n, t in cols), dict(cols)


def _typed(value: str | None, sql_type: str):
    """A partitionValues STRING -> the column's engine-typed value (the
    reference maps through Spark's partition-value casting).

    DECIMAL keeps Delta's exact string form: float(value) rounds to
    nearest, which both corrupts the injected literal beyond ~15
    significant digits (``F.lit(float).cast(decimal)``) and can move
    the lower==upper pruning bounds INWARD — the same mispruning
    ``manifest._dec_raw`` widens against.  ``F.lit(str).cast(decimal)``
    parses exactly; the bounds path widens separately via
    :func:`_decimal_bounds`."""
    if value is None:
        return None
    t = sql_type.lower()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return int(value)
    if t in ("float", "double"):
        return float(value)
    if t == "boolean":
        return value.lower() == "true"
    # string / date / timestamp / DECIMAL keep Delta's string form
    return value


def _decimal_bounds(value: str, sql_type: str) -> tuple[float, float]:
    """Directionally-widened float (lower, upper) for a decimal
    partition constant, by the footer harvest's own rule
    (``manifest._enc_stat``): lower rounds toward -inf, upper toward
    +inf, so a >15-digit decimal can never misprune the inclusive scan
    or fool the strict evaluator.  The exact value comes from the
    string, never through the 28-digit default decimal context."""
    import decimal as _decimal

    d = _decimal.Decimal(value)
    return M._enc_stat(d, -1), M._enc_stat(d, +1)


def snapshot_delta_table(catalog, delta_path: str, dest_name: str):
    """Migrate a Delta table's CURRENT snapshot into a new engine table
    (reference SnapshotDeltaLakeTable action / snapshotDeltaLakeTable
    SparkActions entry point).  Zero-copy: the Delta parquet stays in
    place; ``gc.enabled=false`` forbids physical GC of files this table
    does not own (same posture as add_files/snapshot_table)."""
    meta, part_cols, live = read_delta_log(delta_path)
    ddl, types = _schema_ddl(meta)
    for pc in part_cols:
        if pc not in types:
            raise ValueError(f"partition column {pc!r} missing from schema")
    props = {
        "snapshot-source": delta_path,
        "migrated-from": "delta",
        "gc.enabled": "false",
    }
    if part_cols:
        props["read.inject-partition-values"] = "true"
    t = catalog.create_table(
        dest_name,
        ddl,
        partition_by=[(c, "identity") for c in part_cols] or None,
        properties=props,
    )
    paths = sorted(live)
    if not paths:
        return t

    stats = M.harvest_stats(paths)
    # NaN counts for float columns PRESENT in the files (partition
    # columns are physically absent — their values come from the log)
    float_cols = [
        c
        for c, ty in types.items()
        if ty in ("float", "double") and c not in part_cols
    ]
    nan_counts = M.compute_nan_counts(catalog.spark, paths, float_cols)

    files = []
    for p in paths:
        record_count, file_size, lower, upper, nulls, _ = stats[p]
        pvals = {
            c: _typed(live[p].get(c), types[c]) for c in part_cols
        }
        # identity partition values double as exact column bounds: the
        # footer has no stats for an absent column, so pruning on the
        # partition predicate comes from the log-known constant.
        # Decimals carry their exact string in the partition tuple but
        # widened floats in the bounds (see _decimal_bounds).
        for c, v in pvals.items():
            if v is None:
                nulls[c] = record_count
            else:
                if types[c].lower().startswith("decimal"):
                    lower[c], upper[c] = _decimal_bounds(v, types[c])
                else:
                    lower[c] = v
                    upper[c] = v
                nulls[c] = 0
        files.append(
            {
                "file_path": p,
                "file_size": file_size,
                "record_count": record_count,
                "partition": pvals,
                "lower": lower,
                "upper": upper,
                "nulls": nulls,
                "nans": nan_counts.get(p, {c: 0 for c in float_cols}),
            }
        )
    entries = M.data_entries(files, t.meta)

    def build(current, seq):
        add = M.entries_dataframe(
            [dict(e, sequence_number=seq, snapshot_id=0) for e in entries]
        )
        return M.concat_entries([current, add])

    t._commit(
        "append",
        build,
        {"added-files": len(entries), "delta-snapshot-source": delta_path},
    )
    return catalog.load_table(dest_name)
