"""Snapshot-scoped table & partition statistics files.

Reference parity:

- **Statistics files** — registered per snapshot in table metadata:
  ``core/src/main/java/org/apache/iceberg/GenericStatisticsFile.java``,
  pending-update ``SetStatistics.java`` (``api/.../UpdateStatistics.java``),
  stored on ``TableMetadata.statisticsFiles()``
  (``core/.../TableMetadata.java:539`` and builder ``:1271``).
- **Blob payloads** — the reference writes Puffin files
  (``core/.../puffin/PuffinWriter.java``) whose standard blob type is a
  per-column NDV sketch, ``apache-datasketches-theta-v1``
  (``puffin/StandardBlobTypes.java:28``), with the scalar estimate
  duplicated in the blob's ``"ndv"`` property so engines can read the
  number without the sketch library.  The Spark-first analogue of the
  theta sketch is Spark's built-in HyperLogLog++
  (``approx_count_distinct``): ONE distributed aggregation computes every
  column's NDV estimate plus the row count — partial sketches merge
  map-side, a single final combine, no per-column jobs — and the
  estimates land in the blob properties exactly like the reference's
  ``"ndv"`` property.
- **Partition statistics** —
  ``core/.../GenericPartitionStatisticsFile.java`` +
  ``SetPartitionStatistics.java`` (``MetadataUpdate.java:206`` area).
  Computed here WITHOUT reading data: manifest entries already carry
  per-file record counts and partition tuples, so partition stats are a
  driver-side groupby over the manifest frame (zero Spark jobs) —
  matching the reference computing them from metadata, not data.

Scale: the NDV job is a single partial-aggregated pass (the same shape
at 100 TB — sketch merge traffic is bytes-per-partition, not rows); the
partition-stats pass is bounded by manifest size, never data size.
"""

from __future__ import annotations

import json
import os
import uuid

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from iceberg_geo_poc_spark.table import manifest as M
from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table.table import Table

NDV_BLOB_TYPE = "ndv-hll++-v1"  # analogue of apache-datasketches-theta-v1


def _commit_metadata_update(table: Table, mutate) -> None:
    """Optimistic metadata-only commit: ``mutate(meta)`` applied to fresh
    metadata, retried on conflict (the SetStatistics/SetPartitionStatistics
    pending-update path — no snapshot is produced)."""
    for attempt in range(8):
        base = MD.read_metadata(table.location) if attempt else table.meta
        mutate(base)
        try:
            MD.write_new_metadata(base, base.version)
            table.meta = base
            return
        except MD.CommitConflict:
            continue
    raise MD.CommitConflict("set_statistics failed after 8 retries")


def _stats_dir(table: Table) -> str:
    return os.path.join(table.location, "metadata", "stats")


def compute_table_stats(
    table: Table,
    columns: list[str] | None = None,
    rsd: float = 0.05,
    with_sketches: bool = False,
    sketch_k: int = 4096,
) -> dict:
    """Compute per-column NDV estimates + row count for the current
    snapshot, persist them as a statistics file, and register it in
    table metadata (replacing any prior stats for the same snapshot,
    per SetStatistics semantics).  Returns the registered entry.

    ``with_sketches=True`` additionally persists a MERGEABLE theta/KMV
    sketch blob per column (type ``theta-kmv-v1``, ``table/theta.py``)
    — the reference's ``apache-datasketches-theta-v1`` posture: later
    snapshots/partitions/tables union their sketches without
    re-reading data, and the sketch is EXACT below its k.
    """
    snap = table.current_snapshot()
    if snap is None:
        raise ValueError("table has no snapshot to compute statistics for")
    cols = columns or [c for c in table.columns() if c not in table.geo_fields]
    df = table.to_df()
    aggs = [F.count(F.lit(1)).alias("__row_count")]
    aggs += [
        F.approx_count_distinct(c, rsd=rsd).alias(f"__ndv__{c}") for c in cols
    ]
    row = df.agg(*aggs).collect()[0].asDict()  # one row: bounded driver read
    blobs = [
        {
            "type": NDV_BLOB_TYPE,
            "columns": [c],
            "snapshot-id": snap.snapshot_id,
            "sequence-number": snap.sequence_number,
            "properties": {"ndv": str(int(row[f"__ndv__{c}"]))},
        }
        for c in cols
    ]
    # persist as a REAL Puffin file (reference parity: statistics files
    # are Puffin, core/.../puffin/PuffinWriter.java).  Each NDV blob's
    # payload is its estimate as an 8-byte LE long; ``fields`` carries
    # the schema position of the column.
    from iceberg_geo_poc_spark.table import puffin as PF

    col_pos = {c: i for i, c in enumerate(table.columns())}
    puffin_blobs = [
        {
            "type": b["type"],
            "fields": [col_pos.get(b["columns"][0], -1)],
            "snapshot-id": b["snapshot-id"],
            "sequence-number": b["sequence-number"],
            "properties": dict(b["properties"], column=b["columns"][0]),
        }
        for b in blobs
    ]
    payloads = [
        int(b["properties"]["ndv"]).to_bytes(8, "little") for b in blobs
    ]
    if with_sketches:
        from iceberg_geo_poc_spark.table import theta as TH

        for c in cols:
            sk = TH.column_sketch(df, c, k=sketch_k)
            blob = {
                "type": TH.THETA_BLOB_TYPE,
                "columns": [c],
                "snapshot-id": snap.snapshot_id,
                "sequence-number": snap.sequence_number,
                "properties": {
                    "ndv": str(int(round(sk.estimate()))),
                    "exact": str(sk.is_exact).lower(),
                    "k": str(sketch_k),
                },
            }
            blobs.append(blob)
            puffin_blobs.append(
                {
                    "type": blob["type"],
                    "fields": [col_pos.get(c, -1)],
                    "snapshot-id": blob["snapshot-id"],
                    "sequence-number": blob["sequence-number"],
                    "properties": dict(blob["properties"], column=c),
                }
            )
            payloads.append(sk.to_bytes())
    path = os.path.join(
        _stats_dir(table),
        f"{snap.snapshot_id}-{uuid.uuid4().hex[:8]}.stats.puffin",
    )
    payload = PF.write_puffin(
        puffin_blobs,
        payloads,
        {
            "row-count": str(int(row["__row_count"])),
            "rsd": str(rsd),
            "created-by": "iceberg-geo-poc-spark",
        },
    )
    MD.backend_for(table.location).put(path, payload)
    entry = {
        "snapshot-id": snap.snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": len(payload),
        "blob-metadata": blobs,
    }
    set_statistics(table, entry)
    return entry


def set_statistics(table: Table, stats_file: dict) -> None:
    """Register ``stats_file``, replacing any entry for the same
    snapshot (reference SetStatistics.java: one stats file per
    snapshot, last-set wins)."""

    def mutate(meta: MD.TableMetadata) -> None:
        meta.statistics_files = [
            f
            for f in meta.statistics_files
            if f["snapshot-id"] != stats_file["snapshot-id"]
        ] + [stats_file]

    _commit_metadata_update(table, mutate)


def statistics_files(table: Table) -> list[dict]:
    return list(table.meta.statistics_files)


def ndv(table: Table, column: str, snapshot_id: int | None = None) -> int | None:
    """NDV estimate for ``column`` from the registered statistics file of
    ``snapshot_id`` (default: current snapshot; falls back to the most
    recently registered stats file if the exact snapshot has none —
    stale-but-useful, the same posture engines take reading Iceberg NDVs
    for join planning)."""
    if snapshot_id is None:
        cur = table.current_snapshot()
        snapshot_id = cur.snapshot_id if cur else None
    files = table.meta.statistics_files
    if not files:
        return None
    match = [f for f in files if f["snapshot-id"] == snapshot_id] or [files[-1]]
    for blob in match[-1].get("blob-metadata", []):
        if blob.get("columns") == [column]:
            est = blob.get("properties", {}).get("ndv")
            if est is not None:
                return int(est)
    return None


def theta_sketch(table: Table, column: str, snapshot_id: int | None = None):
    """Load the registered theta/KMV sketch blob for ``column`` (see
    ``compute_table_stats(with_sketches=True)``).  The blob is sliced
    out of the Puffin statistics file by its (offset, length) — a
    ranged read on stores that support it — and deserialized; returns
    None when no sketch is registered."""
    from iceberg_geo_poc_spark.table import fileio as FIO
    from iceberg_geo_poc_spark.table import puffin as PF
    from iceberg_geo_poc_spark.table import theta as TH

    if snapshot_id is None:
        snap = table.current_snapshot()
        snapshot_id = snap.snapshot_id if snap else None
    candidates = [
        f for f in table.meta.statistics_files if f["snapshot-id"] == snapshot_id
    ] or list(table.meta.statistics_files)
    for f in reversed(candidates):
        path = f["statistics-path"]
        data = FIO.io_for(path).read_bytes(path)
        footer, _ = PF.read_puffin(data)
        for b in footer["blobs"]:
            if (
                b["type"] == TH.THETA_BLOB_TYPE
                and b.get("properties", {}).get("column") == column
            ):
                return TH.ThetaSketch.from_bytes(
                    data[b["offset"] : b["offset"] + b["length"]]
                )
    return None


# -- partition statistics ----------------------------------------------------

PARTITION_STATS_COLUMNS = [
    "partition",  # JSON {field: value} — same encoding as manifest entries
    "data_record_count",
    "data_file_count",
    "total_data_file_size_in_bytes",
    "position_delete_file_count",
    "equality_delete_file_count",
    "total_record_count",  # data records (deletes not subtracted, per spec)
]


def compute_partition_stats(table: Table) -> dict:
    """Aggregate per-partition counts from the CURRENT manifest (no data
    read) into a partition-statistics parquet file and register it.

    Reference: GenericPartitionStatisticsFile.java registered via
    SetPartitionStatistics; stats derive from metadata only.
    """
    snap = table.current_snapshot()
    if snap is None:
        raise ValueError("table has no snapshot")
    ent = table._entries()
    if ent.empty:
        grouped = pd.DataFrame(columns=PARTITION_STATS_COLUMNS)
    else:
        e = ent.copy()
        e["partition"] = e["partition"].fillna("{}")
        data = e[e.content == "data"]
        pos = e[e.content.isin(["posdel", "dv"])]
        eq = e[e.content == "eqdel"]

        def _group(df: pd.DataFrame, prefix: str) -> pd.DataFrame:
            if df.empty:
                return pd.DataFrame(
                    {"partition": pd.Series(dtype=object),
                     f"{prefix}_file_count": pd.Series(dtype="int64")}
                )
            g = df.groupby("partition", sort=True)
            out = pd.DataFrame(
                {f"{prefix}_file_count": g.size().astype("int64")}
            )
            return out.reset_index()

        g = data.groupby("partition", sort=True)
        grouped = pd.DataFrame(
            {
                "data_record_count": g.record_count.sum().astype("int64"),
                "data_file_count": g.size().astype("int64"),
                "total_data_file_size_in_bytes": g.file_size.sum().astype("int64"),
            }
        ).reset_index()
        # delete files written with the unpartitioned tuple {} (global
        # scope — posdel files may span partitions) surface as their own
        # row rather than being silently dropped: outer merge
        for prefix, df_side in (("position_delete", pos), ("equality_delete", eq)):
            side = _group(df_side, prefix)
            grouped = grouped.merge(side, on="partition", how="outer")
            col = f"{prefix}_file_count"
            grouped[col] = grouped[col].fillna(0).astype("int64")
        for col in (
            "data_record_count",
            "data_file_count",
            "total_data_file_size_in_bytes",
        ):
            grouped[col] = grouped[col].fillna(0).astype("int64")
        grouped["total_record_count"] = grouped["data_record_count"]
        grouped = grouped[PARTITION_STATS_COLUMNS].sort_values(
            "partition", ignore_index=True
        )
    path = os.path.join(
        _stats_dir(table),
        f"{snap.snapshot_id}-{uuid.uuid4().hex[:8]}.partition-stats.parquet",
    )
    from iceberg_geo_poc_spark.table.fileio import io_for

    _fio = io_for(path)
    if _fio.is_posix:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        grouped.to_parquet(path, index=False)
    else:
        import io as _io

        buf = _io.BytesIO()
        grouped.to_parquet(buf, index=False)
        _fio.write_bytes(path, buf.getvalue())
    entry = {
        "snapshot-id": snap.snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": _fio.size(path),
    }

    def mutate(meta: MD.TableMetadata) -> None:
        meta.partition_statistics_files = [
            f
            for f in meta.partition_statistics_files
            if f["snapshot-id"] != entry["snapshot-id"]
        ] + [entry]

    _commit_metadata_update(table, mutate)
    return entry


def read_partition_stats(
    table: Table, snapshot_id: int | None = None
) -> DataFrame:
    """Registered partition statistics as a Spark DataFrame."""
    if snapshot_id is None:
        cur = table.current_snapshot()
        snapshot_id = cur.snapshot_id if cur else None
    files = [
        f
        for f in table.meta.partition_statistics_files
        if f["snapshot-id"] == snapshot_id
    ] or table.meta.partition_statistics_files[-1:]
    if not files:
        raise KeyError("no partition statistics registered")
    from iceberg_geo_poc_spark.table.table import _read_parquet_any

    return _read_parquet_any(table.spark, [files[-1]["statistics-path"]])
