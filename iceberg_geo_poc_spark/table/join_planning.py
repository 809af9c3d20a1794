"""Statistics-aware join planning over managed tables.

Reference parity: the reference publishes table statistics to the host
engine's cost-based optimizer — ``SparkScan.estimateStatistics()``
(``spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/source/
SparkScan.java``) reports row count + size so Spark picks broadcast
joins, and the NDV blobs registered via SetStatistics feed CBO
cardinality estimates.  A pure-Python engine cannot hook Spark's
internal Statistics propagation for file-source scans, so the planning
decision moves one level up: ``stats_aware_join`` consults the SAME
metadata (manifest record/byte totals — exact; statistics-file NDVs)
and applies an explicit ``broadcast()`` hint to the side that fits
under the threshold — the decision Spark's CBO would have made with the
reference's reported stats.

Zero data IO: every estimate comes from the manifest frame / statistics
file already on the driver.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from iceberg_geo_poc_spark.table.table import Table

DEFAULT_BROADCAST_THRESHOLD = 10 * 1024 * 1024  # Spark's autoBroadcast default


def estimate_row_count(table: Table) -> int:
    """Exact live-data record total from the manifest (data entries;
    MoR deletes make this an upper bound, same as the reference's
    totalRecordCount estimate)."""
    ent = table._entries()
    if ent.empty:
        return 0
    return int(ent[ent.content == "data"].record_count.sum())


def estimate_size_bytes(table: Table) -> int:
    ent = table._entries()
    if ent.empty:
        return 0
    return int(ent[ent.content == "data"].file_size.sum())


def stats_aware_join(
    left: Table,
    right: Table,
    on: list[str] | str,
    how: str = "inner",
    broadcast_threshold: int = DEFAULT_BROADCAST_THRESHOLD,
) -> DataFrame:
    """Join two managed tables, broadcasting the side whose manifest
    byte total fits under ``broadcast_threshold`` (smaller side wins the
    hint if both fit).  Returns the joined DataFrame; join keys resolve
    by name on both sides (equi-join — the broadcastable shape)."""
    ldf, rdf = left.to_df(), right.to_df()
    lsz, rsz = estimate_size_bytes(left), estimate_size_bytes(right)
    if min(lsz, rsz) <= broadcast_threshold:
        if rsz <= lsz:
            rdf = F.broadcast(rdf)
        else:
            ldf = F.broadcast(ldf)
    return ldf.join(rdf, on=on, how=how)


def estimate_join_cardinality(
    left: Table, right: Table, column: str
) -> dict | None:
    """Predicted equi-join output rows from registered THETA sketches
    (table/theta.py; compute_table_stats(with_sketches=True)) — the CBO
    estimate the reference feeds Spark via SetStatistics NDVs, upgraded
    by the sketch INTERSECTION: instead of assuming key containment
    (|join| = n_l * n_r / max(ndv)), the matching-key count comes from
    |sketch_l ∩ sketch_r|, so disjoint or partially-overlapping key
    domains estimate correctly.

    |join| ≈ (n_l / ndv_l) * (n_r / ndv_r) * |keys_l ∩ keys_r|

    (uniform key-frequency assumption, the standard CBO model; EXACT
    when both sketches are exact and frequencies are uniform.)  Returns
    None when either side lacks a registered sketch."""
    from iceberg_geo_poc_spark.table import statistics as ST

    sl = ST.theta_sketch(left, column)
    sr = ST.theta_sketch(right, column)
    if sl is None or sr is None:
        return None
    ndv_l, ndv_r = sl.estimate(), sr.estimate()
    if ndv_l == 0 or ndv_r == 0:
        return {"rows": 0.0, "common_keys": 0.0, "exact": True}
    common = sl.estimate_intersection(sr)
    n_l, n_r = estimate_row_count(left), estimate_row_count(right)
    rows = (n_l / ndv_l) * (n_r / ndv_r) * common
    return {
        "rows": rows,
        "common_keys": common,
        "ndv_left": ndv_l,
        "ndv_right": ndv_r,
        "exact": sl.is_exact and sr.is_exact,
    }
