"""Geo query surface over testdata-derived point columns, oracle-checked.

Geometry is synthesized deterministically from numeric testdata columns
(st_point over scaled lineitem/customer keys), the predicate path runs
through the real WKB + pandas-UDF kernel, and the oracle expresses the
same semantics as plain coordinate SQL — so DuckDB (no spatial
extension loaded) can still verify st_intersects/st_covers/st_distance
row-level behavior exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_geo_poc_spark.geo import Point, box
from iceberg_geo_poc_spark.geo.functions import (
    geo_literal,
    st_distance,
    st_hilbert,
    st_point,
)
from iceberg_geo_poc_spark.registry import query
from iceberg_geo_poc_spark.session import load_table

# deterministic lon/lat derivation shared by Spark and oracle SQL
_LON = "(CAST(l_partkey % 360 AS DOUBLE) - 180.0 + l_discount)"
_LAT = "(CAST(l_suppkey % 180 AS DOUBLE) - 90.0 + l_tax)"


def _lineitem_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    # testdata ships one parquet file per table, so without a rebalance the
    # whole Arrow-UDF kernel stage would run as a single task; shuffling
    # the 4 narrow columns is far cheaper than serializing the CPU work.
    # (On a real multi-file table the scan already yields enough splits.)
    # HASH repartition on a deterministic synthetic key, NOT round-robin:
    # a keyless repartition(n) first pays a local sort of its input
    # (spark.sql.execution.sortBeforeRepartition) inside the single scan
    # task — measured ~0.7 s of the geo queries' wall at sf0.1.  The
    # derived key follows the guide's pmod(xxhash64(id), 100*n) recipe:
    # deterministic (retry-safe) and 100x more distinct values than
    # partitions so the hash spreads evenly.
    n = spark.sparkContext.defaultParallelism
    return (
        l.select(
            "l_orderkey",
            "l_linenumber",
            F.expr(_LON).alias("lon"),
            F.expr(_LAT).alias("lat"),
        )
        .repartition(
            n, F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(100 * n))
        )
        .withColumn("geom", st_point("lon", "lat"))
    )


@query(
    "geo_points_in_window",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           ROUND({_LON}, 6) AS lon, ROUND({_LAT}, 6) AS lat
    FROM lineitem
    WHERE {_LON} BETWEEN 10.0 AND 60.0
      AND {_LAT} BETWEEN -20.0 AND 30.0
    """,
)
def geo_points_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_intersects(point, envelope) row filter through the WKB kernel.

    Parity target: reference row-level ST_INTERSECTS evaluation
    (api/.../expressions/BoundLiteralPredicate.java:91-92).

    Plan shape: a codegen bbox prefilter on the raw coordinate columns
    runs BEFORE the Arrow kernel — the window keeps ~3.9% of rows
    (measured at sf1), so 96% of the corpus never crosses the
    Python-worker boundary; the WKB kernel (point build + rect
    predicate, fused into one ArrowEvalPython node) stays the
    row-level authority on the survivors.  Point-in-closed-box
    semantics make the BETWEEN prefilter exact (NaN/null coordinates
    fail both)."""
    l = load_table(spark, sf_dir, "lineitem")
    # bbox prefilter at the scan (guide §2.3): the window keeps ~4% of
    # rows, so only ~23k survivors reach the kernel.  NO repartition:
    # the optimizer sinks deterministic UDF filters below an exchange
    # anyway (the r15 batch-4 plan showed both ArrowEval nodes under the
    # scan task with the exchange redistributing only the final output
    # rows), so the exchange was pure overhead — on a multi-file table
    # the scan splits themselves provide the parallelism.
    pts = l.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_LON).alias("lon"),
        F.expr(_LAT).alias("lat"),
    ).filter("lon BETWEEN 10.0 AND 60.0 AND lat BETWEEN -20.0 AND 30.0")
    # FUSED point×envelope kernel: the point WKB build and the window
    # intersects test run in ONE ArrowEvalPython node (the composed
    # st_point + st_intersects(geo_literal) form spent two); the kernel
    # dispatch (constant-envelope rect fast path) and the closed-box
    # evaluation are identical
    from iceberg_geo_poc_spark.geo.functions import (
        st_point_envelope_pair_intersects,
    )

    return (
        pts.filter(
            st_point_envelope_pair_intersects(
                "lon", "lat",
                F.lit(10.0), F.lit(-20.0), F.lit(60.0), F.lit(30.0),
            )
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("lon", 6).alias("lon"),
            F.round("lat", 6).alias("lat"),
        )
    )


@query(
    "geo_covers_quadrant_counts",
    oracle=f"""
    SELECT CASE WHEN {_LON} >= 0 AND {_LAT} >= 0 THEN 0
                WHEN {_LON} < 0 AND {_LAT} >= 0 THEN 1
                WHEN {_LON} < 0 AND {_LAT} < 0 THEN 2
                ELSE 3 END AS quadrant,
           COUNT(*) AS n_points
    FROM lineitem
    GROUP BY 1
    """,
)
def geo_covers_quadrant_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_covers against quadrant half-plane windows, aggregated.

    Each point is assigned to the first world-quadrant box that covers
    it — exercises st_covers(literal_polygon, point_column) semantics.
    """
    pts = _lineitem_points(spark, sf_dir)
    # coordinate granularity is 0.01 (discount/tax decimals), so a box edge
    # at -0.005 cleanly separates "< 0" from ">= 0" without boundary-epsilon
    # ambiguity in the covers predicate
    q0 = box(0.0, 0.0, 181.0, 91.0)
    q1 = box(-181.0, 0.0, -0.005, 91.0)
    q2 = box(-181.0, -91.0, -0.005, -0.005)
    from iceberg_geo_poc_spark.geo.functions import st_covers

    return (
        pts.withColumn(
            "quadrant",
            F.when(st_covers(geo_literal(q0), F.col("geom")), F.lit(0))
            .when(st_covers(geo_literal(q1), F.col("geom")), F.lit(1))
            .when(st_covers(geo_literal(q2), F.col("geom")), F.lit(2))
            .otherwise(F.lit(3)),
        )
        .groupBy("quadrant")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


@query(
    "geo_distance_filter",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           ROUND(SQRT(POW({_LON} - 0.0, 2) + POW({_LAT} - 0.0, 2)), 6) AS dist_origin
    FROM lineitem
    WHERE SQRT(POW({_LON} - 0.0, 2) + POW({_LAT} - 0.0, 2)) < 25.0
    """,
)
def geo_distance_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_distance(point, literal) range query (reference st function
    surface via SPI; SURVEY §2.7)."""
    pts = _lineitem_points(spark, sf_dir)
    origin = geo_literal(Point(0.0, 0.0))
    return (
        pts.withColumn("dist_origin", st_distance("geom", origin))
        .filter(F.col("dist_origin") < 25.0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("dist_origin", 6).alias("dist_origin"),
        )
    )


@query(
    "geo_hilbert_clustering",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           TRUE AS locality_holds,
           TRUE AS buckets_spread
    FROM supplier
    """,
)
def geo_hilbert_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert locality CONTRACT, oracle-checked as booleans (the curve's
    physical values are impl-specific — the reference's own tests are
    property-only, TestHilbert.java:60-83, so the checkable surface is
    the property itself): for every supplier point, a 0.5-degree
    neighbor must usually be closer in index space than the antipodal
    point (>=90% of rows — boundary cells legitimately break locality
    for a few), and the index range must actually spread across buckets
    (clustering usefulness, not a constant)."""
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 170.0).alias("px"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 80.0).alias("py"),
    )
    hp = st_hilbert(st_point("px", "py"), 8)
    hnear = st_hilbert(
        st_point(F.col("px") + F.lit(0.5), F.col("py") + F.lit(0.5)), 8
    )
    hfar = st_hilbert(st_point(-F.col("px"), -F.col("py")), 8)
    scored = sup.select(
        (F.abs(hp - hnear) < F.abs(hp - hfar)).cast("int").alias("near_wins"),
        (hp / 256).cast("long").alias("h_bucket"),
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_points"),
        (F.avg("near_wins") >= F.lit(0.90)).alias("locality_holds"),
        # spread scales with corpus size: tiny SFs have few points
        (
            F.countDistinct("h_bucket")
            >= F.least(F.lit(16), F.count(F.lit(1)) / F.lit(2))
        ).alias("buckets_spread"),
    )


@query(
    "geo_spatial_join_counts",
    oracle=f"""
    WITH pts AS (
      SELECT l_orderkey, {_LON} AS lon, {_LAT} AS lat FROM lineitem),
    rects AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 340 AS DOUBLE) - 170.0 AS x0,
             CAST((s_suppkey * 7) % 160 AS DOUBLE) - 80.0 AS y0
      FROM supplier)
    SELECT r.s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_pts
    FROM rects r JOIN pts p
      ON p.lon BETWEEN r.x0 AND r.x0 + 8.0
     AND p.lat BETWEEN r.y0 AND r.y0 + 8.0
    GROUP BY r.s_suppkey
    ORDER BY r.s_suppkey
    """,
)
def geo_spatial_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spatial join (grid-blocked PBSM, geo/spatial_join.py):
    lineitem points x supplier rectangles, verified against a plain
    coordinate range join in the oracle."""
    from iceberg_geo_poc_spark.geo.functions import (
        st_point_envelope_pair_intersects,
    )
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    pts = _lineitem_points(spark, sf_dir).select("l_orderkey", "lon", "lat")
    rects = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 170.0).alias("x0"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 80.0).alias("y0"),
    )
    # constructed geometries -> bounds are plain arithmetic: the whole
    # blocking pipeline stays in codegen (no bounds UDF pass), and the
    # exact predicate is the FUSED point×envelope kernel (build + test
    # in one ArrowEvalPython over coordinate doubles only)
    j = grid_spatial_join(
        pts, rects, cell_size=20.0,
        left_bounds=("lon", "lat", "lon", "lat"),
        right_bounds=("x0", "y0", "x0 + 8.0D", "y0 + 8.0D"),
        exact_predicate=st_point_envelope_pair_intersects(
            "lon", "lat", "x0", "y0",
            F.col("x0") + F.lit(8.0), F.col("y0") + F.lit(8.0),
        ),
    )
    return (
        j.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_pts"))
        .orderBy("s_suppkey")
    )


@query(
    "geo_polygon_join_counts",
    oracle=f"""
    WITH pboxes AS (
      SELECT l_orderkey, {_LON} - 0.5 AS px0, {_LAT} - 0.5 AS py0,
             {_LON} + 0.5 AS px1, {_LAT} + 0.5 AS py1
      FROM lineitem),
    rects AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 340 AS DOUBLE) - 170.0 AS x0,
             CAST((s_suppkey * 7) % 160 AS DOUBLE) - 80.0 AS y0
      FROM supplier)
    SELECT r.s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_polys
    FROM rects r JOIN pboxes p
      ON p.px0 <= r.x0 + 8.0 AND p.px1 >= r.x0
     AND p.py0 <= r.y0 + 8.0 AND p.py1 >= r.y0
    GROUP BY r.s_suppkey
    ORDER BY r.s_suppkey
    """,
)
def geo_polygon_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYGON x POLYGON distributed spatial join: 1x1-degree envelopes
    around lineitem points joined against 8x8 supplier rectangles.  Both
    sides are axis-aligned envelopes, so the join runs the rect_exact
    envelope-join fast path — blocking, equi-join, bbox test, and
    reference-point dedup all in whole-stage codegen, no Python kernel
    (the irregular-polygon kernel workload is geo_diamond_join_counts /
    geo_covers_join_counts); the oracle is the equivalent closed
    box-overlap range join."""
    from iceberg_geo_poc_spark.geo.functions import st_makeenvelope
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    pts = _lineitem_points(spark, sf_dir)
    polys = pts.select(
        "l_orderkey",
        "lon",
        "lat",
        st_makeenvelope(
            F.col("lon") - 0.5, F.col("lat") - 0.5,
            F.col("lon") + 0.5, F.col("lat") + 0.5,
        ).alias("pgeom"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 170.0).alias("x0"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 80.0).alias("y0"),
    )
    rects = sup.withColumn(
        "rgeom",
        st_makeenvelope(
            "x0", "y0", F.col("x0") + F.lit(8.0), F.col("y0") + F.lit(8.0)
        ),
    ).select("s_suppkey", "x0", "y0", "rgeom")
    # cell ~ rect size: measured sweet spot at sf0.1 (20.0 doubles the
    # candidate pairs per cell; below 4.0 the rect-side explode dominates);
    # constructed-geometry bounds keep the blocking pipeline in codegen
    j = grid_spatial_join(
        polys, rects, left_geom="pgeom", right_geom="rgeom", cell_size=6.0,
        left_bounds=("lon - 0.5D", "lat - 0.5D", "lon + 0.5D", "lat + 0.5D"),
        right_bounds=("x0", "y0", "x0 + 8.0D", "y0 + 8.0D"),
        # both sides are axis-aligned envelopes: bbox-overlap IS
        # st_intersects, so the join never leaves whole-stage codegen
        rect_exact=True,
    )
    return (
        j.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_polys"))
        .orderBy("s_suppkey")
    )


@query(
    "geo_diamond_join_counts",
    oracle=f"""
    WITH pts AS (
      SELECT l_orderkey, {_LON} AS lon, {_LAT} AS lat FROM lineitem),
    cells AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 340 AS DOUBLE) - 166.0 AS cx,
             CAST((s_suppkey * 7) % 160 AS DOUBLE) - 76.0 AS cy
      FROM supplier)
    SELECT c.s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_diamonds
    FROM cells c JOIN pts p
      ON ABS(p.lon - c.cx) + ABS(p.lat - c.cy) <= 4.705
    GROUP BY c.s_suppkey
    ORDER BY c.s_suppkey
    """,
)
def geo_diamond_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-axis-aligned POLYGON × POLYGON spatial join: rotated squares
    (L1 diamonds) around lineitem points joined to larger supplier
    diamonds via st_intersects.  Neither side is an axis-aligned
    rectangle, so the exact predicate exercises the vectorized irregular
    polygon×polygon kernel (geo/functions.py _fast_polypoly_predicate).
    Oracle: two L1 balls intersect iff the L1 distance of their centers
    is at most the radius sum (diamonds are closed under Minkowski sum);
    the radius sum 0.3 + 4.405 = 4.705 sits between the data's 0.01
    coordinate grid steps, so no pair lands on the boundary-epsilon.
    """
    from iceberg_geo_poc_spark.geo.functions import st_diamond_pair_intersects
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    pts = _lineitem_points(spark, sf_dir).select("l_orderkey", "lon", "lat")
    cells = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 166.0).alias("cx"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 76.0).alias("cy"),
    )
    # fixed-radius diamonds: bounds = center +- r, pure codegen blocking;
    # the exact predicate is the FUSED diamond-pair kernel — both WKB
    # builds AND the irregular polygon×polygon predicate run in ONE
    # ArrowEvalPython node over coordinate doubles (identical builder
    # bytes + kernel as the composed st_diamond/st_intersects form)
    j = grid_spatial_join(
        pts, cells, cell_size=6.0,
        left_bounds=("lon - 0.3D", "lat - 0.3D", "lon + 0.3D", "lat + 0.3D"),
        right_bounds=(
            "cx - 4.405D", "cy - 4.405D", "cx + 4.405D", "cy + 4.405D",
        ),
        exact_predicate=st_diamond_pair_intersects(
            "lon", "lat", F.lit(0.3), "cx", "cy", F.lit(4.405)
        ),
    )
    return (
        j.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_diamonds"))
        .orderBy("s_suppkey")
    )


@query(
    "geo_ragged_poly_join_counts",
    oracle=f"""
    WITH pts AS (
      SELECT l_orderkey, {_LON} AS lon, {_LAT} AS lat FROM lineitem),
    cells AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 340 AS DOUBLE) - 166.0 AS cx,
             CAST((s_suppkey * 7) % 160 AS DOUBLE) - 76.0 AS cy
      FROM supplier)
    SELECT c.s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_ragged
    FROM cells c JOIN pts p
      ON ABS(p.lon - c.cx) + ABS(p.lat - c.cy) <= 4.705
    GROUP BY c.s_suppkey
    ORDER BY c.s_suppkey
    """,
)
def geo_ragged_poly_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED-VERTEX-COUNT polygon × polygon join: each diamond's edges
    are subdivided into a per-row number of collinear segments (vertex
    counts 4k+1 for k = 1 + key % 2 / % 3), so every batch has varied
    WKB byte lengths and the vectorized kernel takes the RAGGED pack
    (geo/functions.py _polys_ragged_core) instead of the uniform
    fast path — the workload VERDICT r4 flagged as interpreter-bound.
    The small k range keeps the total vertex work comparable to
    geo_diamond_join_counts, so the bench ratio between the two isolates
    the raggedness overhead rather than extra geometry.  Geometry is
    unchanged by subdivision (extra vertices lie ON the edges), so the
    L1-ball oracle from geo_diamond_join_counts holds verbatim: two
    diamonds intersect iff their centers' L1 distance is at most the
    radius sum 0.3 + 4.405 = 4.705."""
    from iceberg_geo_poc_spark.geo.functions import (
        st_subdivided_diamond_pair_intersects,
    )
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    pts = _lineitem_points(spark, sf_dir).select("l_orderkey", "lon", "lat")
    cells = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 166.0).alias("cx"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 76.0).alias("cy"),
    )
    # fused ragged pair kernel: both subdivided-diamond WKB builds (per-
    # row vertex counts 4k+1) and the RAGGED pack + predicate in one
    # ArrowEvalPython node — the workload still runs _polys_ragged_core
    # on varied byte lengths, exactly as the composed form did
    j = grid_spatial_join(
        pts, cells, cell_size=6.0,
        left_bounds=("lon - 0.3D", "lat - 0.3D", "lon + 0.3D", "lat + 0.3D"),
        right_bounds=(
            "cx - 4.405D", "cy - 4.405D", "cx + 4.405D", "cy + 4.405D",
        ),
        exact_predicate=st_subdivided_diamond_pair_intersects(
            "lon", "lat", F.lit(0.3), F.lit(1) + F.col("l_orderkey") % 2,
            "cx", "cy", F.lit(4.405), F.lit(1) + F.col("s_suppkey") % 3,
        ),
    )
    return (
        j.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_ragged"))
        .orderBy("s_suppkey")
    )


def ragged_join_candidate_count(spark: SparkSession, sf_dir: str) -> int:
    """In-plan candidate-pair count for ``geo_ragged_poly_join_counts``
    (VERDICT r11 #2): the number of bbox-overlap pairs that survive the
    grid join + codegen prefilter + reference-point dedup — i.e. exactly
    the pairs the Python geometry kernel would receive.  Built with
    ``rect_exact=True`` so the exact predicate (and even the WKB
    construction) is elided: the count is pure codegen, usable at any
    scale.  The sf1 lane measures this at 1x and 10x fact data against
    the FIXED supplier dimension — linear growth (≈10x) certifies the
    fixed ``cell_size=6.0`` grid does NOT densify superlinearly under
    data growth, i.e. a superlinear *time* ratio is host noise, not a
    candidate blowup."""
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    pts = _lineitem_points(spark, sf_dir).select("l_orderkey", "lon", "lat")
    cells = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 166.0).alias("cx"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 76.0).alias("cy"),
    )
    j = grid_spatial_join(
        pts, cells, left_geom="lon", right_geom="cx", cell_size=6.0,
        rect_exact=True,
        left_bounds=("lon - 0.3D", "lat - 0.3D", "lon + 0.3D", "lat + 0.3D"),
        right_bounds=(
            "cx - 4.405D", "cy - 4.405D", "cx + 4.405D", "cy + 4.405D",
        ),
    )
    return j.count()


@query(
    "geo_annulus_join_counts",
    oracle=f"""
    WITH pts AS (
      SELECT l_orderkey, {_LON} AS lon, {_LAT} AS lat FROM lineitem),
    cells AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 340 AS DOUBLE) - 166.0 AS cx,
             CAST((s_suppkey * 7) % 160 AS DOUBLE) - 76.0 AS cy
      FROM supplier)
    SELECT c.s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM cells c JOIN pts p
      ON ABS(p.lon - c.cx) + ABS(p.lat - c.cy) <= 4.705
     AND ABS(p.lon - c.cx) + ABS(p.lat - c.cy) >= 1.895
    GROUP BY c.s_suppkey
    ORDER BY c.s_suppkey
    """,
)
def geo_annulus_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLED polygon × polygon join: supplier cells become L1 annuli
    (diamond shell radius 4.405 with a concentric diamond HOLE of
    radius 2.195) intersected with small point diamonds (radius 0.3) —
    the multi-ring workload for the vectorized polygon pack (holes run
    through crossing parity, geo/functions.py _polys_finish).
    Oracle (exact for L1 balls): the small diamond B meets the annulus
    iff its center distance d satisfies d <= 4.405 + 0.3 = 4.705 (B
    reaches the shell) AND d >= 2.195 - 0.3 = 1.895 (B is not strictly
    inside the hole); both thresholds end off the data's 0.01 grid."""
    from iceberg_geo_poc_spark.geo.functions import (
        st_diamond_annulus_pair_intersects,
    )
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    pts = _lineitem_points(spark, sf_dir).select("l_orderkey", "lon", "lat")
    cells = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 166.0).alias("cx"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 76.0).alias("cy"),
    )
    # fused diamond×annulus kernel: both builds (incl. the two-ring holed
    # polygon) and the multi-ring crossing-parity predicate in one
    # ArrowEvalPython node
    j = grid_spatial_join(
        pts, cells, cell_size=6.0,
        left_bounds=("lon - 0.3D", "lat - 0.3D", "lon + 0.3D", "lat + 0.3D"),
        right_bounds=(
            "cx - 4.405D", "cy - 4.405D", "cx + 4.405D", "cy + 4.405D",
        ),
        exact_predicate=st_diamond_annulus_pair_intersects(
            "lon", "lat", F.lit(0.3), "cx", "cy", F.lit(4.405), F.lit(2.195)
        ),
    )
    return (
        j.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("s_suppkey")
    )


@query(
    "geo_dwithin_join_counts",
    oracle=f"""
    WITH pts AS (
      SELECT l_orderkey, {_LON} AS lon, {_LAT} AS lat FROM lineitem),
    centers AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 340 AS DOUBLE) - 170.0 AS cx,
             CAST((s_suppkey * 7) % 160 AS DOUBLE) - 80.0 AS cy
      FROM supplier)
    SELECT c.s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_near
    FROM centers c JOIN pts p
      ON (p.lon - c.cx) * (p.lon - c.cx) + (p.lat - c.cy) * (p.lat - c.cy)
         <= 3.105 * 3.105
    GROUP BY c.s_suppkey
    ORDER BY c.s_suppkey
    """,
)
def geo_dwithin_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance join (st_dwithin semantics) through the grid spatial
    join's distance variant: lineitem points within 3.105 degrees of
    supplier centers.  The exact predicate runs the vectorized
    point×point hypot path; the radius 3.105 sits between the data's
    0.01 coordinate grid steps so no pair lands on the boundary.
    Oracle: the equivalent squared-euclidean range join."""
    from iceberg_geo_poc_spark.geo.functions import st_point_pair_distance
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    pts = _lineitem_points(spark, sf_dir).select("l_orderkey", "lon", "lat")
    centers = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 170.0).alias("cx"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 80.0).alias("cy"),
    )
    # distance=3.105 still dilates the blocking grid; the exact test is
    # the FUSED point-pair distance kernel (point builds + vectorized
    # hypot in one ArrowEvalPython node) compared in codegen
    j = grid_spatial_join(
        pts, centers,
        cell_size=6.0, distance=3.105,
        left_bounds=("lon", "lat", "lon", "lat"),
        right_bounds=(F.col("cx"), F.col("cy"), F.col("cx"), F.col("cy")),
        exact_predicate=(
            st_point_pair_distance("lon", "lat", "cx", "cy") <= F.lit(3.105)
        ),
    )
    return (
        j.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_near"))
        .orderBy("s_suppkey")
    )


@query(
    "geo_covers_join_counts",
    oracle=f"""
    WITH pts AS (
      SELECT l_orderkey, {_LON} AS lon, {_LAT} AS lat FROM lineitem),
    cells AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 340 AS DOUBLE) - 166.0 AS cx,
             CAST((s_suppkey * 7) % 160 AS DOUBLE) - 76.0 AS cy
      FROM supplier)
    SELECT c.s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_covered
    FROM cells c JOIN pts p
      ON ABS(p.lon - c.cx) + ABS(p.lat - c.cy) <= 4.105
    GROUP BY c.s_suppkey
    ORDER BY c.s_suppkey
    """,
)
def geo_covers_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYGON-covers-POLYGON spatial join through the vectorized
    covers kernel: supplier diamonds (L1 radius 4.405) covering lineitem
    diamonds (radius 0.3).  An L1 ball covers another iff the center L1
    distance is at most R - r = 4.105 (Minkowski difference of L1
    balls); 4.105 sits between the 0.01 coordinate grid steps so no
    pair lands on the boundary epsilon.  The grid join blocks on
    intersecting envelopes; the covers predicate then filters pairs."""
    from iceberg_geo_poc_spark.geo.functions import st_diamond_pair_covers
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    pts = _lineitem_points(spark, sf_dir).select("l_orderkey", "lon", "lat")
    cells = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 166.0).alias("cx"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 76.0).alias("cy"),
    )
    # fused kernel evaluating the exact conjunction the composed form
    # applied in two filters — intersects(p, c) from the grid join AND
    # covers(c, p) from the post-filter — in one ArrowEvalPython node
    j = grid_spatial_join(
        pts, cells, cell_size=6.0,
        left_bounds=("lon - 0.3D", "lat - 0.3D", "lon + 0.3D", "lat + 0.3D"),
        right_bounds=(
            "cx - 4.405D", "cy - 4.405D", "cx + 4.405D", "cy + 4.405D",
        ),
        exact_predicate=st_diamond_pair_covers(
            "cx", "cy", F.lit(4.405), "lon", "lat", F.lit(0.3)
        ),
    )
    return (
        j.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_covered"))
        .orderBy("s_suppkey")
    )


@query(
    "geo_knn_join",
    oracle=f"""
    WITH pts AS (
      SELECT l_orderkey, l_linenumber, {_LON} AS lon, {_LAT} AS lat
      FROM lineitem),
    centers AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 340 AS DOUBLE) - 170.0 AS cx,
             CAST((s_suppkey * 7) % 160 AS DOUBLE) - 80.0 AS cy
      FROM supplier),
    ranked AS (
      SELECT c.s_suppkey, p.l_orderkey, p.l_linenumber,
             ROUND(sqrt((p.lon - c.cx) * (p.lon - c.cx)
                      + (p.lat - c.cy) * (p.lat - c.cy)), 6) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY c.s_suppkey
               ORDER BY ROUND(sqrt((p.lon - c.cx) * (p.lon - c.cx)
                                 + (p.lat - c.cy) * (p.lat - c.cy)), 6),
                        p.l_orderkey, p.l_linenumber) AS rnk
      FROM centers c CROSS JOIN pts p)
    SELECT s_suppkey, CAST(rnk AS BIGINT) AS rnk, l_orderkey, l_linenumber, dist
    FROM ranked WHERE rnk <= 3
    ORDER BY s_suppkey, rnk
    """,
)
def geo_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial K-nearest-neighbor join (Sedona ST_KNN analogue): the 3
    nearest lineitem points for every supplier center, via the
    expanding-radius grid protocol (geo/spatial_join.py::grid_knn_join)
    — per round one PBSM distance join + windowed top-k, never a cross
    join.  The DuckDB oracle IS the cross join (exact), so the protocol's
    resolution rule (top-k within r is global top-k once >= k neighbors
    are inside r) is value-checked end-to-end."""
    from iceberg_geo_poc_spark.geo.spatial_join import grid_knn_join

    pts = _lineitem_points(spark, sf_dir)
    centers = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 340).cast("double") - 170.0).alias("cx"),
        (((F.col("s_suppkey") * 7) % 160).cast("double") - 80.0).alias("cy"),
    )
    from iceberg_geo_poc_spark.geo.functions import st_point

    cgeom = centers.withColumn("cgeom", st_point("cx", "cy"))
    j = grid_knn_join(
        cgeom,
        pts,
        k=3,
        left_id=["s_suppkey"],
        tie_break=["l_orderkey", "l_linenumber"],
        # lat coverage is sparse above ~10 deg (l_suppkey%180 over 100
        # suppliers), so far centers need radius ~70 to see 3 neighbors
        initial_radius=4.0,
        max_rounds=6,
        left_geom="cgeom",
        right_geom="geom",
        left_bounds=(F.col("cx"), F.col("cy"), F.col("cx"), F.col("cy")),
        right_bounds=(F.col("lon"), F.col("lat"), F.col("lon"), F.col("lat")),
    )
    return (
        j.select(
            "s_suppkey",
            F.col("knn_rank").cast("long").alias("rnk"),
            "l_orderkey",
            "l_linenumber",
            F.col("knn_dist").alias("dist"),
        )
        .orderBy("s_suppkey", "rnk")
    )


@query(
    "geo_envelope_aggr",
    oracle=f"""
    SELECT CASE WHEN {_LON} >= 0 AND {_LAT} >= 0 THEN 0
                WHEN {_LON} < 0 AND {_LAT} >= 0 THEN 1
                WHEN {_LON} < 0 AND {_LAT} < 0 THEN 2
                ELSE 3 END AS quadrant,
           ROUND(MIN({_LON}), 6) AS xmin, ROUND(MIN({_LAT}), 6) AS ymin,
           ROUND(MAX({_LON}), 6) AS xmax, ROUND(MAX({_LAT}), 6) AS ymax,
           TRUE AS envelope_wkb_valid
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def geo_envelope_aggr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate bounding envelope per quadrant (Sedona ST_Envelope_Aggr
    analogue, geo/functions.py::st_envelope_aggr): one vectorized
    bounds pass + codegen min/max.  The WKB envelope column is verified
    structurally (its own bounds re-extract to the aggregated min/max)
    and the coordinates are oracle-pinned."""
    from iceberg_geo_poc_spark.geo.functions import (
        st_envelope_aggr,
        st_xmin_udf,
        st_ymax_udf,
    )

    pts = _lineitem_points(spark, sf_dir).withColumn(
        "quadrant",
        F.when((F.col("lon") >= 0) & (F.col("lat") >= 0), 0)
        .when((F.col("lon") < 0) & (F.col("lat") >= 0), 1)
        .when((F.col("lon") < 0) & (F.col("lat") < 0), 2)
        .otherwise(3),
    )
    env = st_envelope_aggr(pts, "geom", ["quadrant"])
    return env.select(
        "quadrant",
        F.round("xmin", 6).alias("xmin"),
        F.round("ymin", 6).alias("ymin"),
        F.round("xmax", 6).alias("xmax"),
        F.round("ymax", 6).alias("ymax"),
        (
            (st_xmin_udf(F.col("envelope")) == F.col("xmin"))
            & (st_ymax_udf(F.col("envelope")) == F.col("ymax"))
        ).alias("envelope_wkb_valid"),
    ).orderBy("quadrant")


@query(
    "geo_sql_function_surface",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           ROUND({_LON}, 6) AS x, ROUND({_LAT}, 6) AS y
    FROM lineitem
    WHERE {_LON} >= -30.0 AND {_LON} <= 30.0
      AND {_LAT} >= -15.0 AND {_LAT} <= 15.0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def geo_sql_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The st_* surface through SQL TEXT: register_geo_functions
    exposes the UDFs to spark.sql (the entry point the reference's
    Sedona SPI serves), and a pure-SQL query builds points, applies
    st_covers against an st_makeenvelope window, and reads coordinates
    back with st_x/st_y — oracle-pinned per row."""
    from iceberg_geo_poc_spark.geo.functions import register_geo_functions

    register_geo_functions(spark)
    _lineitem_points(spark, sf_dir).createOrReplaceTempView("geo_pts_sql")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               ROUND(st_x(geom), 6) AS x, ROUND(st_y(geom), 6) AS y
        FROM geo_pts_sql
        WHERE st_covers(st_makeenvelope(-30.0D, -15.0D, 30.0D, 15.0D), geom)
        ORDER BY l_orderkey, l_linenumber
        """
    )


@query(
    "geo_collect_aggr",
    oracle=f"""
    SELECT CASE WHEN {_LON} >= 0 AND {_LAT} >= 0 THEN 0
                WHEN {_LON} < 0 AND {_LAT} >= 0 THEN 1
                WHEN {_LON} < 0 AND {_LAT} < 0 THEN 2
                ELSE 3 END AS quadrant,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(COUNT(*) * 0.0625, 6) AS total_area,
           ROUND(MIN({_LON}) - 0.125, 6) AS xmin,
           ROUND(MIN({_LAT}) - 0.125, 6) AS ymin,
           ROUND(MAX({_LON}) + 0.125, 6) AS xmax,
           ROUND(MAX({_LAT}) + 0.125, 6) AS ymax
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def geo_collect_aggr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Collect aggregate (geo/functions.py::st_collect_aggr, the
    Sedona ST_Collect analogue): every lineitem point becomes a
    0.25x0.25 envelope box (binary-exact area 0.0625), each quadrant's
    boxes assemble into ONE MultiPolygon via a collect_list partial
    aggregate + a single Arrow-batched assembly UDF.  The oracle pins
    collection semantics exactly: part count, total area (areas sum
    over parts — 0.0625·n, exact in doubles), and the collection's
    union bounds, all recomputed from the assembled WKB (area and
    bounds are decoded from the collection bytes, proving the
    multi-geometry assembly, not just the group counts).

    The four bounds read through ONE ``st_bounds_once_udf`` decode of
    the collection (the dedicated non-deterministic instance, so
    projection collapse cannot clone the decode per extracted field
    and the shared ``st_bounds_udf`` keeps its deterministic planning
    everywhere else — ADVICE r15) — with the assembly
    UDF itself single-evaluation, the tail is 1 assembly + 2 decodes
    (bounds + area) instead of the 5 assemblies + 5 decodes the
    duplicated plan paid (guide §4.4 shape; values identical)."""
    from iceberg_geo_poc_spark.geo.functions import (
        st_area_udf,
        st_bounds_once_udf,
        st_collect_aggr,
        st_makeenvelope,
    )

    pts = _lineitem_points(spark, sf_dir).withColumn(
        "quadrant",
        F.when((F.col("lon") >= 0) & (F.col("lat") >= 0), 0)
        .when((F.col("lon") < 0) & (F.col("lat") >= 0), 1)
        .when((F.col("lon") < 0) & (F.col("lat") < 0), 2)
        .otherwise(3),
    )
    boxes = pts.withColumn(
        "cell",
        st_makeenvelope(
            F.col("lon") - 0.125,
            F.col("lat") - 0.125,
            F.col("lon") + 0.125,
            F.col("lat") + 0.125,
        ),
    )
    coll = st_collect_aggr(boxes, "cell", ["quadrant"])
    withb = coll.withColumn("__cb", st_bounds_once_udf(F.col("collection")))
    return withb.select(
        "quadrant",
        F.col("n_parts").cast("long").alias("n_parts"),
        F.round(st_area_udf(F.col("collection")), 6).alias("total_area"),
        F.round(F.col("__cb.xmin"), 6).alias("xmin"),
        F.round(F.col("__cb.ymin"), 6).alias("ymin"),
        F.round(F.col("__cb.xmax"), 6).alias("xmax"),
        F.round(F.col("__cb.ymax"), 6).alias("ymax"),
    ).orderBy("quadrant")
