"""Spark-side geo UDF tests: the st_* surface over DataFrames."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from iceberg_geo_poc_spark.geo import Point, box
from iceberg_geo_poc_spark.geo.functions import (
    geo_literal,
    register_geo_functions,
    st_hilbert,
    st_intersects,
    st_point,
)
from iceberg_geo_poc_spark.geo.wkb import geometry_from_wkb


@pytest.fixture(scope="module")
def geo_df(spark):
    rows = [(i, float(i), float(i) * 2) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    return df.withColumn("geom", st_point("x", "y"))


def test_st_point_roundtrip(geo_df):
    got = geo_df.select("id", "geom").orderBy("id").collect()
    for row in got:
        g = geometry_from_wkb(bytes(row.geom))
        assert g == Point(float(row.id), float(row.id) * 2)


def test_st_intersects_with_literal_window(geo_df):
    window = box(1.5, 2.5, 5.5, 20.0)
    got = (
        geo_df.filter(st_intersects("geom", geo_literal(window)))
        .select("id")
        .orderBy("id")
        .collect()
    )
    # points (x, 2x) with 1.5<=x<=5.5 and 2.5<=2x<=20 -> x in {2,3,4,5}
    assert [r.id for r in got] == [2, 3, 4, 5]


def test_sql_registration(spark, geo_df):
    register_geo_functions(spark)
    geo_df.createOrReplaceTempView("geo_pts")
    got = spark.sql(
        """
        SELECT id, st_x(geom) AS x, st_y(geom) AS y,
               st_astext(geom) AS wkt,
               st_area(st_buffer(geom, CAST(1.0 AS DOUBLE))) AS buf_area
        FROM geo_pts WHERE id = 3
        """
    ).collect()[0]
    assert got.x == 3.0 and got.y == 6.0
    assert got.wkt == "POINT (3 6)"
    assert abs(got.buf_area - 3.14159) < 0.01


_ACCESSORS = ("st_x", "st_y", "st_xmin", "st_ymin", "st_xmax", "st_ymax")
_ACCESSOR_CASES = {
    # input SQL -> (x, y, xmin, ymin, xmax, ymax)
    "point": ("st_geomfromtext('POINT (1 2)')", (1.0, 2.0, 1.0, 2.0, 1.0, 2.0)),
    "polygon": (
        "st_geomfromtext('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))')",
        (None, None, 0.0, 0.0, 4.0, 3.0),
    ),
    "point_empty": ("st_geomfromtext('POINT EMPTY')", (None,) * 6),
    "null": ("CAST(NULL AS BINARY)", (None,) * 6),
}


@pytest.mark.parametrize("case", list(_ACCESSOR_CASES))
def test_sql_accessor_null_semantics(spark, case):
    """x/y of a non-point, bounds of an empty geometry and any accessor
    of NULL are NULL (never NaN)."""
    register_geo_functions(spark)
    geom, want = _ACCESSOR_CASES[case]
    cols = ", ".join(f"{f}(g) AS {f}" for f in _ACCESSORS)
    row = spark.sql(f"SELECT {cols} FROM (SELECT {geom} AS g)").collect()[0]
    assert tuple(row[f] for f in _ACCESSORS) == want


def test_st_hilbert_column(spark, geo_df):
    got = geo_df.select("id", st_hilbert("geom", 10).alias("h")).collect()
    assert all(r.h is not None and r.h >= 0 for r in got)
    # out-of-bounds point -> NULL
    oob = spark.createDataFrame([(200.0, 10.0)], "x double, y double")
    hrow = oob.select(st_hilbert(st_point("x", "y"), 10).alias("h")).collect()[0]
    assert hrow.h is None


def test_st_hilbert_refuses_bad_extent_on_driver(spark, geo_df):
    """A bad extent fails when the column is built, not inside a task."""
    with pytest.raises(ValueError, match="hilbert bounds"):
        st_hilbert("geom", 10, (0.0, 0.0, 0.0, 10.0))
    with pytest.raises(ValueError, match="hilbert resolution"):
        st_hilbert("geom", 31)


def test_st_hilbert_sql_form_equals_column_form(spark):
    """The six-argument SQL st_hilbert and the Column st_hilbert share
    one kernel: same key (or NULL) on every row."""
    from iceberg_geo_poc_spark.geo import MultiPolygon, Polygon, geometry_from_wkt
    from iceberg_geo_poc_spark.geo.wkb import geometry_to_wkb

    tri = Polygon([(10, 10), (30, 12), (14, 40)])
    geoms = [
        Point(12.5, -7.25),
        Point(170.0, 80.0),
        box(-50, -20, -10, 5),
        tri,
        MultiPolygon([tri, box(60, 20, 70, 30)]),
        geometry_from_wkt("POINT EMPTY"),
        Point(200.0, 10.0),
        None,
    ]
    rows = [
        (i, None if g is None else bytearray(geometry_to_wkb(g)))
        for i, g in enumerate(geoms)
    ]
    rows.append((len(rows), bytearray(geometry_to_wkb(tri, srid=4326))))
    df = spark.createDataFrame(rows, "id long, g binary")
    register_geo_functions(spark)
    for res, bounds, sql_bounds in (
        (10, (-180.0, -90.0, 180.0, 90.0), "-180, -90, 180, 90"),
        (12, (-60.0, -30.0, 90.0, 45.0), "-60D, -30D, 90D, 45D"),
    ):
        got = df.select(
            "id",
            st_hilbert("g", res, bounds).alias("col"),
            F.expr(f"st_hilbert(g, {res}, {sql_bounds})").alias("sql"),
        ).collect()
        assert len(got) == len(rows)
        assert all(r.col == r.sql for r in got), got
        assert sum(r.col is not None for r in got) >= 4, got


def test_distance_and_covers_sql(spark, geo_df):
    register_geo_functions(spark)
    geo_df.createOrReplaceTempView("geo_pts")
    row = spark.sql(
        """
        SELECT st_distance(st_point(CAST(0.0 AS DOUBLE), CAST(3.0 AS DOUBLE)),
                           st_point(CAST(4.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS d,
               st_covers(st_buffer(st_point(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
                                   CAST(2.0 AS DOUBLE)),
                         st_point(CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) AS c
        """
    ).collect()[0]
    assert row.d == pytest.approx(5.0)
    assert row.c is True


def test_grid_spatial_join_matches_brute_force(spark):
    """Grid-blocked spatial join == brute-force cross join + predicate,
    including rectangles spanning multiple cells (duplicate-avoidance
    reference-point rule) and disjoint pairs."""
    import random

    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.geo.functions import (
        st_intersects,
        st_makeenvelope,
        st_point,
    )
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    rng = random.Random(3)
    pts = spark.createDataFrame(
        [(i, rng.uniform(-50, 50), rng.uniform(-50, 50)) for i in range(300)],
        "pid BIGINT, px DOUBLE, py DOUBLE",
    ).withColumn("geom", st_point("px", "py"))
    rects = spark.createDataFrame(
        [
            (
                j,
                rng.uniform(-55, 35),
                rng.uniform(-55, 35),
                rng.uniform(0.5, 25.0),  # some rects span several 10° cells
                rng.uniform(0.5, 25.0),
            )
            for j in range(40)
        ],
        "rid BIGINT, x0 DOUBLE, y0 DOUBLE, w DOUBLE, h DOUBLE",
    ).withColumn(
        "geom",
        st_makeenvelope(
            "x0", "y0", F.col("x0") + F.col("w"), F.col("y0") + F.col("h")
        ),
    )
    got = {
        (r.pid, r.rid)
        for r in grid_spatial_join(
            pts.select("pid", "geom"), rects.select("rid", "geom"), cell_size=10.0
        ).collect()
    }
    brute = {
        (r.pid, r.rid)
        for r in pts.select("pid", "px", "py")
        .crossJoin(rects.select("rid", "x0", "y0", "w", "h"))
        .filter(
            (F.col("px") >= F.col("x0"))
            & (F.col("px") <= F.col("x0") + F.col("w"))
            & (F.col("py") >= F.col("y0"))
            & (F.col("py") <= F.col("y0") + F.col("h"))
        )
        .collect()
    }
    assert got == brute and len(brute) > 50
    # rect-rect join too (both sides multi-cell)
    got2 = {
        (r.rid, r.rid_2)
        for r in grid_spatial_join(
            rects.select("rid", "geom"),
            rects.select(F.col("rid").alias("rid_2"), "geom"),
            cell_size=10.0,
        ).collect()
    }
    brute2 = set()
    rows = rects.select("rid", "x0", "y0", "w", "h").collect()
    for a in rows:
        for b in rows:
            if (
                a.x0 <= b.x0 + b.w and a.x0 + a.w >= b.x0
                and a.y0 <= b.y0 + b.h and a.y0 + a.h >= b.y0
            ):
                brute2.add((a.rid, b.rid))
    assert got2 == brute2


def test_grid_spatial_join_adaptive_cell(spark):
    """cell_size=None picks the grid from measured envelope density and
    returns exactly the fixed-grid result (the pair set is grid-size
    invariant by construction — the grid only affects blocking)."""
    import random

    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.geo.functions import st_makeenvelope, st_point
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    rng = random.Random(7)
    pts = spark.createDataFrame(
        [(i, rng.uniform(-40, 40), rng.uniform(-40, 40)) for i in range(200)],
        "pid BIGINT, px DOUBLE, py DOUBLE",
    ).withColumn("geom", st_point("px", "py"))
    rects = spark.createDataFrame(
        [
            (j, rng.uniform(-45, 30), rng.uniform(-45, 30),
             rng.uniform(1.0, 12.0), rng.uniform(1.0, 12.0))
            for j in range(30)
        ],
        "rid BIGINT, x0 DOUBLE, y0 DOUBLE, w DOUBLE, h DOUBLE",
    ).withColumn(
        "geom",
        st_makeenvelope(
            "x0", "y0", F.col("x0") + F.col("w"), F.col("y0") + F.col("h")
        ),
    )

    def pairs(cell):
        return {
            (r.pid, r.rid)
            for r in grid_spatial_join(
                pts.select("pid", "geom"), rects.select("rid", "geom"),
                cell_size=cell,
            ).collect()
        }

    assert pairs(None) == pairs(10.0)


def test_grid_spatial_join_adaptive_empty_side(spark):
    """cell_size=None with an EMPTY side returns an empty result cleanly
    (ADVICE r12: the span aggregates come back None — must not TypeError)
    and without fanning the non-empty side into a degenerate tiny grid."""
    from iceberg_geo_poc_spark.geo.functions import st_makeenvelope, st_point
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 500.0, 500.0)], "pid BIGINT, px DOUBLE, py DOUBLE"
    ).withColumn("geom", st_point("px", "py"))
    import pyspark.sql.functions as F

    empty = spark.createDataFrame(
        [], "rid BIGINT, x0 DOUBLE, y0 DOUBLE"
    ).withColumn("geom", st_makeenvelope("x0", "y0", F.col("x0"), F.col("y0")))
    assert grid_spatial_join(
        pts.select("pid", "geom"), empty.select("rid", "geom"), cell_size=None
    ).collect() == []
    assert grid_spatial_join(
        empty.select("rid", "geom"), pts.select("pid", "geom"), cell_size=None
    ).collect() == []
    # both sides empty
    assert grid_spatial_join(
        empty.select("rid", "geom"),
        empty.withColumnRenamed("rid", "sid").select("sid", "geom"),
        cell_size=None,
    ).collect() == []


def test_grid_spatial_join_distance_variant(spark):
    """distance=d variant == brute-force st_dwithin, across cell
    boundaries (right-side envelope dilation)."""
    import random

    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.geo.functions import st_point
    from iceberg_geo_poc_spark.geo.spatial_join import grid_spatial_join

    rng = random.Random(5)
    a = spark.createDataFrame(
        [(i, rng.uniform(-30, 30), rng.uniform(-30, 30)) for i in range(150)],
        "aid BIGINT, ax DOUBLE, ay DOUBLE",
    ).withColumn("geom", st_point("ax", "ay"))
    b = spark.createDataFrame(
        [(j, rng.uniform(-30, 30), rng.uniform(-30, 30)) for j in range(150)],
        "bid BIGINT, bx DOUBLE, by DOUBLE",
    ).withColumn("geom", st_point("bx", "by"))
    got = {
        (r.aid, r.bid)
        for r in grid_spatial_join(
            a.select("aid", "geom"), b.select("bid", "geom"),
            cell_size=10.0, distance=3.0,
        ).collect()
    }
    brute = {
        (r.aid, r.bid)
        for r in a.select("aid", "ax", "ay")
        .crossJoin(b.select("bid", "bx", "by"))
        .filter(
            F.sqrt(
                (F.col("ax") - F.col("bx")) ** 2 + (F.col("ay") - F.col("by")) ** 2
            )
            <= 3.0
        )
        .collect()
    }
    assert got == brute and len(brute) > 20


def test_st_dwithin(spark):
    from iceberg_geo_poc_spark.geo.functions import register_geo_functions

    register_geo_functions(spark)
    row = spark.sql(
        """
        SELECT st_dwithin(st_point(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
                          st_point(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE)),
                          CAST(5.0 AS DOUBLE)) AS a,
               st_dwithin(st_point(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
                          st_point(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE)),
                          CAST(4.9 AS DOUBLE)) AS b
        """
    ).collect()[0]
    assert row.a is True and row.b is False


def test_grid_knn_join_matches_brute_force(spark):
    """Expanding-radius KNN join == exact window-over-cross-join, on a
    corpus engineered so some probes resolve in round 1 and others need
    multiple doublings."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.geo.functions import st_point
    from iceberg_geo_poc_spark.geo.spatial_join import grid_knn_join

    pts = spark.range(0, 400).select(
        F.col("id").alias("pid"),
        ((F.col("id") % 20).cast("double") * 0.5).alias("px"),
        ((F.col("id") / 20).cast("double") * 0.5).alias("py"),
    ).withColumn("pg", st_point("px", "py"))
    probes = spark.range(0, 12).select(
        F.col("id").alias("qid"),
        (F.col("id").cast("double") * 3.0 - 5.0).alias("qx"),
        (F.col("id").cast("double") * 2.0 - 3.0).alias("qy"),
    ).withColumn("qg", st_point("qx", "qy"))
    got = grid_knn_join(
        probes, pts, k=4, left_id=["qid"], tie_break=["pid"],
        initial_radius=0.6, max_rounds=7,
        left_geom="qg", right_geom="pg",
        left_bounds=(F.col("qx"), F.col("qy"), F.col("qx"), F.col("qy")),
        right_bounds=(F.col("px"), F.col("py"), F.col("px"), F.col("py")),
    ).select("qid", "knn_rank", "pid", "knn_dist")
    from pyspark.sql import Window

    dist = F.round(
        F.sqrt(
            (F.col("px") - F.col("qx")) ** 2 + (F.col("py") - F.col("qy")) ** 2
        ),
        6,
    )
    w = Window.partitionBy("qid").orderBy(F.col("d"), F.col("pid"))
    want = (
        probes.crossJoin(pts)
        .withColumn("d", dist)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 4)
        .select("qid", F.col("r").alias("knn_rank"), "pid", F.col("d").alias("knn_dist"))
    )
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, want.collect()))
    assert g == e and len(g) == 48
