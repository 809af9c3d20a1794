"""Regression tests for round-15 batch 9: single-evaluation collection
assembly (guide §4.4 UDF-duplication shape) and flat per-round lineage
in the iterative operators (kmeans / PQ Lloyd rounds, expanding-radius
KNN).  Without these properties every downstream action re-derives all
previous rounds (work quadratic-to-exponential in rounds), and the
collection assembly runs once per accessor instead of once."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture()
def emb(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(64)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_collect_aggr_assembles_once(spark):
    """N accessor UDFs over the assembled collection must not clone the
    assembly: the physical plan carries exactly ONE _assemble call."""
    from iceberg_geo_poc_spark.geo.functions import (
        st_area_udf,
        st_bounds_once_udf,
        st_bounds_udf,
        st_collect_aggr,
        st_makeenvelope,
    )

    df = spark.range(20).select(
        (F.col("id") % 4).alias("g"),
        st_makeenvelope(
            F.col("id").cast("double"),
            F.col("id").cast("double"),
            F.col("id").cast("double") + 1.0,
            F.col("id").cast("double") + 1.0,
        ).alias("cell"),
    )
    coll = st_collect_aggr(df, "cell", ["g"])
    out = coll.withColumn(
        "__b", st_bounds_once_udf(F.col("collection"))
    ).select(
        "g",
        st_area_udf(F.col("collection")).alias("area"),
        F.col("__b.xmin"),
        F.col("__b.ymax"),
    )
    plan = _plan(out)
    assert plan.count("_assemble(") == 1, plan
    assert plan.count("st_bounds_once_udf(") == 1, plan
    # the SHARED bounds UDF must stay deterministic — the dedicated
    # instance above is the only non-deterministic one (ADVICE r15:
    # asNondeterministic() mutates in place, so using it on
    # st_bounds_udf would silently flip the spatial-join fallback and
    # st_envelope_aggr planning for the rest of the session)
    assert st_bounds_udf.deterministic, "shared st_bounds_udf was mutated"
    assert not st_bounds_once_udf.deterministic
    # values still correct: 20 unit boxes, 5 per group
    rows = {r["g"]: r for r in out.collect()}
    assert all(abs(rows[g]["area"] - 5.0) < 1e-9 for g in rows)


def test_manifest_bbox_decodes_each_geometry_once(spark):
    """The per-file manifest bbox aggregate decodes each geometry column
    through exactly ONE bounds UDF call, whatever its encoding, and
    min/max over that one envelope give the file's bbox."""
    from iceberg_geo_poc_spark.geo.functions import st_makeenvelope, st_point
    from iceberg_geo_poc_spark.table.manifest import _bbox_frame

    df = spark.range(8).select(
        (F.col("id") % 2).cast("string").alias("__file"),
        st_point(F.col("id").cast("double"), -F.col("id").cast("double")).alias("pt"),
        st_makeenvelope(
            F.col("id").cast("double"),
            F.lit(0.0),
            F.col("id").cast("double") + 0.5,
            F.lit(1.0),
        ).alias("cell"),
        F.concat(
            F.lit("POINT ("), F.col("id").cast("string"), F.lit(" 3)")
        ).alias("txt"),
    )
    out = _bbox_frame(df, {"pt": "wkb", "cell": "wkb", "txt": "wkt"})
    plan = _plan(out)
    # three geometry columns, three decodes (each column needs one)
    assert plan.count("st_bounds_once_udf(") == 3, plan
    rows = {r["__file"]: r for r in out.collect()}
    # file "0" holds ids 0, 2, 4, 6; file "1" holds 1, 3, 5, 7
    assert [rows["0"][f"pt__{k}"] for k in ("xmin", "ymin", "xmax", "ymax")] == [
        0.0, -6.0, 6.0, 0.0,
    ]
    assert [rows["1"][f"cell__{k}"] for k in ("xmin", "ymin", "xmax", "ymax")] == [
        1.0, 0.0, 7.5, 1.0,
    ]
    assert [rows["1"][f"txt__{k}"] for k in ("xmin", "ymin", "xmax", "ymax")] == [
        1.0, 3.0, 7.0, 3.0,
    ]


def test_kmeans_centroids_flat_lineage(spark, emb):
    """Per-round localCheckpoint: the returned centroids' plan is rooted
    at a checkpoint scan, not the 3^iters-branch Lloyd lineage."""
    from iceberg_geo_poc_spark.operators.similarity import kmeans_centroids

    cents = kmeans_centroids(emb, n_centroids=4, iters=2)
    plan = _plan(cents)
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan
    # the Lloyd join/aggregate lineage must be gone from the public plan
    assert "CartesianProduct" not in plan and "posexplode" not in plan, plan
    assert cents.count() == 4


def test_pq_codebooks_flat_lineage(spark, emb):
    from iceberg_geo_poc_spark.operators.similarity import pq_codebooks

    codes = pq_codebooks(emb, m=2, n_codes=4, iters=2)
    plan = _plan(codes)
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan
    assert codes.count() == 8  # m * n_codes


def test_grid_knn_join_flat_lineage(spark):
    """The unioned per-round results are checkpointed: no grid-join /
    Python-eval lineage survives in the public plan, so downstream
    actions (and the per-round emptiness probes while it was built)
    cannot re-derive earlier rounds."""
    from iceberg_geo_poc_spark.geo.functions import st_point
    from iceberg_geo_poc_spark.geo.spatial_join import grid_knn_join

    left = spark.createDataFrame(
        [(i, float(i), 0.0) for i in range(6)], "lid long, x double, y double"
    ).withColumn("geom", st_point("x", "y"))
    right = spark.createDataFrame(
        [(j, float(j) + 0.25, 0.0) for j in range(40)],
        "rid long, u double, v double",
    ).withColumn("geom", st_point("u", "v"))
    j = grid_knn_join(
        left,
        right,
        k=2,
        left_id=["lid"],
        tie_break=["rid"],
        initial_radius=0.5,
        max_rounds=3,
        left_bounds=(F.col("x"), F.col("y"), F.col("x"), F.col("y")),
        right_bounds=(F.col("u"), F.col("v"), F.col("u"), F.col("v")),
    )
    plan = _plan(j)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan
    # every probe resolves 2 neighbors (right side is dense on the line)
    rows = j.collect()
    assert len(rows) == 12
    got = {(r["lid"], r["knn_rank"]): r["rid"] for r in rows}
    # nearest for lid=i at x=i: rid=i (dist .25) then rid=i-1 (dist .75)
    for i in range(1, 6):
        assert got[(i, 1)] == i and got[(i, 2)] == i - 1
