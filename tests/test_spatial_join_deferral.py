"""The grid spatial join builds a constructed build-side geometry after
the join: same rows, same bytes, no Python under the broadcast."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from iceberg_geo_poc_spark.geo import Point, geometry_to_wkb
from iceberg_geo_poc_spark.geo import spatial_join as SJ
from iceberg_geo_poc_spark.geo.functions import (
    st_diamond,
    st_intersects,
    st_makeenvelope,
    st_point,
)

RNG = np.random.default_rng(5)
PX = np.round(RNG.uniform(0, 20, 600), 3)
PY = np.round(RNG.uniform(0, 20, 600), 3)
# the first right row of each kind sits on a left point
ZX, ZY = RNG.uniform(0, 20, 24), RNG.uniform(0, 20, 24)
ZR = RNG.uniform(0.5, 3.0, 24)
QX, QY = np.append(PX[:3], [50.0]), np.append(PY[:3], [50.0])


def _points(spark):
    """Stored point geometries: the left side runs no Python."""
    wkb = [bytearray(geometry_to_wkb(Point(x, y))) for x, y in zip(PX, PY)]
    return spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(PX)), "x": PX, "y": PY, "geom": wkb})
    )


def _zones(spark, r=None):
    pdf = pd.DataFrame({"zid": np.arange(len(ZX)), "cx": ZX, "cy": ZY, "r": ZR})
    return spark.createDataFrame(pdf).select(
        "zid", "cx", "cy", "r",
        st_diamond("cx", "cy", "r" if r is None else r).alias("zgeom"),
    )


ZONE_BOUNDS = ("cx - r", "cy - r", "cx + r", "cy + r")


def _cases(spark):
    """(right frame, right_geom, right_bounds, brute-force pairs)."""
    zones = _zones(spark)
    d = np.abs(PX[:, None] - ZX) + np.abs(PY[:, None] - ZY) <= ZR
    rects = spark.createDataFrame(
        pd.DataFrame({"zid": np.arange(len(ZX)), "x0": ZX - ZR, "y0": ZY - ZR,
                      "x1": ZX + ZR, "y1": ZY})
    ).select("zid", "x0", "y0", "x1", "y1",
             st_makeenvelope("x0", "y0", "x1", "y1").alias("zgeom"))
    e = ((PX[:, None] >= ZX - ZR) & (PX[:, None] <= ZX + ZR)
         & (PY[:, None] >= ZY - ZR) & (PY[:, None] <= ZY))
    probes = spark.createDataFrame(
        pd.DataFrame({"zid": np.arange(len(QX)), "qx": QX, "qy": QY})
    ).withColumn("zgeom", st_point("qx", "qy"))
    q = (PX[:, None] == QX) & (PY[:, None] == QY)
    return {
        "diamond": (zones, ZONE_BOUNDS, d),
        "envelope": (rects, ("x0", "y0", "x1", "y1"), e),
        "point": (probes, ("qx", "qy", "qx", "qy"), q),
    }


def _join(left, right, bounds, **kw):
    return SJ.grid_spatial_join(
        left, right, "geom", "zgeom", cell_size=2.0,
        left_bounds=("x", "y", "x", "y"), right_bounds=bounds, **kw,
    )


def _final_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("kind", ["diamond", "envelope", "point"])
def test_deferred_join_matches_brute_force_and_built_first_form(spark, kind):
    """Every constructor: the deferred join returns the brute-force
    pairs, and the same rows, columns and geometry bytes as the plan
    that builds the geometry before the join (an explicit exact
    predicate keeps that plan)."""
    left = _points(spark)
    right, bounds, brute = _cases(spark)[kind]
    assert SJ._deferred_constructor(right, "zgeom", left.columns) is not None
    deferred = _join(left, right, bounds)
    built_first = _join(
        left, right, bounds,
        exact_predicate=st_intersects(F.col("geom"), F.col("zgeom")),
    )
    assert deferred.columns == built_first.columns == [*left.columns, *right.columns]
    rows = sorted(tuple(r) for r in deferred.collect())
    assert rows == sorted(tuple(r) for r in built_first.collect())
    want = {(int(i), int(j)) for i, j in zip(*np.nonzero(brute))}
    assert {(r[0], r[4]) for r in rows} == want and want


def test_deferred_join_runs_no_python_under_the_broadcast(spark):
    """The zone join's one Python node is the fused test above the join;
    the broadcast side is arithmetic over a local relation."""
    per_zone = _join(_points(spark), _zones(spark), ZONE_BOUNDS).groupBy("zid").count()
    plan = _final_plan(per_zone)
    assert plan.count("ArrowEvalPython") == 1, plan
    lines = plan.splitlines()
    python = next(i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln)
    join = next(i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln)
    assert python < join and "_built_intersects" in lines[python], plan


@pytest.mark.parametrize("case", ["stored", "computed_arg", "same_name", "name_clash"])
def test_join_falls_back_to_building_first(spark, case):
    """A geometry that is not a package constructor, a constructor over a
    computed argument, the same geometry name on both sides, or a column
    name on both sides: the geometry is built before the join, as it was,
    and the answer is unchanged."""
    left, zones = _points(spark), _zones(spark)
    right_geom = "zgeom"
    if case == "stored":
        zones = spark.createDataFrame(zones.toPandas())
    elif case == "computed_arg":
        zones = _zones(spark, r=F.col("r") * 1.0)
    elif case == "same_name":
        zones = zones.withColumnRenamed("zgeom", "geom")
        right_geom = "geom"
    else:
        left = left.withColumn("cx", F.lit(0.0))
    if case != "same_name":
        assert SJ._deferred_constructor(zones, right_geom, left.columns) is None
    j = SJ.grid_spatial_join(
        left, zones, "geom", right_geom, cell_size=2.0,
        left_bounds=("x", "y", "x", "y"), right_bounds=ZONE_BOUNDS,
    )
    plan = _final_plan(j.groupBy("zid").count())
    assert "_built_intersects" not in plan, plan
    d = np.abs(PX[:, None] - ZX) + np.abs(PY[:, None] - ZY) <= ZR
    assert {(r.pid, r.zid) for r in j.collect()} == {
        (int(i), int(k)) for i, k in zip(*np.nonzero(d))
    }
