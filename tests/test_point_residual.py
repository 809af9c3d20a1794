"""The residual ``st_intersects(point column, rectangle)`` of a scan runs
as a JVM comparison of the coordinate bytes when the manifest flags
every kept file as point-only.  It must give the rows the Arrow kernel
gives, as a filter and under NOT, and every case the flags cannot prove
keeps the ``ArrowEvalPython`` node."""

from __future__ import annotations

import math
import os
import struct

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from iceberg_geo_poc_spark.geo import Point, Polygon, box
from iceberg_geo_poc_spark.geo.encoding import encode
from iceberg_geo_poc_spark.geo.functions import geo_literal, st_intersects_udf
from iceberg_geo_poc_spark.table import Catalog, E
from iceberg_geo_poc_spark.table import manifest as M
from tests.frames import frame

INF, NAN = math.inf, math.nan
TINY = 5e-324  # the smallest subnormal
NEG_NAN = struct.unpack("<d", struct.pack("<Q", 0xFFF8000000000000))[0]
DDL = "id BIGINT, grp STRING, geom BINARY"


def _pt(x: float, y: float) -> bytes:
    """Plain little-endian XY point WKB (21 bytes)."""
    return struct.pack("<BIdd", 1, 1, x, y)


PLAIN = [
    None,
    _pt(NAN, NAN),  # POINT EMPTY
    _pt(NAN, 1.0),
    _pt(1.0, NAN),
    _pt(NEG_NAN, 0.0),
    _pt(0.0, 0.0),
    _pt(-0.0, -0.0),
    _pt(0.0, -0.0),
    _pt(TINY, -TINY),
    _pt(-TINY, 1e-310),
    _pt(INF, 0.0),
    _pt(-INF, -INF),
    _pt(1.0, 2.0),
    _pt(-1.0, -1.0),
    _pt(1e300, -1e300),
    _pt(0.5, 0.5),
    _pt(2.5, -3.5),
]
# one non-plain row per file, beside plain points
OTHER = {
    "big_endian": struct.pack(">BIdd", 0, 1, 0.5, 0.5),
    "ewkb_srid": encode(Point(0.5, 0.5), "ewkb"),
    "polygon": encode(box(0.0, 0.0, 1.0, 1.0), "wkb"),
}
WINDOWS = [
    (-0.0, -0.0, 0.0, 0.0),
    (0.0, 0.0, 1.0, 2.0),
    (-1.0, -1.0, -0.0, -0.0),
    (-INF, -INF, INF, INF),
    (-INF, 0.0, 0.0, INF),
    (TINY, -TINY, 1e-300, 1e-300),
    (-TINY, -TINY, TINY, TINY),
    (1.0, 2.0, 1.0, 2.0),  # lo == hi on both axes
    (1.0, -INF, 1.0, INF),
    (-2.0, -5.0, 3.0, 0.0),
]


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    cat = Catalog(str(tmp_path_factory.mktemp("point_residual") / "wh"), spark)
    t = cat.create_table(
        "pts", DDL, partition_by=[("grp", "identity")], geometry_columns={"geom": "wkb"}
    )
    rows = [(i, "plain", g) for i, g in enumerate(PLAIN)]
    for grp, g in OTHER.items():
        for v in (g, _pt(0.25, 0.75), _pt(-1.0, -1.0), None):
            rows.append((len(rows), grp, v))
    t.append(frame(spark, rows, DDL))
    return cat


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.select("id").collect())


def _has_python(df) -> bool:
    return "ArrowEvalPython" in df._jdf.queryExecution().executedPlan().toString()


def _kernel_ids(t, grp: str, geom, negate: bool) -> list[int]:
    """The rows of partition ``grp`` the Arrow kernel selects."""
    cond = st_intersects_udf(F.col("geom"), geo_literal(geom))
    cond = cond.isNotNull() & cond
    return _ids(t.scan(where=E.eq("grp", grp)).to_df().filter(~cond if negate else cond))


def _scan(t, grp: str, geom, negate: bool):
    pred = E.st_intersects("geom", geom)
    return t.scan(where=E.eq("grp", grp) & (~pred if negate else pred))


@pytest.mark.parametrize("w", WINDOWS, ids=[str(w) for w in WINDOWS])
def test_jvm_form_matches_kernel(catalog, w):
    t = catalog.load_table("pts")
    for negate in (False, True):
        scan = _scan(t, "plain", box(*w), negate)
        df = scan.to_df()
        assert scan._points == {"geom"}
        assert not _has_python(df)
        assert _ids(df) == _kernel_ids(t, "plain", box(*w), negate), negate


def test_both_zeros_match_a_bound_at_zero(catalog):
    t = catalog.load_table("pts")
    for w in ((0.0, 0.0, 0.0, 0.0), (-0.0, -0.0, -0.0, -0.0), (-1.0, -1.0, 0.0, 0.0)):
        want = [5, 6, 7] + ([13] if w[0] == -1.0 else [])
        assert _ids(_scan(t, "plain", box(*w), False).to_df()) == want, w


@pytest.mark.parametrize("grp", sorted(OTHER))
def test_file_with_a_non_plain_row_keeps_kernel(catalog, grp):
    t = catalog.load_table("pts")
    w = box(0.0, 0.0, 1.0, 1.0)
    for negate in (False, True):
        scan = _scan(t, grp, w, negate)
        df = scan.to_df()
        assert scan._points == frozenset()
        assert _has_python(df)
        assert _ids(df) == _kernel_ids(t, grp, w, negate)
    # a scan keeping plain and non-plain files alike stays on the kernel
    df = t.scan(where=E.st_intersects("geom", w)).to_df()
    assert _has_python(df)


def test_non_rectangle_literal_keeps_kernel(catalog):
    t = catalog.load_table("pts")
    tri = Polygon([(-1.0, -1.0), (3.0, -1.0), (-1.0, 3.0), (-1.0, -1.0)])
    df = _scan(t, "plain", tri, False).to_df()
    assert _has_python(df)
    assert _ids(df) == _kernel_ids(t, "plain", tri, False)


def test_new_windows_compile_no_new_class(spark, catalog):
    """The bounds are string literals, held by reference in generated
    code: a new window whose bounds have the same signs (so the same
    number of bit ranges) reuses the compiled classes of the last one."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    t = catalog.load_table("pts")

    def count(w):
        df = _scan(t, "plain", box(*w), False).to_df()
        return df.agg(F.count(F.lit(1))).collect()[0][0]

    count((0.1, 0.1, 0.9, 0.9))
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    count((0.2, 0.3, 0.8, 0.7))
    count((0.05, 1e-300, 1e300, 0.65))
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before


def test_wkt_column_keeps_kernel(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"), spark)
    ddl = "id BIGINT, grp STRING, geom STRING"
    t = cat.create_table("wkt_pts", ddl, geometry_columns={"geom": "wkt"})
    t.append(frame(spark, [(i, "a", f"POINT ({i} {i})") for i in range(4)], ddl))
    scan = cat.load_table("wkt_pts").scan(where=E.st_intersects("geom", box(0.5, 0.5, 2, 2)))
    df = scan.to_df()
    assert _has_python(df)
    assert _ids(df) == [1, 2]


def test_legacy_manifest_without_flag_keeps_kernel(spark, tmp_path):
    """A manifest written before the flag existed has neither the
    ``points`` column nor its flattened ``pt__`` one: unknown, so the
    scan keeps the kernel."""
    cat = Catalog(str(tmp_path / "wh"), spark)
    t = cat.create_table("legacy", DDL, geometry_columns={"geom": "wkb"})
    t.append(frame(spark, [(i, "a", _pt(i, i)) for i in range(4)], DDL))
    t = cat.load_table("legacy")
    for rel in t.current_snapshot().manifest_list():
        path = os.path.join(t.location, rel)
        tbl = pq.read_table(path)
        drop = [c for c in tbl.column_names if c == "points" or c.startswith("pt__")]
        assert drop
        pq.write_table(tbl.drop_columns(drop), path)
        M._MANIFEST_CACHE.pop(path, None)
    scan = cat.load_table("legacy").scan(where=E.st_intersects("geom", box(0.5, 0.5, 2, 2)))
    df = scan.to_df()
    assert scan._points == frozenset()
    assert _has_python(df)
    assert _ids(df) == [1, 2]
