"""Geometry kernel unit tests (no Spark).

Mirrors the reference's unit-test strategy: codec round-trips,
predicate semantics on the quadrant-fixture shapes
(reference data/.../havasu/TestGeometryReadersAndWriters.java:100-144),
and the Hilbert locality properties
(reference api/.../transforms/TestHilbert.java:60-115).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from iceberg_geo_poc_spark.geo import (
    GeometryCollection,
    LineString,
    MultiLineString,
    MultiPoint,
    MultiPolygon,
    Point,
    Polygon,
    box,
    geometry_from_wkb,
    geometry_from_wkt,
    geometry_to_wkb,
    geometry_to_wkt,
)
from iceberg_geo_poc_spark.geo.geojson import geometry_from_geojson, geometry_to_geojson
from iceberg_geo_poc_spark.geo.hilbert import DEFAULT_BOUNDS, hilbert_index_xy


SAMPLES = [
    Point(1.5, -2.25),
    LineString([(0, 0), (1, 1), (2, 0)]),
    Polygon([(0, 0), (4, 0), (4, 4), (0, 4)]),
    Polygon([(0, 0), (10, 0), (10, 10), (0, 10)], holes=[[(4, 4), (6, 4), (6, 6), (4, 6)]]),
    MultiPoint([(0, 0), (2, 3)]),
    MultiLineString([[(0, 0), (1, 1)], [(2, 2), (3, 3)]]),
    MultiPolygon([Polygon([(0, 0), (1, 0), (1, 1)]), Polygon([(5, 5), (6, 5), (6, 6)])]),
    GeometryCollection([Point(1, 2), LineString([(0, 0), (1, 0)])]),
]


@pytest.mark.parametrize("g", SAMPLES, ids=lambda g: type(g).__name__)
def test_wkb_roundtrip(g):
    assert geometry_from_wkb(geometry_to_wkb(g)) == g


@pytest.mark.parametrize("g", SAMPLES, ids=lambda g: type(g).__name__)
def test_ewkb_roundtrip(g):
    assert geometry_from_wkb(geometry_to_wkb(g, srid=4326)) == g


@pytest.mark.parametrize("g", SAMPLES, ids=lambda g: type(g).__name__)
def test_wkt_roundtrip(g):
    assert geometry_from_wkt(geometry_to_wkt(g)) == g


@pytest.mark.parametrize("g", SAMPLES, ids=lambda g: type(g).__name__)
def test_geojson_roundtrip(g):
    assert geometry_from_geojson(geometry_to_geojson(g)) == g


def test_wkt_parse_forms():
    assert geometry_from_wkt("POINT (1 2)") == Point(1, 2)
    assert geometry_from_wkt("POINT EMPTY").is_empty()
    g = geometry_from_wkt("MULTIPOINT ((1 1), (2 2))")
    assert g == geometry_from_wkt("MULTIPOINT (1 1, 2 2)")
    with pytest.raises(ValueError):
        geometry_from_wkt("POINT (1 2) trailing")


def test_big_endian_wkb():
    import struct

    raw = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 3.0, 4.0)
    assert geometry_from_wkb(raw) == Point(3.0, 4.0)


# -- quadrant fixture shapes (F1) ------------------------------------------

def quadrant_rows():
    """4 files x 10 ids x {point, polygon=buffer(0.5)} per the reference."""
    rows = []  # (file_idx, id, geom)
    next_id = 0
    for quadrant in range(4):
        for k in range(1, 11):
            sx = (1, -1, -1, 1)[quadrant]
            sy = (1, 1, -1, -1)[quadrant]
            center = Point(sx * k, sy * k)
            rows.append((quadrant, next_id, center))
            rows.append((quadrant, next_id, center.buffer(0.5)))
            next_id += 1
    return rows


GOLDEN = [
    # (predicate, window, expected_rows) from TestGeometryReadersAndWriters.java:229-263
    ("intersects", Point(1, 1), 2),
    ("intersects", Point(0, 0), 0),
    ("intersects", Point(1.5, 1.5), 0),
    ("intersects", box(0.5, -1.1, 1.1, 1.1), 4),
    ("intersects", box(0, 0, 0.75, 0.75), 1),
    ("intersects", box(0.75, 0.75, 1.25, 1.25), 2),
    ("covers", Point(1, 1), 2),
    ("covers", Point(0, 0), 0),
    ("covers", Point(1.5, 1.5), 0),
    ("covers", box(0, 0, 0.75, 0.75), 0),
    ("covers", box(0.75, 0.75, 1.25, 1.25), 1),
]


@pytest.mark.parametrize("pred,window,expected", GOLDEN,
                         ids=[f"{p}-{i}" for i, (p, _, _) in enumerate(GOLDEN)])
def test_quadrant_predicate_goldens(pred, window, expected):
    rows = quadrant_rows()
    n = sum(1 for _, _, g in rows if getattr(g, pred)(window))
    assert n == expected


def test_combined_id_and_intersects():
    # id <= 10 AND st_intersects(envelope [0.5,1.1]x[-1.1,1.1]) -> 2 rows
    rows = quadrant_rows()
    w = box(0.5, -1.1, 1.1, 1.1)
    n = sum(1 for _, i, g in rows if i <= 10 and g.intersects(w))
    assert n == 2


def test_part_filter_and_intersects():
    # part = 3 AND the same envelope -> 2 rows (quadrant 3 = +x,-y)
    rows = quadrant_rows()
    w = box(0.5, -1.1, 1.1, 1.1)
    n = sum(1 for q, _, g in rows if q == 3 and g.intersects(w))
    assert n == 2


# -- predicate edge semantics ---------------------------------------------

def test_covers_boundary_vs_contains():
    poly = box(0, 0, 2, 2)
    edge_pt = Point(0, 1)
    assert poly.covers(edge_pt)
    assert not poly.contains(edge_pt)
    assert poly.contains(Point(1, 1))


def test_polygon_hole_semantics():
    donut = Polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10)],
        holes=[[(3, 3), (7, 3), (7, 7), (3, 7)]],
    )
    assert donut.covers(Point(1, 1))
    assert not donut.covers(Point(5, 5))  # inside the hole
    assert donut.covers(Point(3, 5))  # on the hole boundary
    # a window strictly inside the hole does not intersect the donut
    assert not donut.intersects(box(4, 4, 6, 6))
    # a window spanning the hole edge does
    assert donut.intersects(box(2, 4, 6, 6))


def test_area_distance_centroid():
    sq = box(0, 0, 4, 4)
    assert sq.area == pytest.approx(16)
    donut = Polygon([(0, 0), (4, 0), (4, 4), (0, 4)], holes=[[(1, 1), (2, 1), (2, 2), (1, 2)]])
    assert donut.area == pytest.approx(15)
    assert Point(0, 3).distance(Point(4, 0)) == pytest.approx(5)
    assert Point(5, 2).distance(sq) == pytest.approx(1)
    assert sq.centroid() == Point(2, 2)
    circle = Point(3, 3).buffer(0.5)
    c = circle.centroid()
    assert c.x == pytest.approx(3) and c.y == pytest.approx(3)
    assert circle.area == pytest.approx(math.pi * 0.25, rel=0.01)


# -- hilbert properties (F3) -----------------------------------------------

def hilbert_index_geoms(geoms, resolution, bounds=DEFAULT_BOUNDS):
    """Per-geometry reference for the Arrow Hilbert kernel: the index of
    each Geometry|None's envelope centre, -1 for NULL."""
    xs = np.empty(len(geoms), dtype=np.float64)
    ys = np.empty(len(geoms), dtype=np.float64)
    for i, g in enumerate(geoms):
        if g is None or g.is_empty():
            xs[i] = np.nan
            ys[i] = np.nan
        else:
            xmin, ymin, xmax, ymax = g.bounds
            xs[i] = (xmin + xmax) / 2.0
            ys[i] = (ymin + ymax) / 2.0
    return hilbert_index_xy(xs, ys, resolution, bounds)


def _idx(x, y, res=10):
    return int(hilbert_index_xy(np.array([x]), np.array([y]), res)[0])


def test_hilbert_null_semantics():
    assert _idx(200, 10) == -1  # out of world bounds
    assert hilbert_index_geoms([None], 10)[0] == -1
    assert hilbert_index_geoms([Point(float("nan"), float("nan"))], 10)[0] == -1


def test_hilbert_locality_ordering():
    # reference TestHilbert.java:60-83 — closer points => closer indexes
    v0 = _idx(10, 10)
    v1 = _idx(15, 15)
    v2 = _idx(30, 30)
    v3 = _idx(-60, -30)
    v4 = _idx(-61, -31)
    assert abs(v3 - v4) < abs(v0 - v1) < abs(v1 - v2) < abs(v0 - v3)


def test_hilbert_polygon_envelope_center():
    sq = Polygon([(0, 0), (10, 0), (10, 10), (0, 10)])
    assert hilbert_index_geoms([sq], 10)[0] >= 0


def test_hilbert_custom_extent():
    idx = hilbert_index_xy(np.array([300.0]), np.array([200.0]), 10, (0, 0, 1000, 1000))
    assert idx[0] >= 0
    idx2 = hilbert_index_xy(np.array([-10.0]), np.array([-10.0]), 10, (0, 0, 1000, 1000))
    assert idx2[0] == -1


_INF = float("inf")
_BAD_EXTENTS = {
    "degenerate_x": (0.0, 0.0, 0.0, 10.0),
    "degenerate_y": (0.0, 5.0, 10.0, 5.0),
    "inverted": (10.0, 0.0, 0.0, 10.0),
    "infinite": (-_INF, -90.0, _INF, 90.0),
    "nan": (0.0, 0.0, float("nan"), 10.0),
    "overflowing_width": (-1e308, 0.0, 1e308, 10.0),
}


@pytest.mark.parametrize("bounds", list(_BAD_EXTENTS.values()), ids=list(_BAD_EXTENTS))
def test_hilbert_refuses_bad_extent(bounds):
    """A degenerate extent used to divide by zero inside the task, an
    infinite one gave every point the same key and an inverted one made
    every key NULL; all are refused up front."""
    with pytest.raises(ValueError, match="hilbert bounds"):
        hilbert_index_xy(np.array([1.0]), np.array([1.0]), 10, bounds)


@pytest.mark.parametrize("res", [0, 31, 10.5])
def test_hilbert_refuses_bad_resolution(res):
    with pytest.raises(ValueError, match="hilbert resolution"):
        hilbert_index_xy(np.array([1.0]), np.array([1.0]), res)


@pytest.mark.parametrize(
    "spec",
    [
        "hilbert[10,0,0,10]",  # four arguments: used to fall back to world bounds
        "hilbert[10,0,0]",
        "hilbert[10,0,0,0,10]",
        "hilbert[10,10,0,0,10]",
        "hilbert[10,0,0,inf,10]",
        "hilbert[0]",
        "hilbert[31]",
    ],
)
def test_parse_transform_refuses_bad_hilbert_spec(spec):
    from iceberg_geo_poc_spark.table.transforms import parse_transform

    with pytest.raises(ValueError, match="hilbert"):
        parse_transform(spec)


def test_parse_transform_hilbert_specs():
    from iceberg_geo_poc_spark.table.transforms import Hilbert, parse_transform

    assert parse_transform("hilbert") == Hilbert(resolution=10)
    assert parse_transform("hilbert[12]") == Hilbert(resolution=12)
    assert parse_transform("hilbert[8,0,-5,1000,500]") == Hilbert(
        resolution=8, bounds=(0.0, -5.0, 1000.0, 500.0)
    )


def _grid_points(res):
    """One coordinate per grid cell under the reference's (2^res-1)/extent
    scale (HilbertCurve2D.java:62-66): x_i = minx + i*extent/(n-1)."""
    n = 1 << res
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    gx = -180 + xs.ravel() * (360.0 / (n - 1))
    gy = -90 + ys.ravel() * (180.0 / (n - 1))
    return xs, ys, gx, gy


def test_hilbert_bijective_on_grid():
    # every cell of a res-4 grid maps to a unique index in [0, 2^8)
    res = 4
    n = 1 << res
    _, _, gx, gy = _grid_points(res)
    idx = hilbert_index_xy(gx, gy, res)
    assert len(set(idx.tolist())) == n * n
    assert idx.min() == 0 and idx.max() == n * n - 1


def test_hilbert_adjacent_cells_adjacent_indexes():
    # the defining property of the Hilbert curve: consecutive indexes are
    # adjacent grid cells (tested at integer-cell level; float coordinate
    # snapping at exact cell boundaries is allowed to go either way)
    from iceberg_geo_poc_spark.geo.hilbert import hilbert_d_from_cells

    res = 5
    n = 1 << res
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    idx = hilbert_d_from_cells(xs.ravel(), ys.ravel(), res)
    assert len(set(idx.tolist())) == n * n
    order = np.argsort(idx)
    cx, cy = xs.ravel()[order], ys.ravel()[order]
    steps = np.abs(np.diff(cx)) + np.abs(np.diff(cy))
    assert (steps == 1).all()


# -- vectorized kernels vs the scalar kernel --------------------------------
#
# The vectorized kernels take pa.Array batches, exactly as the arrow_udf
# wrappers receive them.  _layouts() yields one column in every Arrow
# layout a batch can arrive in, so buffer offsets, validity bitmaps,
# chunking and 64-bit offsets are all checked against the scalar kernel.


def _bin(values):
    import pyarrow as pa

    return pa.array(values, type=pa.binary())


def _layouts(values):
    """{layout: column}: plain binary, a slice (offset != 0) of a longer
    array padded with a null and a garbage row, a two-chunk
    ChunkedArray, and large_binary."""
    import pyarrow as pa

    n = len(values)
    plain = _bin(values)
    padded = _bin([None, b"\x00"] + list(values) + [None])
    return {
        "binary": plain,
        "sliced": padded.slice(2, n),
        "chunked": pa.chunked_array([plain.slice(0, n // 2), plain.slice(n // 2)]),
        "large_binary": pa.array(values, type=pa.large_binary()),
    }


def _assert_bounds_match(col, wkbs):
    """_bounds_cols, and the packed-polygon bboxes when the pack accepts
    the batch, agree row by row with the scalar kernel's bounds."""
    from iceberg_geo_poc_spark.geo import functions as GF

    cols = GF._bounds_cols(col)
    got = list(zip(cols["xmin"], cols["ymin"], cols["xmax"], cols["ymax"]))
    pk = GF._polys_packed(col)
    if pk is not None:
        assert np.array_equal(
            np.column_stack([pk.bx0, pk.by0, pk.bx1, pk.by1]), np.array(got),
            equal_nan=True,
        )
    for i, w in enumerate(wkbs):
        want = None if w is None else geometry_from_wkb(w).bounds
        if want is None:
            assert np.isnan(got[i]).all(), (i, got[i])
        else:
            assert got[i] == want, (i, got[i], want)


def test_fast_poly_predicate_matches_kernel():
    """The vectorized point-vs-polygon path must agree with the scalar
    kernel on every predicate, including boundary points, holes, concave
    shells, NaN (empty) points, and nulls."""
    import random

    from iceberg_geo_poc_spark.geo import functions as GF
    from iceberg_geo_poc_spark.geo.wkb import geometry_to_wkb
    from iceberg_geo_poc_spark.geo.wkt import geometry_from_wkt

    # concave polygon with a hole
    poly = geometry_from_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 5 5, 0 10, 0 0),"
        " (2 2, 4 2, 4 4, 2 4, 2 2))"
    )
    multi = geometry_from_wkt(
        "MULTIPOLYGON (((0 0, 3 0, 3 3, 0 3, 0 0)), ((6 6, 9 6, 9 9, 6 9, 6 6)))"
    )
    rng = random.Random(13)
    pts = [(rng.uniform(-2, 12), rng.uniform(-2, 12)) for _ in range(300)]
    # deliberate edge cases: boundary corners/edges, hole boundary, NaN
    pts += [
        (0.0, 0.0), (10.0, 0.0), (5.0, 0.0), (0.0, 5.0), (5.0, 5.0),
        (2.0, 2.0), (3.0, 2.0), (3.0, 3.0), (2.5, 2.5),  # hole pts
        (float("nan"), 1.0),
    ]
    from iceberg_geo_poc_spark.geo.geometry import Point

    wkbs = [geometry_to_wkb(Point(x, y)) for x, y in pts] + [None]
    scalar = [None if w is None else geometry_from_wkb(w) for w in wkbs]
    for layout, a in _layouts(wkbs).items():
        # the point accessor and _bounds_cols agree with the scalar points
        x, y, mask = GF._points_xy(a)
        for i, p in enumerate(scalar):
            assert mask[i] == (p is not None), (layout, i)
            if p is None or p.is_empty():
                assert np.isnan(x[i]) and np.isnan(y[i]), (layout, i)
            else:
                assert (x[i], y[i]) == (p.x, p.y), (layout, i)
        _assert_bounds_match(a, wkbs)
        for g in (poly, multi):
            glit = geometry_to_wkb(g)
            b = _layouts([glit] * len(wkbs))[layout]
            for name, col_receiver in (
                ("intersects", True), ("disjoint", True), ("within", True),
                ("covers", False), ("contains", False),
            ):
                if col_receiver:
                    got = GF._fast_poly_predicate(name, a, b)
                else:
                    got = GF._fast_poly_predicate(name, b, a)
                assert got is not None, f"fast path refused {name}"
                got = got.to_pylist()
                for i, p in enumerate(scalar):
                    if p is None:
                        assert got[i] is None
                        continue
                    want = (
                        getattr(p, name)(g) if col_receiver else getattr(g, name)(p)
                    )
                    assert bool(got[i]) == want, (
                        f"{layout} {name} "
                        f"receiver={'pt' if col_receiver else 'poly'} "
                        f"pt={pts[i]}: fast={got[i]} kernel={want}"
                    )


def test_grouped_poly_predicate_matches_generic():
    """A point column against a polygon column of few distinct values
    (one locate per distinct polygon) agrees with the per-pair generic
    kernel on every predicate, in both argument orders: null rows on
    either side, NaN and empty points, points on an edge, on a vertex
    and on a hole's boundary, a polygon with a hole, a MultiPolygon
    (with an empty member) and an empty polygon.  Orders the grouped
    path does not serve (covers(point, poly) & co.) answer None."""
    import random

    from iceberg_geo_poc_spark.geo import functions as GF

    polys = [
        Polygon([(0, 0), (10, 0), (10, 10), (0, 10)],
                holes=[[(4, 4), (6, 4), (6, 6), (4, 6)]]),
        MultiPolygon([
            Polygon([(0, 0), (3, 0), (3, 3), (0, 3)]),
            Polygon([(6, 6), (9, 6), (9, 9), (6, 9)]),
            Polygon([]),
        ]),
        Polygon([(5, -1), (11, 5), (5, 11), (-1, 5)]),
        Polygon([]),
    ]
    poly_wkbs = [geometry_to_wkb(g) for g in polys]
    rng = random.Random(7)
    pts = [Point(rng.uniform(-2, 12), rng.uniform(-2, 12)) for _ in range(160)]
    pts += [
        Point(0.0, 0.0), Point(10.0, 10.0), Point(5.0, 0.0), Point(0.0, 5.0),
        Point(4.0, 5.0), Point(5.0, 4.0), Point(4.0, 4.0), Point(3.0, 1.5),
        Point(5.0, -1.0), Point(8.0, 2.0), Point(5.0, 5.0),
        Point(float("nan"), float("nan")), Point(float("nan"), 1.0),
    ]
    n = len(pts) + 2
    pt_wkbs = [geometry_to_wkb(p) for p in pts] + [None, geometry_to_wkb(Point(1, 1))]
    # every polygon against every point, plus one null polygon row
    gwkbs = [poly_wkbs[i % len(polys)] for i in range(n - 1)] + [None]
    assert n >= len(polys) * GF._POLY_GROUP_MIN_ROWS
    for layout, a in _layouts(pt_wkbs).items():
        b = _layouts(gwkbs)[layout]
        for name in ("intersects", "disjoint", "covers", "within", "contains"):
            for args, poly_first in (((a, b), False), ((b, a), True)):
                got = GF._fast_poly_predicate(name, *args)
                served = poly_first in GF._POLY_SIDES[name]
                assert (got is not None) == served, (layout, name, poly_first)
                if got is not None:
                    want = GF._predicate_generic(name, *args)
                    assert got.to_pylist() == want.to_pylist(), (
                        layout, name, poly_first,
                    )


def test_grouped_poly_predicate_falls_back_on_many_distinct():
    """A polygon column with about one distinct value per row is not the
    grouped path's shape: it answers None, and a constant column (one
    group) is served even in a short batch."""
    from iceberg_geo_poc_spark.geo import functions as GF

    n = 64
    pts = _bin([geometry_to_wkb(Point(i * 0.5, 0.5)) for i in range(n)])
    many = _bin([geometry_to_wkb(box(i, 0, i + 1, 1)) for i in range(n)])
    assert GF._fast_poly_predicate("intersects", pts, many) is None
    assert GF._pair_predicate("intersects", pts, many).to_pylist() == (
        GF._predicate_generic("intersects", pts, many).to_pylist()
    )
    one = _bin([geometry_to_wkb(box(0, 0, 1, 1))] * 3)
    got = GF._fast_poly_predicate("intersects", pts.slice(0, 3), one)
    assert got.to_pylist() == [True, True, True]


def test_fast_rect_rect_predicate_matches_kernel():
    """Vectorized rectangle-vs-rectangle (both sides columns) must agree
    with the scalar kernel: overlapping, touching, contained, disjoint,
    and identical rectangles."""
    import random

    from iceberg_geo_poc_spark.geo import functions as GF
    from iceberg_geo_poc_spark.geo.geometry import box
    from iceberg_geo_poc_spark.geo.wkb import geometry_from_wkb, geometry_to_wkb

    rng = random.Random(29)

    def rand_rect():
        x0 = rng.uniform(-50, 50)
        y0 = rng.uniform(-50, 50)
        return box(x0, y0, x0 + rng.uniform(0.1, 30), y0 + rng.uniform(0.1, 30))

    pairs = [(rand_rect(), rand_rect()) for _ in range(200)]
    # constructed cases: touching edges/corners, nested, equal
    r = box(0, 0, 10, 10)
    pairs += [
        (r, box(10, 0, 20, 10)),   # shared edge
        (r, box(10, 10, 20, 20)),  # shared corner
        (r, box(2, 2, 8, 8)),      # nested
        (r, box(0, 0, 10, 10)),    # identical
        (r, box(11, 0, 20, 10)),   # disjoint
        (box(2, 2, 8, 8), r),      # nested, reversed
    ]
    wa = [geometry_to_wkb(p[0]) for p in pairs] + [None]
    wb = [geometry_to_wkb(p[1]) for p in pairs] + [geometry_to_wkb(r)]
    la, lb = _layouts(wa), _layouts(wb)
    for layout in la:
        a, b = la[layout], lb[layout]
        # the rectangle accessor takes every layout; bounds match
        assert GF._rects_bounds(a) is not None, layout
        assert GF._rects_bounds(b) is not None, layout
        _assert_bounds_match(a, wa)
        _assert_bounds_match(b, wb)
        for name in ("intersects", "disjoint", "covers", "within", "contains"):
            got = GF._fast_rect_rect_predicate(name, a, b)
            assert got is not None
            got = got.to_pylist()
            assert got[len(pairs)] is None  # null row stays null
            for i, (ga, gb) in enumerate(pairs):
                want = getattr(ga, name)(gb)
                assert bool(got[i]) == want, (
                    f"{layout} {name} pair {i}: {ga.bounds} vs {gb.bounds}: "
                    f"fast={got[i]} kernel={want}"
                )
    # non-rect polygon on either side must refuse (falls to generic path)
    from iceberg_geo_poc_spark.geo.wkt import geometry_from_wkt

    tri = geometry_to_wkb(geometry_from_wkt("POLYGON ((0 0, 5 0, 3 4, 0 0))"))
    mixed = _bin([geometry_to_wkb(r), tri])
    rects = _bin([geometry_to_wkb(r)] * 2)
    assert GF._fast_rect_rect_predicate("intersects", mixed, rects) is None


def _star_poly(rng, cx, cy, rmin, rmax, nv=None, hole=False):
    """Random simple (star-shaped) polygon around (cx, cy); optionally
    with one small hole. Always valid: shell simple, hole strictly inside."""
    import math as m

    from iceberg_geo_poc_spark.geo.geometry import Polygon

    nv = nv or rng.randint(3, 9)
    angles = sorted(rng.uniform(0, 2 * m.pi) for _ in range(nv))
    # de-dup near-equal angles to keep the ring simple
    angles = [a for i, a in enumerate(angles) if i == 0 or a - angles[i - 1] > 1e-3]
    if len(angles) < 3:
        angles = [0.0, 2.1, 4.2]
    shell = [
        (cx + rng.uniform(rmin, rmax) * m.cos(a), cy + rng.uniform(rmin, rmax) * m.sin(a))
        for a in angles
    ]
    shell.append(shell[0])
    holes = []
    if hole:
        hr = rmin * 0.3
        holes.append(
            [
                (cx + hr, cy), (cx, cy + hr), (cx - hr, cy), (cx, cy - hr),
                (cx + hr, cy),
            ]
        )
    return Polygon(shell, holes)


def test_fast_polypoly_predicate_matches_kernel():
    """The vectorized polygon×polygon path must agree with the scalar
    kernel pair-by-pair: overlapping, touching, nested, hole-nested,
    rotated, concave, and far-apart polygons, plus nulls."""
    import random

    from iceberg_geo_poc_spark.geo import functions as GF
    from iceberg_geo_poc_spark.geo.geometry import Polygon
    from iceberg_geo_poc_spark.geo.wkb import geometry_from_wkb, geometry_to_wkb

    rng = random.Random(29)
    pairs = []
    for _ in range(250):
        ax, ay = rng.uniform(-5, 5), rng.uniform(-5, 5)
        bx = ax + rng.uniform(-3, 3)
        by = ay + rng.uniform(-3, 3)
        pa = _star_poly(rng, ax, ay, 0.5, 2.0, hole=rng.random() < 0.3)
        pb = _star_poly(rng, bx, by, 0.3, 1.5, hole=rng.random() < 0.3)
        pairs.append((pa, pb))
    # deterministic edge cases
    sq = Polygon([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)])
    inner = Polygon([(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)])
    touch_edge = Polygon([(4, 1), (6, 1), (6, 3), (4, 3), (4, 1)])
    touch_corner = Polygon([(4, 4), (5, 4), (5, 5), (4, 5), (4, 4)])
    far = Polygon([(100, 100), (101, 100), (101, 101), (100, 101), (100, 100)])
    donut = Polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
        [[(2, 2), (8, 2), (8, 8), (2, 8), (2, 2)]],
    )
    in_hole = Polygon([(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)])
    spans_hole = Polygon([(1, 4), (9, 4), (9, 6), (1, 6), (1, 4)])
    pairs += [
        (sq, inner), (inner, sq), (sq, touch_edge), (sq, touch_corner),
        (sq, far), (donut, in_hole), (in_hole, donut), (donut, spans_hole),
        (sq, sq),
    ]
    wa = [geometry_to_wkb(p) for p, _ in pairs] + [None]
    wb = [geometry_to_wkb(q) for _, q in pairs] + [geometry_to_wkb(sq)]
    want = {
        name: [getattr(p, name)(q) for p, q in pairs]
        for name in ("intersects", "disjoint", "covers", "within", "contains")
    }
    la, lb = _layouts(wa), _layouts(wb)
    for layout in la:
        a, b = la[layout], lb[layout]
        # the polygon pack takes every layout; bounds match
        assert GF._polys_packed(a) is not None, layout
        _assert_bounds_match(a, wa)
        _assert_bounds_match(b, wb)
        for name in want:
            got = GF._fast_polypoly_predicate(name, a, b)
            assert got is not None, f"polypoly fast path refused {name}"
            got = got.to_pylist()
            assert got[len(pairs)] is None  # null in -> null out
            for i, (p, q) in enumerate(pairs):
                assert bool(got[i]) == want[name][i], (
                    f"{layout} {name} pair {i}: fast={got[i]} "
                    f"kernel={want[name][i]} "
                    f"a={p.shell[:3]}... b={q.shell[:3]}..."
                )


def test_fast_polypoly_multipolygon_matches_kernel():
    """MultiPolygon rows (valid: disjoint parts, optional holes) run the
    vectorized intersects/disjoint path and must agree with the scalar
    kernel; covers-family falls back to the scalar kernel for multi-part
    batches (geometry._covers is per-part, the pooled tables are not)."""
    import random

    from iceberg_geo_poc_spark.geo import functions as GF
    from iceberg_geo_poc_spark.geo.geometry import MultiPolygon, Polygon
    from iceberg_geo_poc_spark.geo.wkb import geometry_to_wkb

    rng = random.Random(31)

    def mp(cx, cy):
        # 1-3 disjoint star parts on a coarse grid (valid multipolygon)
        parts = []
        for k in range(rng.randint(1, 3)):
            px, py = cx + 6 * k, cy
            parts.append(
                _star_poly(rng, px, py, 0.4, 1.8, hole=rng.random() < 0.4)
            )
        return MultiPolygon(parts)

    pairs = []
    for _ in range(200):
        ax, ay = rng.uniform(-5, 5), rng.uniform(-5, 5)
        ga = mp(ax, ay)
        gb = (
            mp(ax + rng.uniform(-3, 9), ay + rng.uniform(-3, 3))
            if rng.random() < 0.7
            else _star_poly(rng, ax + rng.uniform(-2, 8), ay, 0.3, 1.5)
        )
        pairs.append((ga, gb))
    # deterministic: B inside one part / in the gap / spanning nothing
    two = MultiPolygon([
        Polygon([(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]),
        Polygon([(5, 0), (7, 0), (7, 2), (5, 2), (5, 0)]),
    ])
    inside1 = Polygon([(0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (0.5, 1.5), (0.5, 0.5)])
    in_gap = Polygon([(3, 0.5), (4, 0.5), (4, 1.5), (3, 1.5), (3, 0.5)])
    spanning = Polygon([(1, 0.5), (6, 0.5), (6, 1.5), (1, 1.5), (1, 0.5)])
    pairs += [(two, inside1), (two, in_gap), (two, spanning), (two, two)]
    a = _bin([geometry_to_wkb(p) for p, _ in pairs] + [None])
    b = _bin([geometry_to_wkb(q) for _, q in pairs] + [geometry_to_wkb(inside1)])
    for name in ("intersects", "disjoint"):
        got = GF._fast_polypoly_predicate(name, a, b)
        assert got is not None, f"multipolygon fast path refused {name}"
        got = got.to_pylist()
        assert got[len(pairs)] is None
        for i, (p, q) in enumerate(pairs):
            want = getattr(p, name)(q)
            assert bool(got[i]) == want, f"{name} pair {i}: fast={got[i]} kernel={want}"
    # covers-family: multi-part rows → scalar fallback (None), single-part
    # MultiPolygon wrappers still vectorize
    assert GF._fast_polypoly_predicate("covers", a, b) is None
    one = MultiPolygon([Polygon([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)])])
    aa = _bin([geometry_to_wkb(one)])
    bb = _bin([geometry_to_wkb(inside1)])
    got = GF._fast_polypoly_predicate("covers", aa, bb)
    assert got is not None and bool(got.to_pylist()[0])


def test_subdivided_diamond_and_annulus_builders():
    """st_subdivided_diamond emits ragged-but-identical geometry (extra
    vertices on the edges); st_annulus emits a two-ring holed polygon —
    and BOTH run through the vectorized pack, not the scalar fallback."""
    import pyarrow as pa

    from iceberg_geo_poc_spark.geo import functions as GF
    from iceberg_geo_poc_spark.geo.wkb import geometry_from_wkb

    cx = pa.array([0.0, 10.0, None])
    cy = pa.array([0.0, 5.0, 1.0])
    sub = GF._subdiv_arrow(
        cx, cy, pa.array([2.0, 3.0, 1.0]), pa.array([1, 4, 2])
    ).to_pylist()
    assert sub[2] is None
    g0, g1 = geometry_from_wkb(sub[0]), geometry_from_wkb(sub[1])
    assert len(g0.shell) == 5 and len(g1.shell) == 17  # 4k+1 vertices
    # subdivision preserves the region: same bbox, same point membership
    assert g1.intersects(geometry_from_wkb(sub[1]))
    ann = GF._annulus_arrow(
        cx[:2], cy[:2], pa.array([4.0, 4.0]), pa.array([2.0, 2.0])
    ).to_pylist()
    a0 = geometry_from_wkb(ann[0])
    assert len(a0.holes) == 1
    from iceberg_geo_poc_spark.geo.geometry import Point

    assert not a0.intersects(Point(0.0, 0.0))  # center is in the hole
    assert a0.intersects(Point(3.0, 0.0))  # ring interior
    # the ragged vectorized pack accepts both shapes (no scalar fallback)
    mixed = _bin(sub[:2] + ann)
    pk = GF._polys_packed(mixed)
    assert pk is not None and pk.ok.all()
    assert list(pk.hv_cnt) == [0, 0, 4, 4]  # annuli carry hole vertices
    # end-to-end parity of the vectorized intersects on this mixed batch
    probe = GF._diamond_arrow(
        pa.array([0.0] * 4), pa.array([0.0] * 4), pa.array([0.5] * 4)
    )
    got = GF._fast_polypoly_predicate("intersects", mixed, probe)
    assert got is not None
    mixed, probe = mixed.to_pylist(), probe.to_pylist()
    want = [
        geometry_from_wkb(mixed[i]).intersects(geometry_from_wkb(probe[i]))
        for i in range(4)
    ]
    assert [bool(v) for v in got.to_pylist()] == want


def test_polys_packed_never_raises_on_garbage():
    """The vectorized pack's contract is None-or-correct: arbitrary
    bytes (truncations, bit flips, random noise) must make it DECLINE
    to the scalar kernel, never crash or mis-pack."""
    import random

    from iceberg_geo_poc_spark.geo import functions as GF
    from iceberg_geo_poc_spark.geo.geometry import Polygon
    from iceberg_geo_poc_spark.geo.wkb import geometry_from_wkb, geometry_to_wkb

    rng = random.Random(47)
    valid = geometry_to_wkb(
        Polygon([(0, 0), (3, 0), (3, 3), (0, 3), (0, 0)])
    )
    cases = [b"", b"\x01", valid[: len(valid) // 2], valid + b"\x00\x00"]
    for _ in range(300):
        kind = rng.randrange(3)
        if kind == 0:  # random noise
            cases.append(bytes(rng.randrange(256) for _ in range(rng.randrange(1, 120))))
        elif kind == 1:  # bit-flipped valid polygon
            b = bytearray(valid)
            for _ in range(rng.randrange(1, 4)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            cases.append(bytes(b))
        else:  # truncated / padded valid polygon
            cut = rng.randrange(len(valid) + 8)
            cases.append(valid[:cut] + b"\xff" * rng.randrange(4))
    for chunk_start in range(0, len(cases), 32):
        batch = cases[chunk_start : chunk_start + 32]
        pk = GF._polys_packed(_bin(batch))  # must not raise
        if pk is None:
            continue
        # accepted batch: every ok row must round-trip through the
        # scalar parser to the same bbox (no silent mis-parse)
        for i, raw in enumerate(batch):
            if not pk.ok[i] or pk.empty[i]:
                continue
            g = geometry_from_wkb(raw)
            xs = [p[0] for ring in ([g.shell] + list(g.holes)) for p in ring]
            ys = [p[1] for ring in ([g.shell] + list(g.holes)) for p in ring]
            assert pk.bx0[i] == min(xs) and pk.bx1[i] == max(xs)
            assert pk.by0[i] == min(ys) and pk.by1[i] == max(ys)


def test_fast_polypoly_refuses_mixed_batches():
    """Non-polygon rows must push the whole batch to the generic kernel."""
    from iceberg_geo_poc_spark.geo import functions as GF
    from iceberg_geo_poc_spark.geo.geometry import Point, Polygon
    from iceberg_geo_poc_spark.geo.wkb import geometry_to_wkb

    sq = geometry_to_wkb(Polygon([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]))
    pt = geometry_to_wkb(Point(0.5, 0.5))
    a = _bin([sq, pt])
    b = _bin([sq, sq])
    assert GF._fast_polypoly_predicate("intersects", a, b) is None
    # and unknown predicates are refused outright
    assert GF._fast_polypoly_predicate("touches", b, b) is None


def test_ragged_collinear_drop_agrees_with_scalar_kernel():
    """Property: the vectorized ragged pack (which now DROPS on-chord
    interior vertices before the predicate stages) must agree with the
    scalar kernel — which sees the subdivided geometry verbatim — on
    intersects/covers/within over random convex polygons whose edges
    are subdivided with exactly-interpolated points."""
    import random

    import numpy as np

    from iceberg_geo_poc_spark.geo import functions as GF
    from iceberg_geo_poc_spark.geo.wkb import geometry_from_wkb

    rng = random.Random(88)

    def convex_poly(cx, cy, r, n_corners, subdiv):
        import math

        pts = []
        angles = sorted(
            rng.uniform(0, 2 * math.pi) for _ in range(n_corners)
        )
        corners = [
            (cx + r * math.cos(a), cy + r * math.sin(a)) for a in angles
        ]
        for i, (x0, y0) in enumerate(corners):
            x1, y1 = corners[(i + 1) % len(corners)]
            for k in range(subdiv):
                t = k / subdiv
                pts.append((x0 + t * (x1 - x0), y0 + t * (y1 - y0)))
        pts.append(pts[0])
        import struct

        b = b"\x01\x03\x00\x00\x00" + struct.pack("<I", 1)
        b += struct.pack("<I", len(pts))
        for x, y in pts:
            b += struct.pack("<dd", x, y)
        return b

    wa, wb = [], []
    for _ in range(120):
        wa.append(
            convex_poly(
                rng.uniform(-5, 5), rng.uniform(-5, 5), rng.uniform(0.5, 3),
                rng.randrange(3, 7), rng.randrange(1, 4),
            )
        )
        wb.append(
            convex_poly(
                rng.uniform(-5, 5), rng.uniform(-5, 5), rng.uniform(0.5, 3),
                rng.randrange(3, 7), rng.randrange(1, 4),
            )
        )
    sa, sb = _bin(wa), _bin(wb)
    for pred in ("intersects", "covers", "within"):
        fast = GF._fast_polypoly_predicate(pred, sa, sb)
        assert fast is not None
        fast = fast.to_pylist()
        for i, (a, b) in enumerate(zip(wa, wb)):
            want = getattr(geometry_from_wkb(a), pred)(geometry_from_wkb(b))
            assert fast[i] == want, (pred, i)


def _hilbert_batches():
    """{batch: wkb values}: one batch per vectorized bounds path (points,
    rectangles, packed polygons and multipolygons) plus a mixed batch
    that takes the per-geometry fallback, with EWKB carrying an SRID,
    POINT EMPTY, NULL, a half-NaN point and out-of-extent rows."""
    rng = np.random.default_rng(5)

    def xy():
        return float(rng.uniform(-170, 160)), float(rng.uniform(-80, 70))

    pts = [Point(*xy()) for _ in range(16)]
    rects = []
    polys = []
    for _ in range(12):
        x, y = xy()
        rects.append(box(x, y, x + rng.uniform(0.1, 9), y + rng.uniform(0.1, 9)))
        polys.append(Polygon([(x, y), (x + 7, y + 1), (x + 2, y + 9)]))
    mpolys = [MultiPolygon([polys[i], polys[i + 1]]) for i in range(0, 12, 2)]
    special = [
        geometry_to_wkb(geometry_from_wkt("POINT EMPTY")),
        None,
        geometry_to_wkb(Point(float("nan"), 1.0)),
        geometry_to_wkb(Point(200.0, 10.0)),
    ]
    wkb = [geometry_to_wkb(g) for g in pts + rects + polys + mpolys]
    ewkb = [geometry_to_wkb(g, srid=4326) for g in pts[:4] + rects[:4] + mpolys[:4]]
    return {
        "points": [geometry_to_wkb(g) for g in pts] + special,
        "rectangles": [geometry_to_wkb(g) for g in rects] + [None],
        "polygons": [geometry_to_wkb(g) for g in polys + rects] + [None],
        "multipolygons": [geometry_to_wkb(g) for g in mpolys + polys],
        "mixed": wkb + ewkb + special
        + [geometry_to_wkb(LineString([(0, 0), (3, 4)]))],
    }


@pytest.mark.parametrize(
    "bounds", [DEFAULT_BOUNDS, (-60.0, -30.0, 90.0, 45.0)], ids=["world", "custom"]
)
@pytest.mark.parametrize("res", [8, 10, 12])
@pytest.mark.parametrize("batch", list(_hilbert_batches()))
def test_arrow_hilbert_matches_per_geometry_reference(batch, res, bounds):
    """The st_hilbert Arrow kernel gives, in every Arrow layout, the
    per-geometry reference's key for every row (NULL where it gives
    -1)."""
    from iceberg_geo_poc_spark.geo import functions as GF

    values = _hilbert_batches()[batch]
    ref = hilbert_index_geoms(
        [None if v is None else geometry_from_wkb(v) for v in values], res, bounds
    )
    want = [None if k < 0 else int(k) for k in ref]
    assert any(k is not None for k in want)
    for layout, col in _layouts(values).items():
        got = GF._hilbert_arrow(col, res, bounds).to_pylist()
        assert got == want, (batch, layout)

