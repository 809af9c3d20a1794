"""Manifest geometry bboxes and point-only flags: the driver-side Arrow
reduction of a small write equals the distributed ``_bbox_frame``
aggregation, which stays the reference, on every shape, encoding and
file layout; a write above ``BBOX_DRIVER_MAX_BYTES`` takes the Spark
path; the encrypted in-task writer records the same flags; a rename
and a compaction keep them."""

from __future__ import annotations

import json
import math
import uuid

import pyarrow as pa
import pytest

from iceberg_geo_poc_spark.geo import MultiPolygon, Point, Polygon, box
from iceberg_geo_poc_spark.geo.encoding import encode
from iceberg_geo_poc_spark.table import Catalog
from iceberg_geo_poc_spark.table import manifest as M

EMPTY = Point(math.nan, math.nan)  # POINT EMPTY in every encoding
# a point with one NaN coordinate has no envelope; wkt cannot spell it
HALF_NAN = {
    "wkb": encode(Point(math.nan, 1.0), "wkb"),
    "ewkb": encode(Point(math.nan, 1.0), "ewkb"),
    "geojson": '{"type":"Point","coordinates":[NaN,1]}',
    "wkt": "POINT EMPTY",
}
SHAPES = {
    "pts": [Point(i * 1.5 - 3.0, 2.0 - i) for i in range(6)],
    "polys": [
        box(0.0, 0.0, 2.0, 1.0),
        Polygon([(0.0, 0.0), (4.0, 1.0), (1.0, 5.0)], holes=[[(1, 1), (2, 1), (1, 2)]]),
        MultiPolygon([box(10.0, 10.0, 11.0, 11.0), box(-20.0, -1.0, -19.0, 0.0)]),
    ],
    "mixed": [None, EMPTY, "half-nan", Point(7.0, -7.0), box(-1.0, -2.0, 0.5, 3.0)],
    "nulls": [None, None, None],
    "empties": [EMPTY, "half-nan"],
}


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(str(tmp_path / "wh"), spark)


def _recorded(entries) -> dict:
    """{file_path: the geometry stats its manifest entry records}."""
    return {
        r.file_path: {"bbox": json.loads(r.bbox), "points": json.loads(r.points)}
        for r in entries.itertuples()
    }


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"bbox-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "manifest bbox")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def _geo_table(spark, catalog, enc):
    """Two geometry columns (g1 in ``enc``, g2 wkb), identity-partitioned
    by shape group, so every file sits in its own subdirectory."""
    typ = "BINARY" if enc in ("wkb", "ewkb") else "STRING"
    ddl = f"id BIGINT, grp STRING, g1 {typ}, g2 BINARY"
    t = catalog.create_table(
        f"bb_{enc}",
        ddl,
        partition_by=[("grp", "identity")],
        geometry_columns={"g1": enc, "g2": "wkb"},
    )
    rows, i = [], 0
    for grp, shapes in SHAPES.items():
        for g in shapes:
            v = HALF_NAN[enc] if g == "half-nan" else encode(g, enc)
            if isinstance(v, bytes):
                v = bytearray(v)
            g2 = Point(math.nan, 1.0) if grp == "empties" else Point(float(i), -2.0 * i)
            rows.append((i, grp, v, bytearray(encode(g2, "wkb"))))
            i += 1
    t.append(spark.createDataFrame(rows, ddl))
    return catalog.load_table(f"bb_{enc}")


@pytest.mark.parametrize("enc", ["wkb", "ewkb", "wkt", "geojson"])
def test_driver_bboxes_equal_spark_aggregate(spark, catalog, monkeypatch, enc):
    t = _geo_table(spark, catalog, enc)
    entries = t._entries()
    paths = list(entries.file_path)
    assert len(paths) == len(SHAPES)
    assert all("grp=" in p.split("/")[-2] for p in paths)
    fields, ddl = t.meta.geo_fields, t.meta.schema_ddl
    driver, jobs = _jobs(spark, lambda: M.compute_bboxes(spark, paths, fields, ddl))
    assert jobs == 0
    # the write recorded the driver path's bboxes and flags
    assert _recorded(entries) == driver
    monkeypatch.setattr(M, "BBOX_DRIVER_MAX_BYTES", 0)
    ref, jobs = _jobs(spark, lambda: M.compute_bboxes(spark, paths, fields, ddl))
    assert jobs > 0
    assert driver == ref
    grp_of = {r.file_path: json.loads(r.partition)["grp"] for r in entries.itertuples()}
    by_grp = {grp_of[p]: d["bbox"] for p, d in driver.items()}
    flags = {grp_of[p]: d["points"] for p, d in driver.items()}
    # g2 is plain wkb points everywhere (NaN coordinates included); g1
    # has a flag only when stored as WKB bytes, and EWKB carries an SRID
    assert all(f["g2"] is True for f in flags.values())
    if enc == "wkb":
        assert {g: f["g1"] for g, f in flags.items()} == {
            "pts": True, "polys": False, "mixed": False, "nulls": True, "empties": True,
        }
    elif enc == "ewkb":
        assert {g: f["g1"] for g, f in flags.items()} == {
            "pts": False, "polys": False, "mixed": False, "nulls": True, "empties": False,
        }
    else:
        assert all("g1" not in f for f in flags.values())
    assert by_grp["pts"]["g1"] == [-3.0, -3.0, 4.5, 2.0]
    assert by_grp["polys"]["g1"] == [-20.0, -1.0, 11.0, 11.0]
    assert by_grp["mixed"]["g1"] == [-1.0, -7.0, 7.0, 3.0]
    assert by_grp["nulls"]["g1"] is None
    assert by_grp["empties"]["g1"] is None
    assert by_grp["empties"]["g2"] is None
    assert by_grp["nulls"]["g2"] == [14.0, -32.0, 16.0, -28.0]


def test_arrow_bbox_reduces_across_chunks():
    """Splitting a column into row-group-sized chunks, with empty and
    all-null ones among them, leaves its bbox unchanged; each bound
    reduces over the rows that have one."""
    vals = [encode(g, "wkb") for g in SHAPES["pts"] + SHAPES["polys"]]
    vals += [None, encode(EMPTY, "wkb"), HALF_NAN["wkb"]]
    whole = M.arrow_bbox([pa.array(vals, type=pa.binary())], "wkb")
    assert whole == ([-20.0, -3.0, 11.0, 11.0], False)
    chunks = [
        pa.array(vals[:4], type=pa.binary()),
        pa.array([], type=pa.binary()),
        pa.array([None, None], type=pa.binary()),
        pa.array(vals[4:], type=pa.large_binary()),
    ]
    assert M.arrow_bbox(chunks, "wkb") == whole
    # only the point chunk and null ones: point-only, wherever they sit
    assert M.arrow_bbox(chunks[:3], "wkb") == ([-3.0, -1.0, 1.5, 2.0], True)
    assert M.arrow_bbox(pa.chunked_array(chunks[1:3]).chunks, "wkb") == (None, True)
    assert M.arrow_bbox([], "wkt") == (None, None)


def test_bbox_write_above_cap_takes_spark_path(spark, catalog, monkeypatch):
    """A write whose geometry bytes pass the cap runs the aggregation job
    and records the same bboxes the driver path computes."""
    from iceberg_geo_poc_spark.geo.functions import st_point
    import pyspark.sql.functions as F

    t = catalog.create_table(
        "bb_cap", "id BIGINT, geom BINARY", geometry_columns={"geom": "wkb"}
    )
    df = (
        spark.range(300)
        .select("id", st_point(F.col("id") * 0.5, -F.col("id") % 17.0).alias("geom"))
        .repartition(3)
    )
    _, small_jobs = _jobs(spark, lambda: t.append(df))
    monkeypatch.setattr(M, "BBOX_DRIVER_MAX_BYTES", 1)
    _, large_jobs = _jobs(spark, lambda: catalog.load_table("bb_cap").append(df))
    assert large_jobs > small_jobs
    monkeypatch.undo()
    t = catalog.load_table("bb_cap")
    entries = t._entries()
    assert len(entries) == 6
    driver = M.compute_bboxes(
        spark, list(entries.file_path), t.meta.geo_fields, t.meta.schema_ddl
    )
    assert _recorded(entries) == driver
    assert all(d["points"] == {"geom": True} for d in driver.values())


def _flag_table(spark, catalog, name, props=None):
    """A wkb table partitioned by ``grp``: one file of points (with a
    null and an empty point), one that also holds a polygon."""
    from tests.frames import frame

    ddl = "id BIGINT, grp STRING, geom BINARY"
    t = catalog.create_table(
        name,
        ddl,
        partition_by=[("grp", "identity")],
        geometry_columns={"geom": "wkb"},
        properties=props or {},
    )
    rows = [(i, "pts", encode(Point(i, -i), "wkb")) for i in range(4)]
    rows += [(4, "pts", None), (5, "pts", encode(EMPTY, "wkb"))]
    rows += [(6, "mixed", encode(Point(1.0, 1.0), "wkb")),
             (7, "mixed", encode(box(0.0, 0.0, 1.0, 1.0), "wkb"))]
    t.append(frame(spark, rows, ddl))
    return catalog.load_table(name)


def _flags_by_grp(t) -> dict:
    ent = t._entries()
    data = ent[ent.content == "data"]
    return {
        json.loads(r.partition)["grp"]: json.loads(r.points) for r in data.itertuples()
    }


def test_encrypted_writer_records_the_same_point_flags(spark, catalog):
    """The modular-encryption writer computes the flags in its write
    task; they equal the plain writer's for the same rows."""
    from iceberg_geo_poc_spark.table import parquet_crypto as PC

    PC.register_master_key("k_points", bytes(range(16)))
    plain = _flag_table(spark, catalog, "flags_plain")
    sealed = _flag_table(
        spark, catalog, "flags_enc", {"write.parquet.encryption.footer-key": "k_points"}
    )
    want = {"pts": {"geom": True}, "mixed": {"geom": False}}
    assert _flags_by_grp(plain) == want
    assert _flags_by_grp(sealed) == want


def test_rename_and_compaction_keep_point_flags(spark, catalog):
    """Flags are keyed by physical name: a renamed geometry column still
    finds them, and a compaction records them for the files it writes."""
    from iceberg_geo_poc_spark.table import E
    from iceberg_geo_poc_spark.table import maintenance as MT

    _flag_table(spark, catalog, "flags_ren")
    t = catalog.rename_column("flags_ren", "geom", "shape")
    pts_only = E.eq("grp", "pts") & E.st_intersects("shape", box(0.5, -5.0, 5.0, -0.5))
    scan = t.scan(where=pts_only)
    scan.files()
    assert scan._points == {"shape"}
    assert sorted(r.id for r in scan.to_df().collect()) == [1, 2, 3]
    before = set(t._entries().file_path)
    MT.rewrite_data_files(t, strategy="binpack")
    t = catalog.load_table("flags_ren")
    ent = t._entries()
    assert (ent.content == "data").sum() == 2
    assert not before & set(ent.file_path)
    assert _flags_by_grp(t) == {"pts": {"geom": True}, "mixed": {"geom": False}}
    scan = t.scan(where=pts_only)
    scan.files()
    assert scan._points == {"shape"}
    assert sorted(r.id for r in scan.to_df().collect()) == [1, 2, 3]
