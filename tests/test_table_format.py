"""Table-format end-to-end tests.

Primary golden: the quadrant geometry fixture with (files-scanned,
rows-returned) assertions ported from reference
data/src/test/java/org/apache/iceberg/havasu/TestGeometryReadersAndWriters.java:229-316.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from iceberg_geo_poc_spark.geo import Point, box, geometry_to_wkb
from iceberg_geo_poc_spark.table import Catalog, E


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(str(tmp_path / "warehouse"), spark)


def _quadrant_table(catalog, spark, name="geo_t", partitioned=False):
    """4 appends, one per quadrant -> exactly 4 data files (reference
    TestGeometryReadersAndWriters.java:100-144)."""
    t = catalog.create_table(
        name,
        "id BIGINT, part INT, geom BINARY",
        partition_by=[("part", "identity")] if partitioned else None,
        geometry_columns={"geom": "wkb"},
    )
    next_id = 0
    for quadrant in range(4):
        rows = []
        for k in range(1, 11):
            sx = (1, -1, -1, 1)[quadrant]
            sy = (1, 1, -1, -1)[quadrant]
            center = Point(float(sx * k), float(sy * k))
            rows.append((next_id, quadrant, bytearray(geometry_to_wkb(center))))
            rows.append(
                (next_id, quadrant, bytearray(geometry_to_wkb(center.buffer(0.5))))
            )
            next_id += 1
        df = spark.createDataFrame(rows, "id BIGINT, part INT, geom BINARY").coalesce(1)
        t.append(df)
    return t


GOLDEN = [
    # (op, window, files_scanned, rows) — reference :229-263
    ("st_intersects", Point(1, 1), 1, 2),
    ("st_intersects", Point(0, 0), 0, 0),
    ("st_intersects", Point(1.5, 1.5), 1, 0),
    ("st_intersects", box(0.5, -1.1, 1.1, 1.1), 2, 4),
    ("st_intersects", box(0, 0, 0.75, 0.75), 1, 1),
    ("st_intersects", box(0.75, 0.75, 1.25, 1.25), 1, 2),
    ("st_covers", Point(1, 1), 1, 2),
    ("st_covers", Point(0, 0), 0, 0),
    ("st_covers", Point(1.5, 1.5), 1, 0),
    ("st_covers", box(0, 0, 0.75, 0.75), 0, 0),
    ("st_covers", box(0.75, 0.75, 1.25, 1.25), 1, 1),
]


@pytest.fixture(scope="module")
def quadrant_t(spark, tmp_path_factory):
    cat = Catalog(str(tmp_path_factory.mktemp("wh")), spark)
    return _quadrant_table(cat, spark)


@pytest.mark.parametrize(
    "op,window,exp_files,exp_rows",
    GOLDEN,
    ids=[f"{op}-{i}" for i, (op, *_rest) in enumerate(GOLDEN)],
)
def test_quadrant_scan_goldens(quadrant_t, op, window, exp_files, exp_rows):
    pred = E.st_intersects("geom", window) if op == "st_intersects" else E.st_covers(
        "geom", window
    )
    scan = quadrant_t.scan(where=pred)
    assert quadrant_t.current_snapshot() is not None
    assert scan.total_data_files() == 4
    assert len(scan.files()) == exp_files
    assert scan.to_df().count() == exp_rows


def test_quadrant_combined_predicate(quadrant_t):
    pred = E.le("id", 10) & E.st_intersects("geom", box(0.5, -1.1, 1.1, 1.1))
    scan = quadrant_t.scan(where=pred)
    assert len(scan.files()) == 1
    assert scan.to_df().count() == 2


def test_quadrant_partitioned_variant(spark, catalog):
    t = _quadrant_table(catalog, spark, name="geo_part", partitioned=True)
    pred = E.eq("part", 3) & E.st_intersects("geom", box(0.5, -1.1, 1.1, 1.1))
    scan = t.scan(where=pred)
    assert len(scan.files()) == 1
    assert scan.to_df().count() == 2
    # partition values recorded in manifests (path-derived string form)
    entries = t._entries()
    parts = sorted(set(e for e in entries.partition))
    assert parts == ['{"part": "0"}', '{"part": "1"}', '{"part": "2"}', '{"part": "3"}']


def test_metrics_presence(quadrant_t):
    """Per-file bounds recorded: id/part min-max + geom bbox
    (reference :166-171)."""
    import json

    entries = quadrant_t._entries()
    assert len(entries) == 4
    for row in entries.itertuples():
        lower, upper = json.loads(row.lower), json.loads(row.upper)
        assert "id" in lower and "part" in lower and "id" in upper
        bbox = json.loads(row.bbox)
        assert bbox["geom"] is not None and len(bbox["geom"]) == 4


def test_append_scan_roundtrip(spark, catalog):
    t = catalog.create_table("plain", "a BIGINT, b STRING")
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "a BIGINT, b STRING")
    t.append(df)
    t.append(spark.createDataFrame([(4, "w")], "a BIGINT, b STRING"))
    got = sorted(r.a for r in t.to_df().collect())
    assert got == [1, 2, 3, 4]
    # stats pruning on a: eq(4) should hit only the second append's file(s)
    scan = t.scan(where=E.eq("a", 4))
    assert len(scan.files()) < scan.total_data_files()
    assert [r.a for r in scan.to_df().collect()] == [4]


def test_time_travel_and_rollback(spark, catalog):
    t = catalog.create_table("tt", "a BIGINT")
    t.append(spark.createDataFrame([(1,), (2,)], "a BIGINT"))
    snap1 = t.current_snapshot().snapshot_id
    t.append(spark.createDataFrame([(3,)], "a BIGINT"))
    assert t.to_df().count() == 3
    assert t.scan(snapshot_id=snap1).to_df().count() == 2
    catalog.rollback_to_snapshot("tt", snap1)
    t = catalog.load_table("tt")
    assert t.to_df().count() == 2


def test_overwrite_modes(spark, catalog):
    t = catalog.create_table(
        "ow", "k BIGINT, part STRING", partition_by=[("part", "identity")]
    )
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "k BIGINT, part STRING"
        )
    )
    # dynamic partition overwrite replaces only partition 'b'
    t.dynamic_partition_overwrite(
        spark.createDataFrame([(30, "b")], "k BIGINT, part STRING")
    )
    got = sorted(r.k for r in t.to_df().collect())
    assert got == [1, 2, 30]
    # full overwrite
    t.overwrite(spark.createDataFrame([(99, "z")], "k BIGINT, part STRING"))
    assert [r.k for r in t.to_df().collect()] == [99]


def test_overwrite_by_filter(spark, catalog):
    t = catalog.create_table("owf", "k BIGINT, v STRING")
    t.append(
        spark.createDataFrame(
            [(i, "old") for i in range(10)], "k BIGINT, v STRING"
        )
    )
    t.overwrite(
        spark.createDataFrame([(100, "new")], "k BIGINT, v STRING"),
        where=E.ge("k", 5),
    )
    rows = {r.k: r.v for r in t.to_df().collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 100}


def test_cow_delete_metadata_and_rewrite(spark, catalog):
    t = catalog.create_table("del", "a BIGINT")
    t.append(spark.createDataFrame([(i,) for i in range(10)], "a BIGINT"))  # file 1
    t.append(spark.createDataFrame([(i,) for i in range(100, 110)], "a BIGINT"))  # file 2
    # whole file 2 matches strictly -> metadata-only drop, file 1 untouched
    n_files_before = t.scan().total_data_files()
    t.delete(E.ge("a", 100))
    assert t.to_df().count() == 10
    assert t.current_snapshot().summary["deleted-files"] >= 1
    # partial delete -> rewrite
    t.delete(E.lt("a", 3))
    got = sorted(r.a for r in t.to_df().collect())
    assert got == [3, 4, 5, 6, 7, 8, 9]


def test_mor_delete(spark, catalog):
    t = catalog.create_table("mor", "a BIGINT, b STRING")
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(20)], "a BIGINT, b STRING"
        ).coalesce(1)
    )
    t.delete(E.lt("a", 5), mode="merge-on-read")
    got = sorted(r.a for r in t.to_df().collect())
    assert got == list(range(5, 20))
    # delete file recorded, data files untouched
    entries = t._entries()
    assert (entries.content == "posdel").sum() == 1
    assert (entries.content == "data").sum() == 1
    # second MoR delete stacks
    t.delete(E.ge("a", 18), mode="merge-on-read")
    got = sorted(r.a for r in t.to_df().collect())
    assert got == list(range(5, 18))


def test_update(spark, catalog):
    t = catalog.create_table("upd", "a BIGINT, status STRING")
    t.append(
        spark.createDataFrame(
            [(i, "open") for i in range(10)], "a BIGINT, status STRING"
        )
    )
    t.update({"status": "closed"}, where=E.ge("a", 7))
    rows = {r.a: r.status for r in t.to_df().collect()}
    assert all(v == "closed" for k, v in rows.items() if k >= 7)
    assert all(v == "open" for k, v in rows.items() if k < 7)


def test_merge(spark, catalog):
    t = catalog.create_table("mrg", "k BIGINT, v STRING")
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING")
    )
    src = spark.createDataFrame([(2, "B"), (4, "D")], "k BIGINT, v STRING")
    t.merge(src, on=["k"], when_matched_update={"v": F.col("s.v")})
    rows = dict((r.k, r.v) for r in t.to_df().collect())
    assert rows == {1: "a", 2: "B", 3: "c", 4: "D"}
    # cardinality violation: a TARGET row matched by two source rows
    # while an update clause exists (reference TestMerge.java:882)
    bad = spark.createDataFrame([(1, "x"), (1, "y")], "k BIGINT, v STRING")
    with pytest.raises(ValueError, match="cardinality"):
        t.merge(bad, on=["k"], when_matched_update={"v": F.col("s.v")})
    # ...but duplicate source keys that match NOTHING legally insert
    # (TestMerge.java:527 — insert-only merge with repeated keys)
    dup_new = spark.createDataFrame([(9, "x"), (9, "y")], "k BIGINT, v STRING")
    t.merge(dup_new, on=["k"], when_matched_update={"v": F.col("s.v")})
    assert sorted(r.k for r in t.to_df().collect()) == [1, 2, 3, 4, 9, 9]


def test_mor_update(spark, catalog):
    t = catalog.create_table("morupd", "a BIGINT, status STRING")
    t.append(
        spark.createDataFrame(
            [(i, "open") for i in range(10)], "a BIGINT, status STRING"
        ).coalesce(1)
    )
    t.update({"status": "closed"}, where=E.ge("a", 7), mode="merge-on-read")
    rows = {r.a: r.status for r in t.to_df().collect()}
    assert rows == {i: ("closed" if i >= 7 else "open") for i in range(10)}
    ent = t._entries()
    # original file kept, one posdel + one new data file added
    assert (ent.content == "posdel").sum() == 1
    assert (ent.content == "data").sum() == 2
    # stacking: MoR delete after MoR update sees the updated rows
    t.delete(E.eq("status", "closed"), mode="merge-on-read")
    assert sorted(r.a for r in t.to_df().collect()) == list(range(7))


def test_mor_merge(spark, catalog):
    t = catalog.create_table("mormrg", "k BIGINT, v STRING")
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING"
        ).coalesce(1)
    )
    src = spark.createDataFrame([(2, "B"), (4, "D")], "k BIGINT, v STRING")
    t.merge(src, on=["k"], when_matched_update={"v": F.col("s.v")}, mode="merge-on-read")
    rows = dict((r.k, r.v) for r in t.to_df().collect())
    assert rows == {1: "a", 2: "B", 3: "c", 4: "D"}
    ent = t._entries()
    assert (ent.content == "posdel").sum() == 1
    # matched-delete variant, no inserts
    t.merge(
        spark.createDataFrame([(1, "x")], "k BIGINT, v STRING"),
        on=["k"],
        when_matched_delete=True,
        when_not_matched_insert=False,
        mode="merge-on-read",
    )
    assert sorted(r.k for r in t.to_df().collect()) == [2, 3, 4]


def test_merge_delete(spark, catalog):
    t = catalog.create_table("mrgd", "k BIGINT, v STRING")
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING")
    )
    src = spark.createDataFrame([(2, "x")], "k BIGINT, v STRING")
    t.merge(src, on=["k"], when_matched_delete=True, when_not_matched_insert=False)
    assert sorted(r.k for r in t.to_df().collect()) == [1, 3]


def test_rename_column_no_rewrite(spark, catalog):
    """Rename never rewrites data files (Iceberg evolution-by-id
    posture, Schema.java:51): reads alias physical->logical, stats
    pruning bridges old manifest keys, writes alias back."""
    t = catalog.create_table("ren", "a BIGINT, b STRING")
    t.append(
        spark.createDataFrame([(1, "x"), (2, "y")], "a BIGINT, b STRING").coalesce(1)
    )
    files_before = set(t._entries().file_path)
    catalog.rename_column("ren", "b", "label")
    t = catalog.load_table("ren")
    assert t.columns() == ["a", "label"]
    assert {(r.a, r.label) for r in t.to_df().collect()} == {(1, "x"), (2, "y")}
    assert set(t._entries().file_path) == files_before
    # predicate on the NEW name prunes via the OLD stats keys
    scan = t.scan(where=E.eq("label", "x"))
    assert [r.a for r in scan.to_df().collect()] == [1]
    # writes after rename land under the physical name and read back
    t.append(spark.createDataFrame([(3, "z")], "a BIGINT, label STRING"))
    assert {(r.a, r.label) for r in t.to_df().collect()} == {
        (1, "x"), (2, "y"), (3, "z"),
    }
    with pytest.raises(ValueError, match="already exists"):
        catalog.rename_column("ren", "label", "a")
    # renaming back to the physical name clears the mapping
    catalog.rename_column("ren", "label", "b")
    assert catalog.load_table("ren").meta.renames == {}


def test_renamed_text_geometry_filters_and_compacts_by_new_name(spark, catalog):
    """A renamed wkt geometry column is decoded under its new name by a
    spatial filter, a hilbert compaction and a sort compaction on its
    Hilbert key."""
    from iceberg_geo_poc_spark.table.maintenance import rewrite_data_files

    t = catalog.create_table("rengeo", "id BIGINT, g STRING", geometry_columns={"g": "wkt"})
    for k in range(2):
        t.append(
            spark.createDataFrame(
                [(i, f"POINT ({i % 10} {i // 10})") for i in range(k * 50, k * 50 + 50)],
                "id BIGINT, g STRING",
            )
        )
    catalog.rename_column("rengeo", "g", "shape")
    t = catalog.load_table("rengeo")
    assert t.geo_fields == {"shape": "wkt"}
    window = E.st_intersects("shape", box(0, 0, 5, 5))
    assert t.scan(window).to_df().count() == 36
    for kwargs in (
        {"strategy": "hilbert", "hilbert_column": "shape"},
        {"strategy": "sort", "sort_by": ["hilbert(shape)"]},
    ):
        rewrite_data_files(t, min_input_files=1, target_file_size=1 << 30, **kwargs)
        t = catalog.load_table("rengeo")
        assert len(t._entries()) == 1
        assert t.scan(window).to_df().count() == 36


def test_drop_and_promote_column(spark, catalog):
    t = catalog.create_table("evo2", "a INT, b FLOAT, c STRING")
    t.append(spark.createDataFrame([(1, 1.5, "x")], "a INT, b FLOAT, c STRING"))
    catalog.drop_column("evo2", "c")
    t = catalog.load_table("evo2")
    assert t.columns() == ["a", "b"]
    assert t.to_df().columns == ["a", "b"]
    # legal widenings are metadata-only; Spark's parquet reader widens
    catalog.promote_column_type("evo2", "a", "BIGINT")
    catalog.promote_column_type("evo2", "b", "DOUBLE")
    t = catalog.load_table("evo2")
    assert {f.name: f.dataType.simpleString() for f in t.to_df().schema.fields} == {
        "a": "bigint", "b": "double",
    }
    row = t.to_df().collect()[0]
    assert row.a == 1 and abs(row.b - 1.5) < 1e-9
    with pytest.raises(ValueError, match="illegal promotion"):
        catalog.promote_column_type("evo2", "a", "INT")


def test_identifier_fields_default_eq_delete_key(spark, catalog):
    t = catalog.create_table("idf", "k BIGINT, v STRING")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING"))
    catalog.set_identifier_fields("idf", ["k"])
    t = catalog.load_table("idf")
    # delete_by_keys with no key_cols defaults to the identifier fields
    t.delete_by_keys(spark.createDataFrame([(1, "zz")], "k BIGINT, v STRING"))
    assert [r.k for r in t.to_df().collect()] == [2]
    with pytest.raises(KeyError):
        catalog.set_identifier_fields("idf", ["nope"])
    catalog.drop_identifier_fields("idf")
    assert "identifier-fields" not in catalog.load_table("idf").meta.properties


def test_schema_evolution_and_geo_ddl(spark, catalog):
    t = catalog.create_table("evo", "id INT, data STRING, geomtext STRING, raw BINARY")
    t.append(
        spark.createDataFrame(
            [(1, "d1", "POINT (1 2)", bytearray(b"\x01"))],
            "id INT, data STRING, geomtext STRING, raw BINARY",
        )
    )
    # promotion string -> geometry(wkt) legal; string -> ewkb illegal
    catalog.set_geometry_fields("evo", {"geomtext": "wkt"})
    with pytest.raises(ValueError, match="requires BINARY"):
        catalog.set_geometry_fields("evo", {"geomtext": "ewkb"})
    with pytest.raises(ValueError, match="requires STRING"):
        catalog.set_geometry_fields("evo", {"raw": "geojson"})
    catalog.set_geometry_fields("evo", {"raw": "ewkb"})
    t = catalog.load_table("evo")
    assert t.geo_fields == {"geomtext": "wkt", "raw": "ewkb"}
    # demotion
    catalog.drop_geometry_fields("evo", ["raw"])
    assert catalog.load_table("evo").geo_fields == {"geomtext": "wkt"}
    # add columns: old files read NULL
    catalog.add_columns("evo", "extra DOUBLE")
    t = catalog.load_table("evo")
    row = t.to_df().collect()[0]
    assert row.extra is None


def test_branch_tag_refs(spark, catalog):
    t = catalog.create_table("refs", "a BIGINT")
    t.append(spark.createDataFrame([(1,)], "a BIGINT"))
    catalog.create_tag("refs", "v1")
    t = catalog.load_table("refs")
    t.append(spark.createDataFrame([(2,)], "a BIGINT"))
    t = catalog.load_table("refs")
    assert t.scan(ref="v1").to_df().count() == 1
    assert t.to_df().count() == 2


def test_concurrent_commit_conflict(spark, catalog):
    t1 = catalog.create_table("cc", "a BIGINT")
    t1.append(spark.createDataFrame([(1,)], "a BIGINT"))
    # two handles at the same base version; both commit; retry resolves
    ta = catalog.load_table("cc")
    tb = catalog.load_table("cc")
    ta.append(spark.createDataFrame([(2,)], "a BIGINT"))
    tb.append(spark.createDataFrame([(3,)], "a BIGINT"))
    final = catalog.load_table("cc")
    assert sorted(r.a for r in final.to_df().collect()) == [1, 2, 3]


def test_equality_delete_sequence_visibility(spark, catalog):
    """Equality deletes suppress keys only in data files with a LOWER
    sequence number; later appends of the same key stay visible
    (reference DeleteFileIndex.java:122-130 sequence rule)."""
    t = catalog.create_table("eqd", "k BIGINT, v STRING")
    t.append(
        spark.createDataFrame([(i, f"old{i}") for i in range(10)], "k BIGINT, v STRING")
    )
    t.delete_by_keys(spark.createDataFrame([(2,), (3,), (7,)], "k BIGINT"))
    got = sorted(r.k for r in t.to_df().collect())
    assert got == [0, 1, 4, 5, 6, 8, 9]
    # data files untouched (merge-on-read), delete file recorded
    entries = t._entries()
    assert (entries.content == "eqdel").sum() == 1
    assert (entries.content == "data").sum() >= 1
    # re-append a deleted key AFTER the delete: visible (higher seq)
    t.append(spark.createDataFrame([(3, "new3")], "k BIGINT, v STRING"))
    rows = {r.k: r.v for r in t.to_df().collect()}
    assert rows[3] == "new3"
    assert 2 not in rows and 7 not in rows
    # stacking a second delete removes the re-appended key too
    t.delete_by_keys(spark.createDataFrame([(3,)], "k BIGINT"))
    assert 3 not in {r.k for r in t.to_df().collect()}


def test_equality_delete_multi_column_key(spark, catalog):
    t = catalog.create_table("eqd2", "a BIGINT, b STRING, v DOUBLE")
    t.append(
        spark.createDataFrame(
            [(1, "x", 1.0), (1, "y", 2.0), (2, "x", 3.0)], "a BIGINT, b STRING, v DOUBLE"
        )
    )
    t.delete_by_keys(
        spark.createDataFrame([(1, "x")], "a BIGINT, b STRING"), key_cols=["a", "b"]
    )
    got = sorted((r.a, r.b) for r in t.to_df().collect())
    assert got == [(1, "y"), (2, "x")]


def test_wap_stage_and_publish(spark, catalog):
    """Write-audit-publish: a wap_id append is invisible until published."""
    t = catalog.create_table("wap", "a BIGINT")
    t.append(spark.createDataFrame([(1,)], "a BIGINT"))
    staged = t.append(spark.createDataFrame([(2,), (3,)], "a BIGINT"), wap_id="audit-1")
    # staged snapshot is logged but NOT current
    t = catalog.load_table("wap")
    assert sorted(r.a for r in t.to_df().collect()) == [1]
    # audit the staged snapshot directly, then publish
    assert t.scan(snapshot_id=staged.snapshot_id).to_df().count() == 3
    catalog.publish_changes("wap", "audit-1")
    t = catalog.load_table("wap")
    assert sorted(r.a for r in t.to_df().collect()) == [1, 2, 3]


def test_wap_cherrypick_after_divergence(spark, catalog):
    """A staged append still publishes cleanly after main advances:
    cherry-pick re-applies its added files on the new base."""
    t = catalog.create_table("wap2", "a BIGINT")
    t.append(spark.createDataFrame([(1,)], "a BIGINT"))
    t.append(spark.createDataFrame([(2,)], "a BIGINT"), wap_id="w")
    t = catalog.load_table("wap2")
    t.append(spark.createDataFrame([(10,)], "a BIGINT"))  # main diverges
    catalog.publish_changes("wap2", "w")
    t = catalog.load_table("wap2")
    assert sorted(r.a for r in t.to_df().collect()) == [1, 2, 10]


def test_fast_forward_and_ancestors(spark, catalog):
    t = catalog.create_table("ffwd", "a BIGINT")
    t.append(spark.createDataFrame([(1,)], "a BIGINT"))
    s1 = t.current_snapshot().snapshot_id
    catalog.create_branch("ffwd", "audit", s1)
    t = catalog.load_table("ffwd")
    t.append(spark.createDataFrame([(2,)], "a BIGINT"))
    s2 = t.current_snapshot().snapshot_id
    catalog.fast_forward("ffwd", "audit", s2)
    t = catalog.load_table("ffwd")
    assert t.meta.refs["audit"]["snapshot-id"] == s2
    # ancestors: newest first, s2 -> s1
    chain = [s.snapshot_id for s in catalog.ancestors_of("ffwd")]
    assert chain == [s2, s1]
    # non-descendant move refused
    with pytest.raises(ValueError):
        catalog.fast_forward("ffwd", "audit", s1)


def test_orc_table_roundtrip_and_pruning(spark, catalog):
    """ORC-format managed table: write, stats-pruned scan, CoW ops
    (reference §2.1 'ORC read-write, same surface minus geometry')."""
    t = catalog.create_table("orct", "a BIGINT, b STRING", file_format="orc")
    for lo in (0, 100):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"r{lo + i}") for i in range(10)], "a BIGINT, b STRING"
            ).coalesce(1)
        )
    assert all(p.endswith(".orc") for p in t.scan().files())
    # stats pruning works off the spark-aggregated manifest stats
    scan = t.scan(where=E.ge("a", 100))
    assert len(scan.files()) == 1
    assert sorted(r.a for r in scan.to_df().collect()) == list(range(100, 110))
    # CoW delete + update + equality delete all work on ORC
    t.delete(E.eq("a", 105))
    t.update({"b": "z"}, where=E.eq("a", 3))
    t.delete_by_keys(spark.createDataFrame([(0,)], "a BIGINT"))
    rows = {r.a: r.b for r in t.to_df().collect()}
    assert 105 not in rows and 0 not in rows and rows[3] == "z"
    # position deletes are parquet-only (row_index), like vectorized
    # geometry reads in the reference: clear error, not silent corruption
    with pytest.raises(NotImplementedError):
        t.delete(E.eq("a", 1), mode="merge-on-read")


def test_orc_rejects_geometry(spark, catalog):
    with pytest.raises(ValueError):
        catalog.create_table(
            "orcg", "id BIGINT, geom BINARY",
            geometry_columns={"geom": "ewkb"}, file_format="orc",
        )


def test_concurrent_rewrite_conflict_detected(spark, catalog):
    """A row-level op planned against files that a concurrent commit
    removed must FAIL validation, not silently resurrect/lose rows
    (minimal MergingSnapshotProducer revalidation)."""
    from iceberg_geo_poc_spark.table.maintenance import rewrite_data_files
    from iceberg_geo_poc_spark.table.table import ValidationException

    t1 = catalog.create_table("vconf", "a BIGINT, b STRING")
    for lo in (0, 10):
        t1.append(
            spark.createDataFrame(
                [(lo + i, f"r{lo+i}") for i in range(10)], "a BIGINT, b STRING"
            ).coalesce(1)
        )
    # handle B plans against the pre-compaction file set
    tb = catalog.load_table("vconf")
    # concurrent compaction replaces every file
    rewrite_data_files(t1, target_file_size=10**9)
    with pytest.raises(ValidationException):
        tb.delete(E.lt("a", 5))
    # table contents undamaged
    assert sorted(r.a for r in catalog.load_table("vconf").to_df().collect()) == list(
        range(20)
    )


def test_metadata_tables_entries_and_log(spark, catalog):
    from iceberg_geo_poc_spark.table.metadata_tables import inspect

    t = catalog.create_table("mtab2", "a BIGINT")
    t.append(spark.createDataFrame([(1,), (2,)], "a BIGINT"))
    t.delete_by_keys(spark.createDataFrame([(1,)], "a BIGINT"))
    assert inspect(t, "delete_files").count() == 1  # eqdel visible
    ent = inspect(t, "entries")
    assert ent.filter("content = 'data'").count() >= 1
    log = inspect(t, "metadata_log_entries")
    assert log.count() == 3  # create + append + delete


def test_add_files_registers_without_copy(spark, catalog, tmp_path):
    """add_files imports existing parquet by reference: no data copy,
    footer stats power pruning immediately."""
    ext = str(tmp_path / "external")
    spark.createDataFrame(
        [(i, f"x{i}") for i in range(20)], "a BIGINT, b STRING"
    ).coalesce(1).write.parquet(ext)
    import glob

    files = sorted(glob.glob(f"{ext}/*.parquet"))
    t = catalog.create_table("imp", "a BIGINT, b STRING")
    catalog.add_files("imp", files)
    t = catalog.load_table("imp")
    assert t.to_df().count() == 20
    # registered in place — scan reads the external path directly
    assert t.scan().files() == files
    # stats-based pruning works off harvested footers
    assert len(t.scan(where=E.ge("a", 100)).files()) == 0


def test_write_order_tightens_pruning(spark, catalog):
    """WRITE ORDERED BY + range distribution => disjoint per-file
    min/max => selective stats pruning (SetWriteDistributionAndOrdering
    behavior contract)."""
    t = catalog.create_table("worder", "a BIGINT, b STRING")
    catalog.set_write_order("worder", ["a"], distribution_mode="range")
    t = catalog.load_table("worder")
    import random

    rng = random.Random(7)
    vals = list(range(400))
    rng.shuffle(vals)
    df = spark.createDataFrame([(v, f"r{v}") for v in vals], "a BIGINT, b STRING")
    # AQE would coalesce this tiny shuffle to one partition; pin it off
    # so the range distribution is observable in file counts
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        t.append(df.repartition(4))  # input arrives unsorted and hash-scattered
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    n_files = t.scan().total_data_files()
    assert n_files > 1
    # a narrow range must hit exactly one file after range distribution
    scan = t.scan(where=E.ge("a", 10) & E.le("a", 12))
    assert len(scan.files()) == 1
    assert sorted(r.a for r in scan.to_df().collect()) == [10, 11, 12]
    # rows are locally sorted inside each file
    for p in t.scan().files():
        vals_in_file = [r.a for r in spark.read.parquet(p).collect()]
        assert vals_in_file == sorted(vals_in_file)
    with pytest.raises(ValueError, match="distribution mode"):
        catalog.set_write_order("worder", ["a"], distribution_mode="zigzag")


def test_hilbert_write_order_clusters_spatially(spark, catalog):
    """WRITE ORDERED BY hilbert(geom): one shuffled append lands
    spatially clustered, so a quadrant window prunes files."""
    t = catalog.create_table(
        "whilb", "id BIGINT, geom BINARY", geometry_columns={"geom": "wkb"}
    )
    catalog.set_write_order("whilb", ["hilbert(geom)"], distribution_mode="range")
    t = catalog.load_table("whilb")
    import random

    rng = random.Random(11)
    rows = []
    for i in range(400):
        q = i % 4
        sx, sy = (1, -1, -1, 1)[q], (1, 1, -1, -1)[q]
        rows.append(
            (i, bytearray(geometry_to_wkb(Point(sx * rng.uniform(1, 9),
                                                sy * rng.uniform(1, 9)))))
        )
    rng.shuffle(rows)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        t.append(spark.createDataFrame(rows, "id BIGINT, geom BINARY").repartition(4))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    n_files = t.scan().total_data_files()
    assert n_files >= 4
    # a one-quadrant window must NOT touch every file
    scan = t.scan(where=E.st_intersects("geom", box(0.5, 0.5, 9.5, 9.5)))
    assert len(scan.files()) < n_files
    assert scan.to_df().count() == 100
    with pytest.raises(ValueError, match="geometry field"):
        catalog.set_write_order("whilb", ["hilbert(id)"])


def test_hilbert_ordered_append_job_count(spark, catalog):
    """A Hilbert-ordered range append runs three Spark jobs, no more: the
    manifest bboxes of a small write are reduced on the driver, so no
    job reads the new files back."""
    t = catalog.create_table(
        "hjobs", "id BIGINT, geom BINARY", geometry_columns={"geom": "wkb"}
    )
    catalog.set_write_order("hjobs", ["hilbert(geom)"], distribution_mode="range")
    t = catalog.load_table("hjobs")
    rows = [
        (i, bytearray(geometry_to_wkb(Point(i * 1.1 - 160.0, (i * 7) % 150 - 75.0))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id BIGINT, geom BINARY")
    sc = spark.sparkContext
    sc.setJobGroup("hilbert-append-jobs", "Hilbert-ordered append")
    try:
        t.append(df)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("hilbert-append-jobs"))
    finally:
        sc.setJobGroup(None, None)
    assert n_jobs == 3
    # the driver-side bbox reduction gives each file its exact bbox
    import json

    import pyarrow.parquet as pq

    from iceberg_geo_poc_spark.geo import geometry_from_wkb

    entries = t._entries()
    assert entries.record_count.sum() == 300
    for row in entries.itertuples():
        pts = [
            geometry_from_wkb(v)
            for v in pq.read_table(row.file_path, columns=["geom"])["geom"].to_pylist()
        ]
        xs, ys = [p.x for p in pts], [p.y for p in pts]
        assert json.loads(row.bbox)["geom"] == [min(xs), min(ys), max(xs), max(ys)]


def _compaction_table(catalog, spark, name):
    """A hilbert(geom)-ordered table with one range split per write and
    three appends of scattered points: three small files whose ids are
    not in Hilbert order."""
    t = catalog.create_table(
        name,
        "id BIGINT, x DOUBLE, geom BINARY",
        geometry_columns={"geom": "wkb"},
        properties={"write.range-partitions": "1"},
    )
    catalog.set_write_order(name, ["hilbert(geom)"])
    t = catalog.load_table(name)
    for k in range(3):
        rows = []
        for i in range(k * 200, (k + 1) * 200):
            x, y = (i * 7919) % 359 - 179.5, (i * 104729) % 169 - 84.5
            rows.append((i, x, bytearray(geometry_to_wkb(Point(x, y)))))
        t.append(spark.createDataFrame(rows, "id BIGINT, x DOUBLE, geom BINARY"))
    return t


@pytest.mark.parametrize(
    "strategy, kwargs, n_jobs",
    [
        ("sort", {"sort_by": ["id"]}, 4),
        ("hilbert", {"hilbert_column": "geom"}, 4),
        ("zorder", {"zorder_by": ["id", "x"]}, 6),
    ],
)
def test_compaction_of_ordered_table_clusters_once(
    spark, catalog, strategy, kwargs, n_jobs
):
    """Compaction writes its strategy's order and its target file count
    in one clustering step; the table's Hilbert order and its
    write.range-partitions=1 do not override them."""
    import pyarrow.parquet as pq

    from iceberg_geo_poc_spark.table.maintenance import rewrite_data_files

    t = _compaction_table(catalog, spark, f"compact_{strategy}")
    before = sorted(t.to_df().collect())
    # target_file_size asks for two output files
    target = int(t._entries().file_size.sum()) // 2 + 1
    sc = spark.sparkContext
    group = f"compaction-jobs-{strategy}"
    sc.setJobGroup(group, "ordered-table compaction")
    try:
        res = rewrite_data_files(
            t, strategy=strategy, target_file_size=target, **kwargs
        )
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert (res.rewritten_files, res.added_files) == (3, 2)
    assert jobs == n_jobs
    t = catalog.load_table(f"compact_{strategy}")
    assert sorted(t.to_df().collect()) == before
    assert len(t._entries()) == 2
    if strategy == "sort":
        for path in t._entries().file_path:
            ids = pq.read_table(path, columns=["id"])["id"].to_pylist()
            assert ids == sorted(ids)


def test_snapshot_table_zero_copy_clone(spark, catalog):
    t = catalog.create_table("snapsrc", "a BIGINT")
    t.append(spark.createDataFrame([(i,) for i in range(10)], "a BIGINT"))
    clone = catalog.snapshot_table("snapsrc", "snapdst")
    assert sorted(r.a for r in clone.to_df().collect()) == list(range(10))
    # clone references the source's data files (zero copy)
    assert set(clone.scan().files()) == set(catalog.load_table("snapsrc").scan().files())
    # writes to the clone don't touch the source
    clone.append(spark.createDataFrame([(100,)], "a BIGINT"))
    assert catalog.load_table("snapsrc").to_df().count() == 10
    assert clone.to_df().count() == 11
    # dropping the clone leaves the source intact
    catalog.drop_table("snapdst")
    assert catalog.load_table("snapsrc").to_df().count() == 10
    with pytest.raises(ValueError, match="already exists"):
        catalog.snapshot_table("snapsrc", "snapsrc")


def test_register_and_migrate(spark, catalog, tmp_path):
    # register: adopt another catalog's table dir under a new name
    other = Catalog(str(tmp_path / "otherwh"), spark)
    src = other.create_table("ext", "a BIGINT")
    src.append(spark.createDataFrame([(1,), (2,)], "a BIGINT"))
    reg = catalog.register_table("adopted", src.location)
    assert sorted(r.a for r in reg.to_df().collect()) == [1, 2]
    catalog.drop_table("adopted")  # unregisters only
    assert other.load_table("ext").to_df().count() == 2
    # migrate: adopt a bare parquet directory in place
    raw = str(tmp_path / "raw")
    spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "k BIGINT, v DOUBLE"
    ).repartition(3).write.parquet(raw)
    t = catalog.migrate_parquet("migrated", raw, "k BIGINT, v DOUBLE")
    assert t.to_df().count() == 30
    assert all(p.startswith(raw) for p in t.scan().files())


def test_views_create_load_replace(spark, catalog):
    t = catalog.create_table("vsrc", "a BIGINT, grp STRING")
    t.append(
        spark.createDataFrame(
            [(1, "x"), (2, "x"), (3, "y")], "a BIGINT, grp STRING"
        )
    )
    catalog.create_view(
        "v_sums", "SELECT grp, SUM(a) AS total FROM vsrc GROUP BY grp"
    )
    got = {r.grp: r.total for r in catalog.load_view("v_sums").collect()}
    assert got == {"x": 3, "y": 3}
    with pytest.raises(ValueError):
        catalog.create_view("v_sums", "SELECT 1")
    catalog.create_view(
        "v_sums", "SELECT grp, COUNT(*) AS total FROM vsrc GROUP BY grp",
        replace=True,
    )
    got = {r.grp: r.total for r in catalog.load_view("v_sums").collect()}
    assert got == {"x": 2, "y": 1}
    # version log retains the original definition
    got0 = {r.grp: r.total for r in catalog.load_view("v_sums", version=0).collect()}
    assert got0 == {"x": 3, "y": 3}
    assert catalog.list_views() == ["v_sums"]


def test_branch_writes_and_fast_forward_main(spark, catalog):
    """Write to an audit branch without touching main, then fast-forward
    main to the audited head (reference branch writes + fast_forward)."""
    t = catalog.create_table("brw", "a BIGINT")
    t.append(spark.createDataFrame([(1,)], "a BIGINT"))
    catalog.create_branch("brw", "audit")
    t = catalog.load_table("brw")
    t.append(spark.createDataFrame([(2,)], "a BIGINT"), to_branch="audit")
    t.append(spark.createDataFrame([(3,)], "a BIGINT"), to_branch="audit")
    t = catalog.load_table("brw")
    # main unchanged; branch sees both commits
    assert sorted(r.a for r in t.to_df().collect()) == [1]
    assert sorted(r.a for r in t.scan(ref="audit").to_df().collect()) == [1, 2, 3]
    head = t.meta.refs["audit"]["snapshot-id"]
    catalog.fast_forward("brw", "main", head)
    t = catalog.load_table("brw")
    assert sorted(r.a for r in t.to_df().collect()) == [1, 2, 3]
    # unknown branch refused
    with pytest.raises(KeyError):
        t.append(spark.createDataFrame([(4,)], "a BIGINT"), to_branch="nope")


@pytest.mark.parametrize("enc", ["ewkb", "wkb", "wkt", "geojson"])
def test_quadrant_scan_all_encodings(spark, catalog, enc):
    """Write->prune->residual across all 4 geometry encodings
    (reference TestGeometryReadersAndWriters parameterization :75-78);
    wkt/geojson are STRING physically and decode inside the predicate."""
    from iceberg_geo_poc_spark.geo.encoding import encode

    phys = "STRING" if enc in ("wkt", "geojson") else "BINARY"
    t = catalog.create_table(
        f"genc_{enc}", f"id BIGINT, geom {phys}", geometry_columns={"geom": enc}
    )
    next_id = 0
    for quadrant in range(4):
        rows = []
        for k in range(1, 11):
            sx = (1, -1, -1, 1)[quadrant]
            sy = (1, 1, -1, -1)[quadrant]
            v = encode(Point(float(sx * k), float(sy * k)), enc)
            rows.append((next_id, bytearray(v) if phys == "BINARY" else v))
            next_id += 1
        t.append(
            spark.createDataFrame(rows, f"id BIGINT, geom {phys}").coalesce(1)
        )
    scan = t.scan(where=E.st_intersects("geom", box(0.5, 0.5, 10.5, 10.5)))
    assert scan.total_data_files() == 4
    assert len(scan.files()) == 1  # bbox pruning works off encoded stats
    assert scan.to_df().count() == 10  # residual decodes the encoding


def test_hilbert_write_order_wkt_encoding(spark, catalog):
    """hilbert(geom) write order on a WKT-encoded (STRING) geometry
    column: encoding conversion happens before the curve UDF."""
    from iceberg_geo_poc_spark.geo.encoding import encode

    t = catalog.create_table(
        "whilbwkt", "id BIGINT, geom STRING", geometry_columns={"geom": "wkt"}
    )
    catalog.set_write_order("whilbwkt", ["hilbert(geom)"], distribution_mode="range")
    t = catalog.load_table("whilbwkt")
    rows = [
        (i, encode(Point(float(i % 20 - 10), float(i % 14 - 7)), "wkt"))
        for i in range(100)
    ]
    t.append(spark.createDataFrame(rows, "id BIGINT, geom STRING"))
    assert t.to_df().count() == 100


def test_hilbert_partition_transform_wkt(spark, catalog):
    """hilbert[...] hidden partitioning over a WKT-encoded column."""
    from iceberg_geo_poc_spark.geo.encoding import encode

    t = catalog.create_table(
        "hpwkt",
        "id BIGINT, geom STRING",
        partition_by=[("geom", "hilbert[10,-180,-90,180,90]")],
        geometry_columns={"geom": "wkt"},
    )
    rows = [
        (i, encode(Point(float(i % 30 * 12 - 179), float(i % 20 * 9 - 89)), "wkt"))
        for i in range(60)
    ]
    t.append(spark.createDataFrame(rows, "id BIGINT, geom STRING"))
    assert t.to_df().count() == 60
    # multiple hilbert partitions materialized
    import json as _json

    parts = {p for p in t._entries().partition}
    assert len(parts) > 1
    assert all("geom_hilbert_10" in _json.loads(p) for p in parts)


def test_residual_elision_when_strictly_selected(spark, catalog):
    """When strict metrics prove every scanned file fully matches, the
    residual filter is elided from the plan; partial matches keep it."""
    t = catalog.create_table("resel", "a BIGINT")
    t.append(spark.createDataFrame([(i,) for i in range(10)], "a BIGINT").coalesce(1))
    t.append(
        spark.createDataFrame([(i,) for i in range(100, 110)], "a BIGINT").coalesce(1)
    )
    # fully-selecting predicate: file 2 strictly matches -> no Filter
    scan = t.scan(where=E.ge("a", 100))
    df = scan.to_df()
    assert scan._residual_noop is True
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Filter" not in plan.split("Scan")[0]
    assert sorted(r.a for r in df.collect()) == list(range(100, 110))
    # partially-selecting predicate keeps the residual and stays correct
    scan2 = t.scan(where=E.ge("a", 105))
    df2 = scan2.to_df()
    assert scan2._residual_noop is False
    assert sorted(r.a for r in df2.collect()) == list(range(105, 110))


def test_transaction_atomic_multi_op(spark, catalog):
    """append + append + delete in ONE commit; nothing visible before;
    the delete sees the transaction's own pending appends
    (TestTransaction.java posture)."""
    t = catalog.create_table("txn", "a BIGINT")
    t.append(spark.createDataFrame([(0,)], "a BIGINT"))
    n_snaps = len(t.snapshots())
    with t.new_transaction() as tx:
        tx.append(spark.createDataFrame([(1,), (2,)], "a BIGINT"))
        tx.append(spark.createDataFrame([(100,), (101,)], "a BIGINT"))
        tx.delete(E.ge("a", 100))  # deletes rows appended IN this txn
        # not yet visible from a fresh load
        assert catalog.load_table("txn").to_df().count() == 1
    t.refresh()
    assert len(t.snapshots()) == n_snaps + 1
    assert t.current_snapshot().operation == "transaction"
    assert sorted(r.a for r in t.to_df().collect()) == [0, 1, 2]


def test_transaction_abort_leaves_table_untouched(spark, catalog):
    from iceberg_geo_poc_spark.table.maintenance import remove_orphan_files

    t = catalog.create_table("txab", "a BIGINT")
    t.append(spark.createDataFrame([(1,)], "a BIGINT"))
    with pytest.raises(RuntimeError, match="boom"):
        with t.new_transaction() as tx:
            tx.append(spark.createDataFrame([(2,)], "a BIGINT"))
            raise RuntimeError("boom")
    t.refresh()
    assert [r.a for r in t.to_df().collect()] == [1]
    # abort deleted its own pending files — nothing left to reclaim
    orphans = remove_orphan_files(t)
    assert len(orphans) == 0
    assert [r.a for r in t.to_df().collect()] == [1]
    with pytest.raises(RuntimeError, match="already"):
        tx.commit()


def test_parquet_bloom_filter_property_passthrough(spark, catalog):
    """write.parquet.bloom-filter-enabled.column.X reaches parquet-mr
    (reference TableProperties PARQUET_BLOOM_FILTER_COLUMN_ENABLED_
    PREFIX): the bloom-bearing file is strictly larger than the same
    data without blooms, and reads round-trip identically."""
    df = spark.range(20000).selectExpr("id AS k", "CAST(id % 97 AS LONG) AS v")
    plain = catalog.create_table("bloom_off", "k BIGINT, v BIGINT")
    plain.append(df.coalesce(1))
    with_bloom = catalog.create_table(
        "bloom_on",
        "k BIGINT, v BIGINT",
        properties={
            "write.parquet.bloom-filter-enabled.column.k": "true",
            "write.parquet.bloom-filter-expected-ndv.column.k": "20000",
        },
    )
    with_bloom.append(df.coalesce(1))

    def total_size(t):
        ent = t._entries()
        return int(ent[ent.content == "data"].file_size.sum())

    assert total_size(with_bloom) > total_size(plain)
    assert with_bloom.to_df().orderBy("k").collect() == plain.to_df().orderBy("k").collect()


def test_static_table_pinned_and_read_only(spark, catalog):
    """StaticTableOperations parity: a table loaded from one metadata
    file is frozen at that version and refuses commits."""
    import os

    from iceberg_geo_poc_spark.table import E

    t = catalog.create_table("static_src", "id BIGINT")
    t.append(spark.range(10))
    pinned_version = t.meta.version
    pinned_path = os.path.join(
        t.location, "metadata", f"v{pinned_version}.metadata.json"
    )
    t.append(spark.range(10, 30))  # advance past the pin
    st = catalog.load_static_table(pinned_path)
    assert st.to_df().count() == 10          # frozen view
    assert catalog.load_table("static_src").to_df().count() == 30
    with pytest.raises(ValueError, match="read-only"):
        st.append(spark.range(5))
    with pytest.raises(ValueError, match="read-only"):
        st.delete(E.eq("id", 1))


def test_nested_schema_roundtrip_and_row_ops(spark, catalog):
    """STRUCT/ARRAY/MAP columns round-trip through the managed table
    (reference nested Types.StructType/ListType/MapType); stats-based
    pruning simply ignores nested paths (top-level primitives only,
    documented) while row ops stay exact."""
    from iceberg_geo_poc_spark.table import E

    t = catalog.create_table(
        "nested_t",
        "id BIGINT, s STRUCT<a: BIGINT, b: STRING>, "
        "arr ARRAY<BIGINT>, m MAP<STRING, BIGINT>",
    )
    df = spark.range(100).select(
        F.col("id"),
        F.struct(
            F.col("id").alias("a"),
            F.concat(F.lit("x"), F.col("id")).alias("b"),
        ).alias("s"),
        F.array(F.col("id"), F.col("id") * 2).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
    )
    t.append(df)
    assert t.scan(where=E.lt("id", 10)).to_df().count() == 10
    t.delete(E.ge("id", 90))
    assert t.to_df().count() == 90
    row = t.to_df().filter("id = 5").select("s.a", "s.b", "arr", "m").collect()[0]
    assert (row["a"], row["b"], row["arr"], row["m"]) == (5, "x5", [5, 10], {"k": 5})
    t.update({"s": F.struct(F.lit(0).alias("a"), F.lit("z").alias("b"))},
             where=E.eq("id", 5))
    assert t.to_df().filter("id = 5").select("s.b").collect()[0][0] == "z"


def test_metrics_max_inferred_column_cap(catalog, write_each):
    """write.metadata.metrics.max-inferred-column-defaults bounds stats
    to the first N schema columns (reference TableProperties
    METRICS_MAX_INFERRED_COLUMN_DEFAULTS) — later columns carry no
    min/max and therefore cannot prune (conservative), whichever writer
    made the file."""
    import json as _json

    import pandas as pd

    from iceberg_geo_poc_spark.table import E

    ids = list(range(100))
    for writer, t in write_each(
        catalog,
        "metrics_cap",
        "a BIGINT, b BIGINT, c BIGINT",
        pd.DataFrame({"a": ids, "b": ids, "c": ids}),
        {"write.metadata.metrics.max-inferred-column-defaults": "2"},
    ):
        ent = t._entries()
        low = _json.loads(ent.iloc[0]["lower"])
        assert set(low) == {"a", "b"}, writer  # c capped out
        # pruning works on a, conservative (no skip) on c
        assert len(t.scan(where=E.gt("a", 10**9)).files()) == 0, writer
        assert len(t.scan(where=E.gt("c", 10**9)).files()) == 1, writer
        assert t.scan(where=E.gt("c", 10**9)).to_df().count() == 0, writer  # residual


def test_write_schema_validation(spark, catalog):
    """Appends with misnamed, missing, or extra columns are rejected
    (reference validateWriteSchema) instead of silently writing data the
    declared read schema would NULL out."""
    t = catalog.create_table("wsv", "id BIGINT, v DOUBLE")
    with pytest.raises(ValueError, match="unexpected columns.*wrong"):
        t.append(spark.range(5).select(F.col("id"), F.lit(1.0).alias("wrong")))
    with pytest.raises(ValueError, match="missing columns.*'v'"):
        t.append(spark.range(5).select("id"))
    # column order does not matter; the writer reorders
    t.append(spark.range(5).selectExpr("CAST(id AS DOUBLE) AS v", "id"))
    assert t.to_df().count() == 5
    assert t.to_df().filter("v = CAST(id AS DOUBLE)").count() == 5


def test_filtered_stats_fastpath_bails_on_partial_match(spark, catalog):
    """The filtered aggregate fast path answers only when every kept
    file strict-matches; a range predicate crossing file boundaries
    bails to None (residual needed)."""
    from iceberg_geo_poc_spark.table import E
    from iceberg_geo_poc_spark.table.stats_agg import try_stats_aggregate

    t = catalog.create_table("fsfp", "id BIGINT, grp BIGINT")
    for g in range(4):
        t.append(
            spark.range(g * 100, (g + 1) * 100)
            .selectExpr("id", f"CAST({g} AS LONG) AS grp")
            .coalesce(1)
        )
    # file-aligned: whole files match -> answered from stats
    vals = try_stats_aggregate(
        t, ["count(*)", "min(id)", "max(id)"], where=E.ge("id", 200)
    )
    assert vals == [200, 200, 399]
    # crosses a file boundary: must bail
    assert (
        try_stats_aggregate(t, ["count(*)"], where=E.ge("id", 150)) is None
    )


def test_mor_delete_multi_file_sidecar(spark, catalog):
    """write.delete.distribution-count > 1 fans a mass delete's sidecar
    write across N tasks (the GDPR-scale escape hatch for the default
    one-file-per-delete-commit coalesce(1)); the MoR read merges every
    sidecar file of the commit."""
    t = catalog.create_table(
        "mormulti", "a BIGINT, b STRING",
        properties={"write.delete.distribution-count": "3"},
    )
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(300)], "a BIGINT, b STRING"
        ).coalesce(1)
    )
    t.delete(E.lt("a", 150), mode="merge-on-read")
    entries = t._entries()
    assert (entries.content == "posdel").sum() == 3  # fanned out
    got = sorted(r.a for r in t.to_df().collect())
    assert got == list(range(150, 300))
    # stacks with a second delete and still scans correctly
    t.delete(E.ge("a", 290), mode="merge-on-read")
    assert sorted(r.a for r in t.to_df().collect()) == list(range(150, 290))


def test_write_abort_cleans_stage(spark, catalog):
    """A failed write (mid-job task error) must leave the table
    unchanged AND remove its own staging directory (reference
    TestWriteAborts.java) — no stray files for remove_orphan_files to
    chase after a crashed INSERT."""
    import os

    import pyspark.sql.functions as F

    t = catalog.create_table("abortw", "a BIGINT, b STRING")
    t.append(
        spark.createDataFrame([(1, "x")], "a BIGINT, b STRING").coalesce(1)
    )
    snap_before = t.meta.current_snapshot_id
    from pyspark.sql.functions import udf

    @udf("long")
    def _boom(x):
        raise RuntimeError("task failure injected by test")

    bad = spark.createDataFrame(
        [(2, "y"), (0, "z")], "a BIGINT, b STRING"
    ).withColumn("a", _boom("a"))
    with pytest.raises(Exception, match="task failure injected"):
        t.append(bad.coalesce(1))
    t2 = catalog.load_table("abortw")
    assert t2.meta.current_snapshot_id == snap_before
    assert t2.to_df().count() == 1
    data_dir = os.path.join(t.location, "data")
    stages = [d for d in os.listdir(data_dir)] if os.path.isdir(data_dir) else []
    # only the successful append's stage remains
    assert len(stages) == 1


def test_pre_stage_failure_keeps_committed_data(spark, catalog):
    """A write that fails BEFORE staging begins (schema validation)
    must not touch the previous commit's data directory.

    Regression: the abort handler used to rmtree ``_last_stage_dir``,
    which after a successful write still pointed at that write's stage
    — and on POSIX locations the stage dir IS the committed data
    directory, so an ordinary user error (mismatched write schema)
    silently deleted files the manifests still referenced."""
    t = catalog.create_table("prestage", "a BIGINT, b STRING")
    t.append(
        spark.createDataFrame([(1, "x"), (2, "y")], "a BIGINT, b STRING")
    )
    # same handle, wrong schema: fails in validation, before _stage_dir
    bad = spark.createDataFrame([(3,)], "wrong_col BIGINT")
    with pytest.raises(ValueError, match="write schema mismatch"):
        t.append(bad)
    # previous commit's files survive and the table still scans
    assert sorted(r.a for r in t.to_df().collect()) == [1, 2]
    t2 = catalog.load_table("prestage")
    assert sorted(r.a for r in t2.to_df().collect()) == [1, 2]


def test_metadata_file_retention_after_commit(spark, catalog):
    """write.metadata.delete-after-commit.enabled +
    write.metadata.previous-versions-max (reference TableMetadata
    retention): old metadata JSONs beyond the window are deleted after
    each successful commit; the table keeps loading, snapshots/time
    travel are untouched (they live in the CURRENT file); default off."""
    import glob
    import os

    t = catalog.create_table(
        "mretain",
        "a BIGINT",
        properties={
            "write.metadata.delete-after-commit.enabled": "true",
            "write.metadata.previous-versions-max": "3",
        },
    )
    for i in range(8):
        t.append(spark.createDataFrame([(i,)], "a BIGINT").coalesce(1))
    files = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(t.location, "metadata", "v*.metadata.json"))
    )
    # current + 3 previous
    assert len(files) == 4, files
    assert f"v{t.meta.version}.metadata.json" in files
    t2 = catalog.load_table("mretain")
    assert t2.to_df().count() == 8
    # every snapshot still time-travels (snapshot log is in the current file)
    first = t2.snapshots()[0]
    assert t2.scan(snapshot_id=first.snapshot_id).to_df().count() == 1
    # default: OFF — nothing deleted
    u = catalog.create_table("mkeep", "a BIGINT")
    for i in range(5):
        u.append(spark.createDataFrame([(i,)], "a BIGINT").coalesce(1))
    kept = glob.glob(os.path.join(u.location, "metadata", "v*.metadata.json"))
    assert len(kept) == 6  # create + 5 appends


def test_merge_conditional_clauses_cow_and_mor(spark, catalog):
    """Reference TestMerge conditional multi-clause semantics: clauses
    evaluate in order, first hit wins, matched rows satisfying no
    clause pass through unchanged; NOT MATCHED AND gates the insert."""
    for mode in ("copy-on-write", "merge-on-read"):
        name = f"mcond_{mode[:3].replace('-', '')}"
        t = catalog.create_table(name, "k BIGINT, v STRING, n BIGINT")
        t.append(spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "k BIGINT, v STRING, n BIGINT",
        ).coalesce(1))
        src = spark.createDataFrame(
            [
                (1, "D", 0),    # delete clause
                (2, "U", 99),   # update clause
                (3, "X", 0),    # matches no clause -> untouched
                (5, "I", 50),   # not matched, op != 'S' -> inserted
                (6, "S", 60),   # not matched, op = 'S' -> filtered out
            ],
            "k BIGINT, op STRING, n BIGINT",
        )
        t.merge(
            src,
            on=["k"],
            mode=mode,
            matched_clauses=[
                ("s.op = 'D'", "delete", None),
                ("s.op = 'U'", "update", {"n": F.col("s.n"), "v": F.lit("upd")}),
            ],
            when_not_matched_insert=True,
            when_not_matched_condition="s.op <> 'S'",
        )
        got = {r.k: (r.v, r.n) for r in t.to_df().collect()}
        assert got == {
            2: ("upd", 99),
            3: ("c", 30),
            4: ("d", 40),
            5: (None, 50),
        }, (mode, got)


def test_merge_not_matched_by_source_cow_and_mor(spark, catalog):
    """Reference Spark 3.5 by-source clauses (TestMerge.java:116-177):
    WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE act on TARGET rows
    whose key is absent from the source, in clause order, first hit
    wins; matched rows still follow the matched clauses."""
    for mode in ("copy-on-write", "merge-on-read"):
        name = f"mbs_{mode[:3].replace('-', '')}"
        t = catalog.create_table(name, "k BIGINT, v STRING, n BIGINT")
        t.append(spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "k BIGINT, v STRING, n BIGINT",
        ).coalesce(1))
        src = spark.createDataFrame(
            [(1, "U", 99), (5, "I", 50)], "k BIGINT, op STRING, n BIGINT"
        )
        t.merge(
            src,
            on=["k"],
            mode=mode,
            matched_clauses=[
                ("s.op = 'U'", "update", {"n": F.col("s.n")}),
            ],
            when_not_matched_insert=True,
            not_matched_by_source_clauses=[
                # absent-and-stale -> delete; other absent rows flagged
                ("t.n >= 40", "delete", None),
                (None, "update", {"v": F.lit("orphan")}),
            ],
        )
        got = {r.k: (r.v, r.n) for r in t.to_df().collect()}
        assert got == {
            1: ("a", 99),        # matched update
            2: ("orphan", 20),   # by-source conditional update
            3: ("orphan", 30),   # by-source conditional update
            5: (None, 50),       # insert (k=4 deleted by-source)
        }, (mode, got)


def test_merge_by_source_delete_only(spark, catalog):
    """By-source-only MERGE (sync-delete shape): target rows absent
    from the source are removed, matched rows pass through untouched —
    including when duplicate source keys match one target row (no
    matched clause => no cardinality error, no row fan-out)."""
    t = catalog.create_table("mbsdel", "k BIGINT, v STRING")
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING"
    ).coalesce(1))
    src = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k BIGINT, v STRING"
    )
    t.merge(
        src,
        on=["k"],
        when_not_matched_insert=False,
        not_matched_by_source_clauses=[(None, "delete", None)],
    )
    got = {r.k: r.v for r in t.to_df().collect()}
    assert got == {1: "a"}, got


def test_merge_conditional_clauses_sql(spark, catalog):
    """The SQL dispatcher parses WHEN MATCHED AND <cond> clauses in
    order and a gated NOT MATCHED insert."""
    t = catalog.create_table("mcsql", "k BIGINT, v STRING, n BIGINT")
    t.append(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k BIGINT, v STRING, n BIGINT",
    ).coalesce(1))
    spark.createDataFrame(
        [(1, "D", 0), (2, "U", 77), (9, "I", 90), (8, "S", 80)],
        "k BIGINT, op STRING, n BIGINT",
    ).createOrReplaceTempView("mc_src")
    catalog.sql(
        "MERGE INTO mcsql t USING mc_src s ON t.k = s.k "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET n = s.n "
        "WHEN NOT MATCHED AND s.op <> 'S' THEN INSERT *"
    )
    got = {r.k: (r.v, r.n) for r in catalog.load_table("mcsql").to_df().collect()}
    assert got == {2: ("b", 77), 3: ("c", 30), 9: (None, 90)}, got
