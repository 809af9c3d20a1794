"""Ownership-aware GC, MoR commit revalidation, streaming non-append
safety, and geo boundary semantics (round-2 hardening).

Reference parity targets:
- gc.enabled guard: SnapshotTableProcedure/RegisterTableProcedure set
  gc.enabled=false so ExpireSnapshots cannot delete files the table does
  not own.
- MoR revalidation: MergingSnapshotProducer validation matrix — position
  deltas must not commit over a concurrent rewrite of their target files.
- Streaming: SparkMicroBatchStream throws on overwrite/delete snapshots
  unless streaming-skip-overwrite-snapshots is configured.
"""

from __future__ import annotations

import os

import pytest

from iceberg_geo_poc_spark.table import Catalog, E
from iceberg_geo_poc_spark.table.maintenance import (
    expire_snapshots,
    remove_orphan_files,
    rewrite_data_files,
)
from iceberg_geo_poc_spark.table.table import ValidationException
from tests.frames import frame


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(str(tmp_path / "wh"), spark)


def _append(spark, t, lo, hi):
    t.append(
        frame(spark, 
            [(i, f"r{i}") for i in range(lo, hi)], "a BIGINT, b STRING"
        ).coalesce(1)
    )


def test_snapshot_clone_gc_refuses_and_source_survives(spark, catalog):
    src = catalog.create_table("gcsrc", "a BIGINT, b STRING")
    _append(spark, src, 0, 10)
    _append(spark, src, 10, 20)
    src_files = set(src._entries().file_path)

    clone = catalog.snapshot_table("gcsrc", "gcdst")
    assert clone.meta.properties.get("gc.enabled") == "false"
    # pile snapshots onto the clone, then try to GC it
    _append(spark, clone, 20, 30)
    with pytest.raises(ValueError, match="gc.enabled"):
        expire_snapshots(clone, keep_last=1)
    with pytest.raises(ValueError, match="gc.enabled"):
        remove_orphan_files(clone)
    # every source data file is still on disk and the source still reads
    assert all(os.path.exists(p) for p in src_files)
    assert catalog.load_table("gcsrc").to_df().count() == 20


def test_add_files_sets_gc_disabled(spark, catalog, tmp_path):
    ext = str(tmp_path / "external")
    frame(spark, 
        [(i, f"x{i}") for i in range(5)], "a BIGINT, b STRING"
    ).coalesce(1).write.parquet(ext)
    files = [
        os.path.join(ext, f) for f in os.listdir(ext) if f.endswith(".parquet")
    ]
    catalog.create_table("impgc", "a BIGINT, b STRING")
    t = catalog.add_files("impgc", files)
    assert t.meta.properties.get("gc.enabled") == "false"
    with pytest.raises(ValueError, match="gc.enabled"):
        expire_snapshots(t, keep_last=1)
    assert all(os.path.exists(p) for p in files)


def test_mor_ops_fail_on_concurrent_compaction(spark, catalog):
    """A MoR update/delete planned against files a concurrent compaction
    rewrote must NOT commit: its position deletes would target dead paths
    while the compacted copy resurrects the old rows."""
    t1 = catalog.create_table("morconc", "a BIGINT, b STRING")
    for k in range(3):
        _append(spark, t1, k * 10, k * 10 + 10)
    # second handle compacts everything while t1's view is stale
    t2 = catalog.load_table("morconc")
    rewrite_data_files(t2, target_file_size=1 << 20)
    with pytest.raises(ValidationException):
        t1.update({"b": "changed"}, E.lt("a", 5), mode="merge-on-read")
    # same for MoR delete
    t1 = catalog.load_table("morconc")
    t2 = catalog.load_table("morconc")
    _append(spark, t2, 100, 140)  # force multiple files again
    rewrite_data_files(t2, target_file_size=1 << 20)
    with pytest.raises(ValidationException):
        t1.delete(E.lt("a", 5), mode="merge-on-read")
    # table still consistent: no rows lost or duplicated
    got = sorted(r.a for r in catalog.load_table("morconc").to_df().collect())
    assert got == list(range(30)) + list(range(100, 140))


def test_overwrite_by_filter_fails_on_concurrent_compaction(spark, catalog):
    """Overwrite-by-filter is a copy-on-write DELETE plus an append, so a
    plan made against files a concurrent compaction replaced must not
    commit: it kept the compacted copy of the matched rows and added the
    rewritten survivors again (27 rows where 17 are right)."""
    t = catalog.create_table("owconc", "a BIGINT, b STRING")
    _append(spark, t, 0, 10)
    _append(spark, t, 10, 20)
    stale = catalog.load_table("owconc")
    rewrite_data_files(catalog.load_table("owconc"), target_file_size=1 << 20)
    new_rows = frame(spark, [(100, "n"), (101, "n")], "a BIGINT, b STRING")
    with pytest.raises(ValidationException):
        stale.overwrite(new_rows, where=E.lt("a", 5))
    got = sorted(r.a for r in catalog.load_table("owconc").to_df().collect())
    assert got == list(range(20))


@pytest.mark.parametrize(
    "mode", ["copy-on-write", "merge-on-read", "merge-on-read-dv"]
)
def test_stale_delete_conflicts_with_matching_append(spark, catalog, mode):
    """Every delete mode enforces serializable isolation: a concurrent
    append of rows matching the condition aborts a stale-handle DELETE
    (the deletion-vector mode committed and left the appended rows)."""
    name = "isodel_" + mode.replace("-", "_")
    _append(spark, catalog.create_table(name, "a BIGINT, b STRING"), 0, 10)
    stale = catalog.load_table(name)
    _append(spark, catalog.load_table(name), 0, 5)
    with pytest.raises(ValidationException, match="serializable isolation"):
        stale.delete(E.lt("a", 3), mode=mode)
    got = sorted(r.a for r in catalog.load_table(name).to_df().collect())
    assert got == sorted(list(range(10)) + list(range(5)))


def test_stream_raises_on_non_append_snapshot(spark, catalog, tmp_path):
    from iceberg_geo_poc_spark.streaming.datasource import TableDataSource

    spark.dataSource.register(TableDataSource)
    t = catalog.create_table("dsnap", "a BIGINT, b STRING")
    _append(spark, t, 0, 10)
    _append(spark, t, 10, 20)
    rewrite_data_files(t, target_file_size=1 << 20)  # replace snapshot
    _append(spark, t, 20, 25)

    def run(extra_opts: dict, out: str, ckpt: str):
        reader = (
            spark.readStream.format("iceberg_geo_poc")
            .option("location", t.location)
        )
        for k, v in extra_opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(Exception, match="non-append"):
        try:
            run({}, str(tmp_path / "o1"), str(tmp_path / "c1"))
        except Exception as e:  # unwrap StreamingQueryException
            raise RuntimeError(str(e)) from e

    # with the skip option the stream emits every appended row exactly once:
    # pre-compaction appends, NOT the compacted rewrite (which would
    # duplicate them), then the post-compaction append
    run(
        {"skip-non-append-snapshots": "true"},
        str(tmp_path / "o2"),
        str(tmp_path / "c2"),
    )
    got = sorted(r.a for r in spark.read.parquet(str(tmp_path / "o2")).collect())
    assert got == list(range(25))


def test_within_boundary_inclusive_both_paths(spark):
    """within(point-on-boundary, rect) is True in BOTH the vectorized
    point/rect fast path and the generic kernel (they forked before)."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.geo.functions import register_geo_functions
    from iceberg_geo_poc_spark.geo.wkt import geometry_from_wkt

    register_geo_functions(spark)
    rect = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    # boundary, interior, exterior points — all-point batch => fast path
    df = frame(spark, 
        [(0.0, 0.5), (0.5, 0.5), (2.0, 2.0), (1.0, 1.0)], "x DOUBLE, y DOUBLE"
    )
    got = (
        df.select(
            F.expr(f"st_within(st_point(x, y), st_geomfromtext('{rect}'))").alias("w")
        )
        .rdd.map(lambda r: r.w)
        .collect()
    )
    assert got == [True, True, False, True]
    # generic kernel agrees
    rg = geometry_from_wkt(rect)
    assert geometry_from_wkt("POINT (0 0.5)").within(rg)
    assert geometry_from_wkt("POINT (1 1)").within(rg)
    assert not geometry_from_wkt("POINT (2 2)").within(rg)


def test_salted_join_rejects_outer_small_side(spark):
    from iceberg_geo_poc_spark.operators.skew import salted_join

    big = frame(spark, [(1, "a")], "k BIGINT, v STRING")
    small = frame(spark, [(1, "s")], "k BIGINT, w STRING")
    for how in ("right", "full", "outer", "left_anti"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(big, small, ["k"], how=how)


def test_metadata_only_delete_survives_unrelated_posdel(spark, catalog):
    """A position delete on file B must not force file A down the rewrite
    path: delete granularity is per-file (DeleteFileIndex parity), so a
    predicate that fully matches A still commits as metadata-only."""
    t = catalog.create_table("deletegran", "a BIGINT, b STRING")
    _append(spark, t, 0, 10)   # file A
    _append(spark, t, 10, 20)  # file B
    t.delete(E.eq("a", 15), mode="merge-on-read")  # posdel targets B only
    snap = t.delete(E.lt("a", 10))  # fully matches A
    assert snap.summary["mode"] == "metadata+cow"
    assert snap.summary["deleted-files"] == 1
    assert snap.summary["rewritten-files"] == 0
    got = sorted(r.a for r in t.to_df().collect())
    assert got == [x for x in range(10, 20) if x != 15]
    # but a predicate over the posdel'd file itself must still rewrite
    t2 = catalog.create_table("deletegran2", "a BIGINT, b STRING")
    _append(spark, t2, 0, 10)
    t2.delete(E.eq("a", 5), mode="merge-on-read")
    snap2 = t2.delete(E.lt("a", 10))  # full match BUT file has a posdel
    assert snap2.summary["mode"] != "metadata+cow"
    assert t2.to_df().count() == 0


def test_serializable_isolation_blocks_conflicting_appends(spark, catalog):
    """Reference TestConflictValidation: a row-level plan computed
    against a base snapshot must FAIL at commit when a concurrent
    commit appended files that might contain matching rows (default
    serializable isolation); disjoint-stats appends pass; setting
    write.delete.isolation-level=snapshot accepts the stale plan."""

    def fresh(name, props=None):
        t = catalog.create_table(name, "a BIGINT, b STRING", properties=props)
        t.append(frame(spark, 
            [(i, f"r{i}") for i in range(10)], "a BIGINT, b STRING"
        ).coalesce(1))
        return t

    # conflicting concurrent append -> ValidationException
    fresh("iso1")
    stale = catalog.load_table("iso1")
    catalog.load_table("iso1").append(frame(spark, 
        [(i, "x") for i in range(10, 20)], "a BIGINT, b STRING").coalesce(1))
    with pytest.raises(ValidationException, match="serializable isolation"):
        stale.delete(E.lt("a", 100))
    # MoR path enforces it too
    fresh("iso2")
    stale = catalog.load_table("iso2")
    catalog.load_table("iso2").append(frame(spark, 
        [(i, "x") for i in range(10, 20)], "a BIGINT, b STRING").coalesce(1))
    with pytest.raises(ValidationException, match="serializable isolation"):
        stale.delete(E.lt("a", 100), mode="merge-on-read")
    # stats-disjoint concurrent append does NOT conflict
    fresh("iso3")
    stale = catalog.load_table("iso3")
    catalog.load_table("iso3").append(frame(spark, 
        [(i, "x") for i in range(1000, 1010)], "a BIGINT, b STRING").coalesce(1))
    stale.delete(E.lt("a", 5))
    assert sorted(r.a for r in catalog.load_table("iso3").to_df().collect()) == (
        list(range(5, 10)) + list(range(1000, 1010))
    )
    # snapshot isolation opts out: stale plan applies, appended rows survive
    fresh("iso4", props={"write.delete.isolation-level": "snapshot"})
    stale = catalog.load_table("iso4")
    catalog.load_table("iso4").append(frame(spark, 
        [(i, "x") for i in range(10, 20)], "a BIGINT, b STRING").coalesce(1))
    stale.delete(E.lt("a", 100))
    assert sorted(r.a for r in catalog.load_table("iso4").to_df().collect()) == (
        list(range(10, 20))
    )
    # UPDATE and MERGE enforce it too (CoW)
    fresh("iso5")
    stale = catalog.load_table("iso5")
    catalog.load_table("iso5").append(frame(spark, 
        [(i, "x") for i in range(10, 20)], "a BIGINT, b STRING").coalesce(1))
    import pyspark.sql.functions as F
    with pytest.raises(ValidationException, match="serializable isolation"):
        stale.update({"b": F.lit("z")}, where=E.lt("a", 100))
    with pytest.raises(ValidationException, match="serializable isolation"):
        stale.merge(
            frame(spark, [(15, "m")], "a BIGINT, b STRING"),
            on=["a"],
            when_matched_update={"b": F.col("s.b")},
        )
    # UNCONDITIONAL delete validates as always-true (reference wires
    # Expressions.alwaysTrue() into the conflict filter when the command
    # has no condition): any concurrent append conflicts
    fresh("iso6")
    stale = catalog.load_table("iso6")
    catalog.load_table("iso6").append(frame(spark, 
        [(i, "x") for i in range(10, 20)], "a BIGINT, b STRING").coalesce(1))
    with pytest.raises(ValidationException, match="serializable isolation"):
        stale.delete(None)
    # ... and the snapshot opt-out still applies to the unconditional form
    fresh("iso7", props={"write.delete.isolation-level": "snapshot"})
    stale = catalog.load_table("iso7")
    catalog.load_table("iso7").append(frame(spark, 
        [(i, "x") for i in range(10, 20)], "a BIGINT, b STRING").coalesce(1))
    stale.delete(None)
    assert sorted(r.a for r in catalog.load_table("iso7").to_df().collect()) == (
        list(range(10, 20))
    )
    # files added by a concurrent COMPACTION (operation "replace") carry
    # no new rows and must NOT count as conflicting appends (reference
    # validateAddedDataFiles walks only append/overwrite snapshots) —
    # exercised directly on the validator: a full race is shadowed by
    # the liveness check, since any compacted file whose stats overlap
    # the predicate implies its inputs were in the stale plan
    from iceberg_geo_poc_spark.table import maintenance as MT
    t = catalog.create_table("iso8", "a BIGINT, b STRING")
    for lo in (50, 60):
        t.append(frame(spark, 
            [(i, "x") for i in range(lo, lo + 10)], "a BIGINT, b STRING"
        ).coalesce(1))
    base_seq = t.meta.last_sequence_number
    MT.rewrite_data_files(catalog.load_table("iso8"), target_file_size=1 << 30)
    t2 = catalog.load_table("iso8")
    ent = t2._entries()
    assert (ent[ent.content == "data"].sequence_number > base_seq).any()
    # compaction-added files: silent pass (both conditional + unconditional)
    t2._validate_no_conflicting_appends(ent, base_seq, E.lt("a", 100), "delete")
    t2._validate_no_conflicting_appends(ent, base_seq, None, "delete")
    # a genuine append after the same base still conflicts
    t2.append(frame(spark, [(1, "y")], "a BIGINT, b STRING").coalesce(1))
    ent2 = catalog.load_table("iso8")._entries()
    with pytest.raises(ValidationException, match="serializable isolation"):
        t2._validate_no_conflicting_appends(ent2, base_seq, E.lt("a", 100), "delete")
    with pytest.raises(ValidationException, match="serializable isolation"):
        t2._validate_no_conflicting_appends(ent2, base_seq, None, "delete")


def test_failed_commit_leaves_handle_clean(spark, catalog):
    """A FAILED operation must not corrupt the table handle: before the
    fix, commit attempt 0 mutated self.meta in place (phantom snapshot,
    advanced current pointer and sequence number) before the
    conditional metadata write, so a failed op poisoned every later
    operation on the same handle."""
    t = catalog.create_table("handleclean", "a BIGINT, b STRING")
    t.append(frame(spark, [(1, "x")], "a BIGINT, b STRING").coalesce(1))
    stale = catalog.load_table("handleclean")
    v0 = stale.meta.version
    seq0 = stale.meta.last_sequence_number
    nsnaps0 = len(stale.meta.snapshots)
    csnap0 = stale.meta.current_snapshot_id
    catalog.load_table("handleclean").append(
        frame(spark, [(2, "y")], "a BIGINT, b STRING").coalesce(1)
    )
    with pytest.raises(ValidationException):
        stale.delete(E.lt("a", 100))
    assert stale.meta.version == v0
    assert stale.meta.last_sequence_number == seq0
    assert len(stale.meta.snapshots) == nsnaps0
    assert stale.meta.current_snapshot_id == csnap0
    # and the handle still works after reloading fresh state
    fresh2 = catalog.load_table("handleclean")
    fresh2.delete(E.eq("a", 1))
    assert sorted(r.a for r in fresh2.to_df().collect()) == [2]


def test_by_source_merge_widens_conflict_predicate(spark, catalog):
    """A MERGE with by-source clauses can touch ANY target row, so its
    serializable-isolation predicate is always-true: a concurrent append
    with stats DISJOINT from the source key range still conflicts
    (a key-range predicate would wrongly accept it — the appended rows
    are by-source candidates)."""
    import pyspark.sql.functions as F

    t = catalog.create_table("isobs", "a BIGINT, b STRING")
    t.append(frame(spark, 
        [(i, f"r{i}") for i in range(10)], "a BIGINT, b STRING"
    ).coalesce(1))
    stale = catalog.load_table("isobs")
    # concurrent append far outside the source's key range [0, 5]
    catalog.load_table("isobs").append(frame(spark, 
        [(i, "x") for i in range(1000, 1010)], "a BIGINT, b STRING"
    ).coalesce(1))
    src = frame(spark, [(i, "s") for i in range(6)], "a BIGINT, b STRING")
    with pytest.raises(ValidationException, match="serializable isolation"):
        stale.merge(
            src,
            on=["a"],
            when_matched_update={"b": F.col("s.b")},
            not_matched_by_source_clauses=[(None, "delete", None)],
        )
    # the SAME merge without by-source clauses accepts the disjoint append
    stale2 = catalog.load_table("isobs")
    catalog.load_table("isobs").append(frame(spark, 
        [(i, "x") for i in range(2000, 2010)], "a BIGINT, b STRING"
    ).coalesce(1))
    stale2.merge(
        src, on=["a"], when_matched_update={"b": F.col("s.b")},
        when_not_matched_insert=False,
    )
