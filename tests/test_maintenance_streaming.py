"""Maintenance actions, metadata tables, stats fast path, incremental
and changelog reads."""

from __future__ import annotations

import pytest

from iceberg_geo_poc_spark.streaming.incremental import (
    IncrementalStream,
    apply_changelog,
    changelog,
    incremental_read,
)
from iceberg_geo_poc_spark.table import Catalog, E
from iceberg_geo_poc_spark.table.maintenance import (
    expire_snapshots,
    remove_orphan_files,
    rewrite_data_files,
    rewrite_manifests,
)
from iceberg_geo_poc_spark.table.metadata_tables import inspect
from iceberg_geo_poc_spark.table.stats_agg import try_stats_aggregate
from tests.frames import frame


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(str(tmp_path / "wh"), spark)


def _mk(spark, catalog, name, n_appends=4, rows_per=10):
    t = catalog.create_table(name, "a BIGINT, b STRING")
    base = 0
    for _ in range(n_appends):
        t.append(
            frame(spark,
                [(i, f"r{i}") for i in range(base, base + rows_per)],
                "a BIGINT, b STRING",
            ).coalesce(1)
        )
        base += rows_per
    return t


def test_compaction_binpack(spark, catalog):
    t = _mk(spark, catalog, "cmp")
    assert t.scan().total_data_files() == 4
    res = rewrite_data_files(t, target_file_size=1 << 20)
    assert res.rewritten_files == 4 and res.added_files == 1
    assert t.scan().total_data_files() == 1
    assert sorted(r.a for r in t.to_df().collect()) == list(range(40))


def test_compaction_sort(spark, catalog):
    t = _mk(spark, catalog, "cmps")
    rewrite_data_files(t, strategy="sort", sort_by=["a"], target_file_size=1 << 20)
    assert sorted(r.a for r in t.to_df().collect()) == list(range(40))


def test_compaction_zorder(spark, catalog):
    t = catalog.create_table("cmpz", "x BIGINT, y BIGINT")
    for k in range(3):
        t.append(
            frame(spark,
                [(i * 37 % 100, i * 61 % 100) for i in range(k * 20, k * 20 + 20)],
                "x BIGINT, y BIGINT",
            ).coalesce(1)
        )
    before = {(r.x, r.y) for r in t.to_df().collect()}
    with pytest.raises(ValueError, match="zorder_by"):
        rewrite_data_files(t, strategy="zorder", zorder_by=["x"])
    res = rewrite_data_files(
        t, strategy="zorder", zorder_by=["x", "y"], target_file_size=1 << 20
    )
    assert res.rewritten_files == 3
    assert {(r.x, r.y) for r in t.to_df().collect()} == before


def test_zvalue_interleave_properties(spark):
    """z-value is monotone along the diagonal and interleaves within
    the long range (SparkZOrderUDF contract, property-form)."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.table.maintenance import _zvalue_column

    df = frame(spark, [(i, i) for i in range(100)], "x BIGINT, y BIGINT")
    vals = [
        r.z
        for r in df.select(F.col("x"), _zvalue_column(df, ["x", "y"]).alias("z"))
        .orderBy("x")
        .collect()
    ]
    assert vals == sorted(vals)
    assert all(0 <= v < (1 << 62) for v in vals)
    # string columns fall back to hash bucketing: equal values equal z
    df2 = frame(spark,
        [("a", 1), ("a", 1), ("b", 2)], "s STRING, n BIGINT"
    )
    zs = [
        r.z for r in df2.select(_zvalue_column(df2, ["s", "n"]).alias("z")).collect()
    ]
    assert zs[0] == zs[1]


def test_compaction_with_mor_deletes(spark, catalog):
    t = _mk(spark, catalog, "cmpd")
    t.delete(E.lt("a", 5), mode="merge-on-read")
    rewrite_data_files(t, target_file_size=1 << 20)
    got = sorted(r.a for r in t.to_df().collect())
    assert got == list(range(5, 40))
    entries = t._entries()
    assert (entries.content == "posdel").sum() == 0  # retired by full compaction


def test_expire_snapshots_and_orphans(spark, catalog, tmp_path):
    t = _mk(spark, catalog, "exp")
    n_snaps = len(t.snapshots())
    assert n_snaps == 4
    rewrite_data_files(t, target_file_size=1 << 20)
    stats = expire_snapshots(t, keep_last=1)
    assert stats["expired"] == 4
    t = catalog.load_table("exp")
    assert len(t.snapshots()) == 1
    assert sorted(r.a for r in t.to_df().collect()) == list(range(40))
    # orphans: a stray file not referenced anywhere
    import os

    stray = os.path.join(t.location, "data", "stray.parquet")
    frame(spark, [(1, "x")], "a BIGINT, b STRING").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(t.location, "data", "straydir"))
    orphans = remove_orphan_files(t)
    assert len(orphans) >= 1
    assert sorted(r.a for r in t.to_df().collect()) == list(range(40))


def test_metadata_tables(spark, catalog):
    t = _mk(spark, catalog, "meta", n_appends=2)
    snaps = inspect(t, "snapshots")
    assert snaps.count() == 2
    assert set(snaps.columns) >= {"snapshot_id", "operation", "sequence_number"}
    files = inspect(t, "files")
    assert files.count() == 2
    hist = inspect(t, "history")
    assert hist.filter("is_current_ancestor").count() == 1
    parts = inspect(t, "partitions")
    assert parts.count() == 1  # unpartitioned: single empty partition tuple
    rewrite_manifests(t)
    # manifests = current snapshot's manifest list; all_manifests = every
    # snapshot's — fast appends SHARE manifests, so snapshot 2 lists its
    # delta AND snapshot 1's reused manifest: 1 + 2 + 1 (consolidated) = 4
    assert inspect(t, "manifests").count() == 1
    assert inspect(t, "all_manifests").count() == 4
    # data_files aliases files; all_data_files spans snapshots (deduped)
    assert inspect(t, "data_files").count() == 2
    assert inspect(t, "all_data_files").count() == 2


def test_stats_fastpath_bails_on_equality_deletes(spark, catalog):
    t = _mk(spark, catalog, "sfeq", n_appends=1, rows_per=10)
    assert try_stats_aggregate(t, ["count(*)"]) == [10]
    t.delete_by_keys(
        frame(spark, [(1,)], "a BIGINT"), key_cols=["a"]
    )
    # equality deletes make manifest counts wrong -> must bail
    assert try_stats_aggregate(t, ["count(*)"]) is None
    assert t.to_df().count() == 9


def test_position_deletes_metadata_table(spark, catalog):
    t = _mk(spark, catalog, "posdelmeta", n_appends=1, rows_per=10)
    t.delete(E.lt("a", 3), mode="merge-on-read")
    pd_tbl = inspect(t, "position_deletes")
    assert pd_tbl.count() == 3
    assert set(pd_tbl.columns) == {"file_path", "pos", "delete_file"}
    assert sorted(r.pos for r in pd_tbl.collect()) == [0, 1, 2]


def test_stats_fastpath(spark, catalog):
    t = _mk(spark, catalog, "stats")
    got = try_stats_aggregate(t, ["count(*)", "min(a)", "max(a)", "count(a)"])
    assert got == [40, 0, 39, 40]
    # bail on deletes
    t.delete(E.lt("a", 3), mode="merge-on-read")
    assert try_stats_aggregate(t, ["count(*)"]) is None
    # unsupported agg form
    t2 = _mk(spark, catalog, "stats2", n_appends=1)
    assert try_stats_aggregate(t2, ["sum(a)"]) is None


def test_incremental_read(spark, catalog):
    t = _mk(spark, catalog, "inc", n_appends=3)
    snaps = [s.snapshot_id for s in t.snapshots()]
    all_rows = incremental_read(t)
    assert all_rows.count() == 30
    tail = incremental_read(t, from_snapshot_id=snaps[0])
    assert sorted(r.a for r in tail.collect()) == list(range(10, 30))
    mid = incremental_read(t, from_snapshot_id=snaps[0], to_snapshot_id=snaps[1])
    assert sorted(r.a for r in mid.collect()) == list(range(10, 20))


def test_incremental_stream_exactly_once(spark, catalog):
    t = catalog.create_table("stream", "a BIGINT, b STRING")
    stream = IncrementalStream(t)
    assert stream.next_batch() is None
    seen = []
    for batch_no in range(3):
        t.append(
            frame(spark,
                [(batch_no * 10 + i, "x") for i in range(10)], "a BIGINT, b STRING"
            ).coalesce(1)
        )
        df = stream.next_batch()
        seen += [r.a for r in df.collect()]
        assert stream.next_batch() is None  # caught up: exactly-once
    assert sorted(seen) == sorted(r.a for r in t.to_df().collect())


def test_incremental_stream_admission_control(spark, catalog):
    t = catalog.create_table("stream2", "a BIGINT")
    for k in range(3):
        t.append(frame(spark, [(k,)], "a BIGINT").coalesce(1))
    stream = IncrementalStream(t, max_files_per_batch=1)
    batches = []
    while (df := stream.next_batch()) is not None:
        batches.append([r.a for r in df.collect()])
    assert len(batches) == 3
    assert sorted(sum(batches, [])) == [0, 1, 2]


def test_changelog(spark, catalog):
    t = catalog.create_table("cdc", "a BIGINT")
    t.append(frame(spark, [(1,), (2,)], "a BIGINT").coalesce(1))
    s1 = t.current_snapshot().snapshot_id
    t.append(frame(spark, [(3,)], "a BIGINT").coalesce(1))
    t.delete(E.eq("a", 1))  # rewrites file 1 -> delete + insert in changelog
    log = changelog(t, from_snapshot_id=s1)
    rows = [(r.a, r._change_type) for r in log.collect()]
    inserts = sorted(a for a, k in rows if k == "insert")
    deletes = sorted(a for a, k in rows if k == "delete")
    assert 3 in inserts
    # the rewritten file's surviving row reappears as insert; removed file rows as delete
    assert deletes == [1, 2]
    assert inserts == [2, 3]


def test_rewrite_position_delete_files(spark, catalog):
    from iceberg_geo_poc_spark.table.maintenance import (
        rewrite_position_delete_files,
    )

    t = _mk(spark, catalog, "rpd", n_appends=2, rows_per=10)
    t.delete(E.lt("a", 3), mode="merge-on-read")
    t.delete(E.ge("a", 17), mode="merge-on-read")
    ent = t._entries()
    assert (ent.content == "posdel").sum() == 2
    before = sorted(r.a for r in t.to_df().collect())
    res = rewrite_position_delete_files(t, min_input_files=2)
    assert res.rewritten_files == 2 and res.added_files == 1
    t = catalog.load_table("rpd")
    ent = t._entries()
    assert (ent.content == "posdel").sum() == 1
    assert sorted(r.a for r in t.to_df().collect()) == before == list(range(3, 17))


def test_rewrite_position_deletes_drops_dangling(spark, catalog):
    """After the referenced data files are compacted away, delete tuples
    pointing at them are dangling and must be dropped."""
    from iceberg_geo_poc_spark.table.maintenance import (
        rewrite_data_files,
        rewrite_position_delete_files,
    )

    t = _mk(spark, catalog, "rpd2", n_appends=3, rows_per=10)
    t.delete(E.lt("a", 5), mode="merge-on-read")
    t.delete(E.ge("a", 25), mode="merge-on-read")
    # full compaction applies + retires deletes; stage fresh MoR deletes
    rewrite_data_files(t, target_file_size=10**9)
    t = catalog.load_table("rpd2")
    assert (t._entries().content == "posdel").sum() == 0
    t.delete(E.eq("a", 10), mode="merge-on-read")
    t.delete(E.eq("a", 11), mode="merge-on-read")
    res = rewrite_position_delete_files(t)
    assert res.rewritten_files == 2
    t = catalog.load_table("rpd2")
    got = sorted(r.a for r in t.to_df().collect())
    assert got == [a for a in range(5, 25) if a not in (10, 11)]


def test_full_compaction_retires_equality_deletes(spark, catalog):
    from iceberg_geo_poc_spark.table.maintenance import rewrite_data_files

    t = _mk(spark, catalog, "ceq", n_appends=2, rows_per=10)
    t.delete_by_keys(frame(spark, [(0,), (19,)], "a BIGINT"))
    assert (t._entries().content == "eqdel").sum() == 1
    rewrite_data_files(t, target_file_size=10**9)
    t = catalog.load_table("ceq")
    ent = t._entries()
    assert (ent.content == "eqdel").sum() == 0
    assert sorted(r.a for r in t.to_df().collect()) == list(range(1, 19))


def test_runtime_filter_reprunes_files(spark, catalog):
    """DPP analogue: an IN set collected at runtime re-prunes the
    planned file list (reference SupportsRuntimeV2Filtering)."""
    t = catalog.create_table("dpp", "a BIGINT, b STRING")
    # 4 files with disjoint ranges of a
    for lo in (0, 100, 200, 300):
        t.append(
            frame(spark,
                [(lo + i, f"r{lo+i}") for i in range(10)], "a BIGINT, b STRING"
            ).coalesce(1)
        )
    scan = t.scan()
    assert len(scan.files()) == 4
    filtered = scan.with_runtime_filter("a", [5, 105])
    assert len(filtered.files()) == 2  # only files covering 0-9 and 100-109
    got = sorted(r.a for r in filtered.to_df().collect())
    assert got == [5, 105]


def test_changelog_compute_updates(spark, catalog):
    """compute_updates refines the file-granular changelog into net
    row changes: carryover rows vanish, changed rows become
    update_preimage/update_postimage pairs."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.streaming.incremental import (
        changelog,
        compute_updates,
    )

    t = catalog.create_table("cdcup", "a BIGINT, v DOUBLE")
    t.append(
        frame(spark, [(i, float(i)) for i in range(10)], "a BIGINT, v DOUBLE")
        .coalesce(1)
    )
    base = t.current_snapshot().snapshot_id
    t.update({"v": F.col("v") * 10}, where=E.ge("a", 8))
    diff = changelog(t, from_snapshot_id=base)
    # file-granular: the whole rewritten file appears as delete+insert
    assert diff.count() == 20
    net = compute_updates(diff, identifier_columns=["a"])
    rows = {(r.a, r._change_type): r.v for r in net.collect()}
    assert len(rows) == 4  # 2 updated rows x pre+post
    assert rows[(8, "update_preimage")] == 8.0
    assert rows[(8, "update_postimage")] == 80.0
    assert rows[(9, "update_postimage")] == 90.0
    # pure inserts stay inserts
    t2_base = t.current_snapshot().snapshot_id
    t.append(frame(spark, [(100, 1.0)], "a BIGINT, v DOUBLE"))
    net2 = compute_updates(
        changelog(t, from_snapshot_id=t2_base), identifier_columns=["a"]
    )
    got = [(r.a, r._change_type) for r in net2.collect()]
    assert got == [(100, "insert")]


def test_incremental_stream_record_admission(spark, catalog):
    """max_records_per_batch admits whole files until the record budget
    is spent (SupportsAdmissionControl max-records parity)."""
    t = _mk(spark, catalog, "admrec", n_appends=4, rows_per=10)
    s = IncrementalStream(t, max_records_per_batch=25)
    sizes = []
    while (b := s.next_batch()) is not None:
        sizes.append(b.count())
    assert sum(sizes) == 40
    assert sizes == [20, 20]  # 2 files of 10 fit in each 25-record budget


def test_record_admission_runs_zero_spark_jobs(spark, catalog):
    """Batch sizing is metadata-driven: admitting files against the
    record budget reads manifest record_counts only — planning a batch
    must launch ZERO Spark jobs (jobs run when the caller acts on the
    returned DataFrame, never during admission)."""
    t = _mk(spark, catalog, "admzero", n_appends=4, rows_per=10)
    s = IncrementalStream(t, max_records_per_batch=25)
    sc = spark.sparkContext
    sc.setJobGroup("admission-probe", "admission sizing must be job-free")
    try:
        batches = []
        while (b := s.next_batch()) is not None:  # plan only — no actions
            batches.append(b)
        job_ids = sc.statusTracker().getJobIdsForGroup("admission-probe")
        assert list(job_ids) == [], f"admission launched Spark jobs: {job_ids}"
    finally:
        sc.setJobGroup(None, None)
    # the planned batches are intact: acting on them now yields the rows
    assert sum(b.count() for b in batches) == 40


def test_apply_changelog_mirrors_source(spark, catalog):
    """CDC apply: after a delete + two successive updates of the same
    key across separate commits, the mirror equals the source
    (last-writer-wins across the window, replayed via eq-delete+append)."""
    src = catalog.create_table("cdc_src", "k BIGINT, v STRING")
    mirror = catalog.create_table("cdc_dst", "k BIGINT, v STRING")
    df0 = frame(spark,
        [(i, f"v{i}") for i in range(10)], "k BIGINT, v STRING"
    )
    src.append(df0.coalesce(1))
    mirror.append(df0.coalesce(1))
    s1 = src.current_snapshot().snapshot_id
    src.delete(E.lt("k", 2))
    src.update({"v": "first"}, where=E.eq("k", 5))
    src.update({"v": "second"}, where=E.eq("k", 5))
    src.append(frame(spark, [(100, "new")], "k BIGINT, v STRING"))
    stats = apply_changelog(src, mirror, ["k"], from_snapshot_id=s1)
    assert stats["deleted-keys"] >= 3
    want = sorted((r.k, r.v) for r in src.to_df().collect())
    got = sorted((r.k, r.v) for r in mirror.to_df().collect())
    assert got == want
    assert dict(want)[5] == "second"
    # idempotent-per-window follow-up: a fresh window with no changes
    s2 = src.current_snapshot().snapshot_id
    stats2 = apply_changelog(src, mirror, ["k"], from_snapshot_id=s2)
    assert stats2 == {"deleted-keys": 0, "inserted-rows": 0}


def test_python_datasource_batch_and_stream(spark, catalog, tmp_path):
    """The registered Python DataSource serves managed tables to
    spark.read AND to real Structured Streaming with checkpointed
    snapshot offsets (SparkMicroBatchStream parity: restart resumes
    exactly-once from the checkpoint)."""
    from iceberg_geo_poc_spark.streaming.datasource import TableDataSource

    spark.dataSource.register(TableDataSource)
    t = catalog.create_table("dsrc", "a BIGINT, b STRING")
    t.append(
        frame(spark,
            [(i, f"r{i}") for i in range(10)], "a BIGINT, b STRING"
        ).coalesce(1)
    )
    # batch path
    df = spark.read.format("iceberg_geo_poc").option("location", t.location).load()
    assert sorted(r.a for r in df.collect()) == list(range(10))

    # streaming path with a checkpoint: first run sees batch 1
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("iceberg_geo_poc")
            .option("location", t.location)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    assert sorted(r.a for r in got.collect()) == list(range(10))
    # append more; a RESTARTED stream reads only the delta
    t.append(
        frame(spark,
            [(i, f"r{i}") for i in range(10, 15)], "a BIGINT, b STRING"
        ).coalesce(1)
    )
    run_once()
    got = spark.read.parquet(out)
    assert sorted(r.a for r in got.collect()) == list(range(15))
    # no new data -> restart appends nothing (exactly-once)
    run_once()
    assert spark.read.parquet(out).count() == 15


def test_expire_snapshots_older_than_keeps_recent(spark, catalog):
    t = _mk(spark, catalog, "expold", n_appends=3)
    cutoff = t.snapshots()[1].timestamp_ms  # keep snapshots 2,3
    stats = expire_snapshots(t, keep_last=1, older_than_ms=cutoff)
    assert stats["expired"] == 1
    t = catalog.load_table("expold")
    assert len(t.snapshots()) == 2
    assert sorted(r.a for r in t.to_df().collect()) == list(range(30))


def test_alter_table_properties(spark, catalog):
    t = _mk(spark, catalog, "props", n_appends=1)
    catalog.alter_table_properties(
        "props", set_props={"commit.retry.num-retries": "3", "custom": "x"}
    )
    t = catalog.load_table("props")
    assert t.meta.properties["custom"] == "x"
    catalog.alter_table_properties("props", unset=["custom"])
    assert "custom" not in catalog.load_table("props").meta.properties


def test_branch_retention_options(spark, catalog):
    """CREATE BRANCH/TAG retention grammar -> ref fields; expire honors
    max-ref-age (aged ref disappears, its snapshots become expirable)
    and min-snapshots-to-keep (branch ancestors survive expire)."""
    t = _mk(spark, catalog, "reten", n_appends=4, rows_per=5)
    name = "reten"
    catalog.sql(
        f"ALTER TABLE {name} CREATE BRANCH hist RETAIN 30 DAYS "
        "WITH SNAPSHOT RETENTION 3 SNAPSHOTS 7 DAYS"
    )
    catalog.sql(f"ALTER TABLE {name} CREATE TAG old RETAIN 1 DAY")
    t = catalog.load_table(name)
    hist = t.meta.refs["hist"]
    assert hist["max-ref-age-ms"] == 30 * 24 * 3600 * 1000
    assert hist["min-snapshots-to-keep"] == 3
    assert hist["max-snapshot-age-ms"] == 7 * 24 * 3600 * 1000
    # age the tag artificially: created long ago
    t.meta.refs["old"]["created-at-ms"] -= 2 * 24 * 3600 * 1000
    from iceberg_geo_poc_spark.table import metadata as MD
    from iceberg_geo_poc_spark.table.maintenance import expire_snapshots

    MD.write_new_metadata(t.meta, t.meta.version)
    t = catalog.load_table(name)
    t.meta.properties["gc.enabled"] = "true"
    stats = expire_snapshots(t, keep_last=1, older_than_ms=MD.now_ms() + 1000)
    t = catalog.load_table(name)
    # the aged tag is gone; the branch survives with >= 3 protected
    # ancestors of its head
    assert "old" not in t.meta.refs
    assert "hist" in t.meta.refs
    ids = {s.snapshot_id for s in t.meta.snapshots}
    cur = t.meta.refs["hist"]["snapshot-id"]
    chain = 0
    by_id = {s.snapshot_id: s for s in t.meta.snapshots}
    while cur in by_id and chain < 3:
        chain += 1
        cur = by_id[cur].parent_id
    assert chain == 3, f"branch ancestors not protected ({chain} kept, ids={ids})"


def test_changelog_mor_deletes_visible(spark, catalog):
    """MoR delete commits (position-delete parquet AND deletion
    vectors) must surface row-level 'delete' changes — a file-set diff
    alone would miss them entirely."""
    t = catalog.create_table("cl_mor", "a BIGINT, b STRING")
    t.append(
        frame(spark,
            [(i, f"r{i}") for i in range(20)], "a BIGINT, b STRING"
        ).coalesce(1)
    )
    base = t.current_snapshot().snapshot_id
    t.delete(E.lt("a", 3), mode="merge-on-read")
    t.delete(E.ge("a", 18), mode="merge-on-read-dv")
    log = changelog(t, from_snapshot_id=base).collect()
    dels = sorted(r.a for r in log if r._change_type == "delete")
    assert dels == [0, 1, 2, 18, 19]
    assert not [r for r in log if r._change_type == "insert"]
    # the two delete commits are distinguishable
    sids = {r._commit_snapshot_id for r in log}
    assert len(sids) == 2


def test_changelog_mixed_append_and_mor(spark, catalog):
    """Appends stay file-diff cheap; the delete commit uses the
    live-set diff; net result is exact row-level history."""
    t = catalog.create_table("cl_mix", "a BIGINT")
    t.append(frame(spark, [(i,) for i in range(5)], "a BIGINT").coalesce(1))
    base = t.current_snapshot().snapshot_id
    t.append(frame(spark, [(i,) for i in range(5, 8)], "a BIGINT").coalesce(1))
    t.delete(E.eq("a", 6), mode="merge-on-read")
    log = changelog(t, from_snapshot_id=base).collect()
    ins = sorted(r.a for r in log if r._change_type == "insert")
    dels = sorted(r.a for r in log if r._change_type == "delete")
    assert ins == [5, 6, 7]
    assert dels == [6]


def test_changelog_eq_delete_visible(spark, catalog):
    """Equality-delete commits also surface row-level deletes via the
    live-set diff."""
    t = catalog.create_table("cl_eq", "k BIGINT, v STRING")
    t.append(
        frame(spark,
            [(i, f"v{i}") for i in range(10)], "k BIGINT, v STRING"
        ).coalesce(1)
    )
    base = t.current_snapshot().snapshot_id
    t.delete_by_keys(
        frame(spark, [(2,), (7,)], "k BIGINT"), key_cols=["k"]
    )
    log = changelog(t, from_snapshot_id=base).collect()
    assert sorted(r.k for r in log if r._change_type == "delete") == [2, 7]


def test_streaming_append_exactly_once_replay(spark, tmp_path):
    """A replayed foreachBatch epoch (same query id + epoch id) must be
    skipped, not double-appended — the reference's SparkWrite streaming
    commits record the epoch id in the snapshot summary for exactly
    this recovery case."""
    from iceberg_geo_poc_spark.table import Catalog

    cat = Catalog(str(tmp_path / "wh"), spark)
    t = cat.create_table("eo", "id BIGINT")
    df = spark.range(10).select("id")
    s1 = t.append_streaming(df, "q1", 0)
    assert s1 is not None
    t = cat.load_table("eo")
    assert t.append_streaming(df, "q1", 0) is None  # replay skipped
    t = cat.load_table("eo")
    assert t.to_df().count() == 10
    # a NEW epoch (and a different query) both commit
    assert t.append_streaming(df, "q1", 1) is not None
    t = cat.load_table("eo")
    assert t.append_streaming(df, "q2", 0) is not None
    assert cat.load_table("eo").to_df().count() == 30


def test_scd2_history_update_delete_reinsert(spark, catalog):
    """SCD2 materialization from the changelog: updates open/close
    versions at commit ordinals; a delete closes WITHOUT a successor;
    a later re-insert opens a NEW interval — the deleted gap must not
    be bridged (valid_to of the pre-delete version = the delete's
    ordinal, not the re-insert's)."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.streaming.incremental import scd2_history

    t = catalog.create_table("scd2t", "k BIGINT, s STRING")
    t.append(frame(spark,
        [(1, "a"), (2, "b"), (3, "c")], "k BIGINT, s STRING").coalesce(1))
    t.update({"s": F.lit("a2")}, where=E.eq("k", 1), mode="merge-on-read")  # ord 2
    t.delete(E.eq("k", 2), mode="merge-on-read")                            # ord 3
    t.append(frame(spark, [(2, "b2")], "k BIGINT, s STRING").coalesce(1))  # ord 4
    hist = {
        (r.k, r.s): (r.valid_from_version, r.valid_to_version, r.is_current)
        for r in scd2_history(t, ["k"]).collect()
    }
    assert hist == {
        (1, "a"): (1, 2, False),
        (1, "a2"): (2, None, True),
        (2, "b"): (1, 3, False),   # closed by the DELETE, not the reinsert
        (2, "b2"): (4, None, True),
        (3, "c"): (1, None, True),
    }


def test_call_create_scd2_view(spark, catalog):
    """CALL system.create_scd2_view registers the SCD2 history as a
    temp view for plain spark.sql consumers (same shape as
    create_changelog_view)."""
    import pyspark.sql.functions as F

    t = catalog.create_table("scd2v", "k BIGINT, s STRING")
    t.append(frame(spark, [(1, "a"), (2, "b")], "k BIGINT, s STRING").coalesce(1))
    t.update({"s": F.lit("a2")}, where=E.eq("k", 1), mode="merge-on-read")
    df = catalog.sql(
        "CALL system.create_scd2_view(table => 'scd2v', key_cols => 'k')"
    )
    assert set(df.columns) >= {"k", "s", "valid_from_version",
                               "valid_to_version", "is_current"}
    got = {
        (r.k, r.s): r.is_current
        for r in spark.sql("SELECT * FROM scd2v_scd2").collect()
    }
    assert got == {(1, "a"): False, (1, "a2"): True, (2, "b"): True}


def test_streaming_overwrite_exactly_once(spark, catalog):
    """overwrite_streaming: each epoch replaces the table; a replayed
    (query-id, epoch-id) is skipped — no phantom snapshot, no change."""
    import pyspark.sql.functions as F

    t = catalog.create_table("ow", "k STRING, n BIGINT")
    df1 = frame(spark, [("a", 1), ("b", 2)], "k STRING, n BIGINT")
    df2 = frame(spark, [("a", 5), ("b", 6), ("c", 7)], "k STRING, n BIGINT")
    assert t.overwrite_streaming(df1, "q1", 0) is not None
    assert t.overwrite_streaming(df2, "q1", 1) is not None
    n_snaps = len(t.meta.snapshots)
    # replay of epoch 1: skipped
    assert t.overwrite_streaming(df1, "q1", 1) is None
    assert len(t.meta.snapshots) == n_snaps
    got = sorted((r.k, r.n) for r in t.to_df().collect())
    assert got == [("a", 5), ("b", 6), ("c", 7)]
    # a different query id is NOT a replay
    assert t.overwrite_streaming(df1, "q2", 1) is not None
    assert sorted((r.k, r.n) for r in t.to_df().collect()) == [("a", 1), ("b", 2)]
