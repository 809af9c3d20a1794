"""Runtime matched-file narrowing for copy-on-write row-level ops
(reference SparkCopyOnWriteScan.java:143-171: the CoW scan accepts a
runtime ``_file IN (...)`` filter built from the matched-row set, so
only file groups actually containing matches are rewritten — reference
tests TestCopyOnWriteMerge/Delete/Update), plus the round-13 WAP-branch
auto-create semantics (TestDelete.testDeleteToWapBranch never creates
the branch; plain reads resolve to it while spark.wap.branch is set).

Every table here is laid out so MIN/MAX stats pruning CANNOT separate
the files (interleaved key ranges): any narrowing observed is the
runtime probe, not the planner.
"""

from __future__ import annotations

import pytest

from iceberg_geo_poc_spark.table import Catalog
from iceberg_geo_poc_spark.table.sql import SqlError
from tests.frames import frame


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(str(tmp_path / "wh"), spark)


def _mk_interleaved(spark, catalog, name, props=None):
    """4 data files whose id ranges ALL overlap ([1,100] [2,99] [3,98]
    [4,97]) so stats pruning keeps all four as candidates for any key
    inside [4, 97]."""
    t = catalog.create_table(name, "id BIGINT, v STRING", properties=props)
    for lo, hi in ((1, 100), (2, 99), (3, 98), (4, 97)):
        t.append(
            frame(spark, 
                [(lo, f"lo{lo}"), (hi, f"hi{hi}")], "id BIGINT, v STRING"
            ).coalesce(1)
        )
    return t


def _data_file_count(t):
    ent = t._entries()
    return len(ent[ent.content == "data"])


def _rows(catalog, name):
    return sorted(
        (r.id, r.v) for r in catalog.load_table(name).to_df().collect()
    )


def test_merge_rewrites_only_matched_files(spark, catalog):
    t = _mk_interleaved(spark, catalog, "m1")
    # source key range [50, 99] overlaps all four files' id ranges, so
    # min/max pruning keeps ALL of them as candidates; only the file
    # holding id=99 contains a matched row
    src = frame(spark, [(99, "UPD"), (50, "NEW")], "id BIGINT, v STRING")
    snap = t.merge(
        src,
        on=["id"],
        when_matched_update={"v": "UPD"},
        when_not_matched_insert=True,
    )
    assert snap.summary["candidate-files"] == 4
    assert snap.summary["merged-files"] == 1
    assert snap.summary["inserted-files"] == 1
    # 3 untouched originals + 1 rewritten + 1 inserted
    assert _data_file_count(t) == 5
    rows = _rows(catalog, "m1")
    assert (99, "UPD") in rows and (50, "NEW") in rows
    assert len(rows) == 9


def test_merge_no_match_rewrites_nothing(spark, catalog):
    t = _mk_interleaved(spark, catalog, "m2")
    src = frame(spark, [(50, "x")], "id BIGINT, v STRING")
    snap = t.merge(src, on=["id"], when_matched_update={"v": "x"},
                   when_not_matched_insert=True)
    assert snap.summary["merged-files"] == 0
    assert snap.summary["inserted-files"] == 1
    assert _data_file_count(t) == 5
    assert (50, "x") in _rows(catalog, "m2")


def test_sql_delete_in_subquery_narrows(spark, catalog):
    _mk_interleaved(spark, catalog, "d1")
    k = catalog.create_table("d1_keys", "k BIGINT")
    k.append(frame(spark, [(98,)], "k BIGINT"))
    snap = catalog.sql("DELETE FROM d1 WHERE id IN (SELECT k FROM d1_keys)")
    # subquery-only WHERE: prune is always-true, all 4 files candidates
    assert snap.summary["candidate-files"] == 4
    assert snap.summary["rewritten-files"] == 1
    assert _data_file_count(catalog.load_table("d1")) == 4
    assert (98, "hi98") not in _rows(catalog, "d1")
    assert len(_rows(catalog, "d1")) == 7


def test_sql_update_in_subquery_narrows(spark, catalog):
    _mk_interleaved(spark, catalog, "u1")
    k = catalog.create_table("u1_keys", "k BIGINT")
    k.append(frame(spark, [(97,)], "k BIGINT"))
    snap = catalog.sql(
        "UPDATE u1 SET v = 'updated' WHERE id IN (SELECT k FROM u1_keys)"
    )
    assert snap.summary["candidate-files"] == 4
    assert snap.summary["rewritten-files"] == 1
    assert (97, "updated") in _rows(catalog, "u1")
    assert len(_rows(catalog, "u1")) == 8


def test_expression_delete_narrows(spark, catalog):
    t = _mk_interleaved(spark, catalog, "d2")
    from iceberg_geo_poc_spark.table import expressions as E

    # id=4 is inside every file's [min,max] but present only in one file
    snap = t.delete(E.eq("id", 4))
    # inclusive stats keep all 4 files might-match; the probe clears 3
    assert snap.summary["candidate-files"] == 4
    assert snap.summary["rewritten-files"] == 1
    assert snap.summary["deleted-files"] == 0
    assert _data_file_count(t) == 4
    assert len(_rows(catalog, "d2")) == 7


def test_expression_update_narrows(spark, catalog):
    t = _mk_interleaved(spark, catalog, "u2")
    from iceberg_geo_poc_spark.table import expressions as E

    # id=97 is inside every file's [min,max] but present only in one file
    snap = t.update({"v": "X"}, E.eq("id", 97))
    assert snap.summary["candidate-files"] == 4
    assert snap.summary["rewritten-files"] == 1
    assert (97, "X") in _rows(catalog, "u2")
    assert len(_rows(catalog, "u2")) == 8


def test_unknown_row_level_mode_raises(spark, catalog):
    """An unknown mode is refused, not silently run as copy-on-write."""
    from iceberg_geo_poc_spark.table import expressions as E

    t = catalog.create_table("badmode", "id BIGINT, v STRING")
    src = frame(spark, [(1, "x")], "id BIGINT, v STRING")
    for call in (
        lambda: t.delete(E.eq("id", 1), mode="mor"),
        lambda: t.update({"v": "y"}, E.eq("id", 1), mode="mor"),
        lambda: t.merge(src, on=["id"], mode="mor"),
    ):
        with pytest.raises(ValueError, match="unknown row-level mode"):
            call()


# -- WAP-branch auto-create + read routing (ADVICE r12) ----------------------


def test_wap_branch_auto_creates_and_routes_reads(spark, catalog):
    t = _mk_interleaved(spark, catalog, "w1")
    assert "audit" not in t.meta.refs
    spark.conf.set("spark.wap.branch", "audit")
    try:
        catalog.sql("DELETE FROM w1 WHERE id = 99")
        t = catalog.load_table("w1")
        # branch auto-created by the first WAP write
        assert t.meta.refs["audit"]["type"] == "branch"
        # plain reads resolve to the branch while the conf is set
        ids = {r.id for r in catalog.sql("SELECT id FROM w1").collect()}
        assert 99 not in ids and len(ids) == 7
        # WAP INSERT lands on the branch too
        catalog.sql("INSERT INTO w1 VALUES (7777, 'wap')")
        ids = {r.id for r in catalog.sql("SELECT id FROM w1").collect()}
        assert 7777 in ids
    finally:
        spark.conf.unset("spark.wap.branch")
    # main untouched by everything above
    ids = {r.id for r in catalog.sql("SELECT id FROM w1").collect()}
    assert 99 in ids and 7777 not in ids and len(ids) == 8


def test_wap_branch_on_empty_table(spark, catalog):
    catalog.create_table("w2", "id BIGINT, v STRING")
    spark.conf.set("spark.wap.branch", "audit")
    try:
        catalog.sql("INSERT INTO w2 VALUES (1, 'a')")
        t = catalog.load_table("w2")
        assert t.meta.refs["audit"]["type"] == "branch"
        assert t.meta.current_snapshot_id is None  # main still empty
        assert len(catalog.sql("SELECT * FROM w2").collect()) == 1
    finally:
        spark.conf.unset("spark.wap.branch")
    assert catalog.sql("SELECT * FROM w2").collect() == []


def test_wap_merge_auto_creates(spark, catalog):
    _mk_interleaved(spark, catalog, "w3")
    catalog.create_table("w3_src", "id BIGINT, v STRING").append(
        frame(spark, [(1, "B")], "id BIGINT, v STRING")
    )
    spark.conf.set("spark.wap.branch", "wb")
    try:
        catalog.sql(
            "MERGE INTO w3 t USING w3_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )
        assert catalog.load_table("w3").meta.refs["wb"]["type"] == "branch"
        assert (1, "B") in {
            (r.id, r.v) for r in catalog.sql("SELECT * FROM w3").collect()
        }
    finally:
        spark.conf.unset("spark.wap.branch")
    assert (1, "lo1") in _rows(catalog, "w3")


@pytest.mark.parametrize(
    "mode", ["copy-on-write", "merge-on-read", "merge-on-read-dv"]
)
def test_wap_subquery_delete_lands_on_branch(spark, catalog, mode):
    """A subquery DELETE under spark.wap.branch commits to the branch and
    leaves main unchanged (it used to be refused), in every delete mode."""
    name = "w6_" + mode.replace("-", "_")
    t = _mk_interleaved(spark, catalog, name, {"write.delete.mode": mode})
    main_head = t.meta.current_snapshot_id
    catalog.create_table(f"{name}_keys", "k BIGINT").append(
        frame(spark, [(98,), (1,)], "k BIGINT")
    )
    spark.conf.set("spark.wap.branch", "audit")
    try:
        catalog.sql(f"DELETE FROM {name} WHERE id IN (SELECT k FROM {name}_keys)")
        ids = {r.id for r in catalog.sql(f"SELECT id FROM {name}").collect()}
        assert ids == {2, 3, 4, 97, 99, 100}
    finally:
        spark.conf.unset("spark.wap.branch")
    assert catalog.load_table(name).meta.current_snapshot_id == main_head
    assert len(_rows(catalog, name)) == 8


def test_wap_zero_match_dml_stays_on_branch(spark, catalog):
    """A WAP-branch UPDATE/DELETE whose narrowing probe clears EVERY
    candidate (zero matched rows) must commit its no-op snapshot to the
    BRANCH, not main (ADVICE r13: the early exits dropped to_branch)."""
    t = _mk_interleaved(spark, catalog, "w4")
    main_head = t.meta.current_snapshot_id
    spark.conf.set("spark.wap.branch", "audit")
    try:
        # id=50 is inside every file's [min,max] but present in none:
        # candidates 4, touched 0 -> the not-touched early exit fires
        catalog.sql("UPDATE w4 SET v = 'X' WHERE id = 50")
        catalog.sql("DELETE FROM w4 WHERE id = 51")
        t = catalog.load_table("w4")
        assert t.meta.current_snapshot_id == main_head  # main untouched
        assert t.meta.refs["audit"]["type"] == "branch"
    finally:
        spark.conf.unset("spark.wap.branch")
    assert len(_rows(catalog, "w4")) == 8


def test_wap_zero_candidate_update_stays_on_branch(spark, catalog):
    """Same for the not-paths early exit (planner prunes everything)."""
    t = _mk_interleaved(spark, catalog, "w5")
    main_head = t.meta.current_snapshot_id
    spark.conf.set("spark.wap.branch", "audit")
    try:
        catalog.sql("UPDATE w5 SET v = 'X' WHERE id = 100000")  # out of bounds
        catalog.sql("DELETE FROM w5 WHERE id = -5")
        t = catalog.load_table("w5")
        assert t.meta.current_snapshot_id == main_head
    finally:
        spark.conf.unset("spark.wap.branch")
    assert len(_rows(catalog, "w5")) == 8


def test_touched_file_paths_bounded_by_file_count(spark, catalog):
    """The narrowing collect is bounded by DISTINCT FILE COUNT, never
    matched-row count (VERDICT r13 task 7): 10^6 matched rows across
    10^4 synthetic file paths collect exactly 10^4 strings to the
    driver.  Documents the design bound — at 10^7+ candidate files the
    sorted driver-side list is the ceiling (SCALE.md), which no
    plausible per-DML candidate set reaches."""
    from pyspark.sql import functions as F

    t = catalog.create_table("bnd", "id BIGINT, v STRING")
    matched = (
        spark.range(10_000)
        .select(
            F.concat(F.lit("wh/data/f-"), F.col("id")).alias("__file_path"),
            F.explode(F.sequence(F.lit(1), F.lit(100))).alias("row"),
        )
    )
    assert matched.count() == 1_000_000
    paths = t._touched_file_paths(matched)
    assert len(paths) == 10_000
    assert paths == sorted(paths)


# -- correlated EXISTS tail-clause rejection (ADVICE r12) ---------------------


def test_correlated_exists_with_limit_rejected(spark, catalog):
    _mk_interleaved(spark, catalog, "e1")
    k = catalog.create_table("e1_keys", "k BIGINT")
    k.append(frame(spark, [(98,)], "k BIGINT"))
    with pytest.raises(SqlError, match="LIMIT"):
        catalog.sql(
            "DELETE FROM e1 t WHERE EXISTS "
            "(SELECT 1 FROM e1_keys s WHERE t.id = s.k LIMIT 1)"
        )
    # uncorrelated EXISTS may carry LIMIT
    catalog.sql(
        "DELETE FROM e1 t WHERE id = 98 AND EXISTS "
        "(SELECT 1 FROM e1_keys LIMIT 1)"
    )
    assert len(_rows(catalog, "e1")) == 7


def test_correlated_exists_having_needs_group_key(spark, catalog):
    _mk_interleaved(spark, catalog, "e2")
    k = catalog.create_table("e2_keys", "k BIGINT, g STRING")
    k.append(
        frame(spark, [(98, "x"), (98, "x")], "k BIGINT, g STRING")
    )
    # correlation column IS a group key: sound, executes
    catalog.sql(
        "DELETE FROM e2 t WHERE EXISTS (SELECT 1 FROM e2_keys s "
        "WHERE t.id = s.k GROUP BY s.k HAVING count(*) > 1)"
    )
    assert len(_rows(catalog, "e2")) == 7
    with pytest.raises(SqlError, match="GROUP BY key"):
        catalog.sql(
            "DELETE FROM e2 t WHERE EXISTS (SELECT 1 FROM e2_keys s "
            "WHERE t.id = s.k GROUP BY s.g HAVING count(*) > 1)"
        )
