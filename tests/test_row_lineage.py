"""Row lineage (Iceberg v3 _row_id / _last_updated_sequence_number).

Appends allocate first_row_id blocks at commit time; reads synthesize
``_row_id = first_row_id + position`` unless a rewrite materialized the
column physically.  These tests pin the three invariants that matter:
IDs are unique, IDs are STABLE across every row-preserving operation
(MoR deletes, DV deletes, CoW delete survivors, CoW update, compaction),
and _last_updated_sequence_number moves only for rows a commit actually
changed.
"""

from __future__ import annotations

import pytest

from iceberg_geo_poc_spark.table import Catalog, E
from iceberg_geo_poc_spark.table import maintenance as MAINT
from tests.frames import frame


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(str(tmp_path / "warehouse"), spark)


def _ids(t):
    return {
        r.a: (r._row_id, r._last_updated_sequence_number)
        for r in t.to_df(lineage=True).collect()
    }


def _mk(spark, catalog, name, n=30):
    t = catalog.create_table(name, "a BIGINT, b STRING")
    t.append(
        frame(spark, 
            [(i, f"r{i}") for i in range(n)], "a BIGINT, b STRING"
        ).coalesce(1)
    )
    return t


def test_append_assigns_unique_contiguous_ids(spark, catalog):
    t = _mk(spark, catalog, "rl1", n=10)
    t.append(
        frame(spark, 
            [(i, f"r{i}") for i in range(10, 25)], "a BIGINT, b STRING"
        ).coalesce(1)
    )
    ids = _ids(t)
    assert len(ids) == 25
    row_ids = sorted(v[0] for v in ids.values())
    assert row_ids == list(range(25)), "two appends allocate disjoint blocks"
    # plain read is unchanged (no lineage columns)
    assert "_row_id" not in t.to_df().columns


def test_ids_stable_under_mor_and_dv_deletes(spark, catalog):
    t = _mk(spark, catalog, "rl2")
    before = _ids(t)
    t.delete(E.lt("a", 5), mode="merge-on-read")
    t.delete(E.ge("a", 28), mode="merge-on-read-dv")
    after = _ids(t)
    assert set(after) == set(range(5, 28))
    for a, v in after.items():
        assert v == before[a], "MoR deletes must not move surviving row ids"


def test_ids_stable_under_cow_delete_and_compaction(spark, catalog):
    t = _mk(spark, catalog, "rl3")
    before = _ids(t)
    t.delete(E.lt("a", 5))  # copy-on-write rewrite
    mid = _ids(t)
    assert {a: v[0] for a, v in mid.items()} == {
        a: v[0] for a, v in before.items() if a >= 5
    }, "CoW survivors keep their ids (materialized through the rewrite)"
    # a second file, then compaction
    t.append(
        frame(spark, 
            [(i, f"r{i}") for i in range(100, 110)], "a BIGINT, b STRING"
        ).coalesce(1)
    )
    pre_compact = _ids(t)
    MAINT.rewrite_data_files(t, min_input_files=1)
    post = _ids(t)
    assert {a: v[0] for a, v in post.items()} == {
        a: v[0] for a, v in pre_compact.items()
    }, "compaction preserves row ids"


def test_last_updated_moves_only_for_updated_rows(spark, catalog):
    t = _mk(spark, catalog, "rl4")
    before = _ids(t)
    snap = t.update({"b": "changed"}, where=E.lt("a", 3))
    after = _ids(t)
    for a, (rid, seq) in after.items():
        assert rid == before[a][0], "update must not move row ids"
        if a < 3:
            assert seq == snap.sequence_number, "updated rows take the new seq"
        else:
            assert seq == before[a][1], "untouched rows keep their seq"


def test_ids_unique_after_merge_inserts(spark, catalog):
    t = _mk(spark, catalog, "rl5", n=10)
    src = frame(spark, 
        [(5, "upd"), (100, "new"), (101, "new2")], "a BIGINT, b STRING"
    )
    t.merge(src, on=["a"], when_matched_update={"b": "upd"})
    ids = _ids(t)
    assert len(ids) == 12
    row_ids = [v[0] for v in ids.values()]
    assert len(set(row_ids)) == 12, "merge inserts allocate fresh unique ids"


def _lineage_op(spark, t, how):
    """Apply one row-preserving op that touches rows a < 3; returns the
    rows it must leave (the transaction deletes them, the rest update)."""
    import pyspark.sql.functions as F

    src = frame(spark, [(i, f"s{i}") for i in range(3)], "a BIGINT, b STRING")
    if how == "transaction-delete":
        with t.new_transaction() as tx:
            tx.delete(E.lt("a", 3))
        return set(range(3, 30))
    if how.startswith("update-"):
        t.update({"b": "x"}, E.lt("a", 3), mode=how[len("update-"):])
    else:
        t.merge(
            src, on=["a"], when_matched_update={"b": F.col("s.b")},
            when_not_matched_insert=False, mode=how[len("merge-"):],
        )
    return set(range(30))


@pytest.mark.parametrize(
    "how",
    [
        "transaction-delete",
        "update-merge-on-read",
        "update-merge-on-read-dv",
        "merge-copy-on-write",
        "merge-merge-on-read",
        "merge-merge-on-read-dv",
    ],
)
def test_ids_stable_under_row_level_ops(spark, catalog, how):
    """Every row-preserving op keeps ``_row_id``: survivors of a
    transaction's delete and rows a merge-on-read MERGE updates (both
    used to get fresh ids), as every other form already did."""
    t = _mk(spark, catalog, "rl6_" + how.replace("-", "_"))
    before = _ids(t)
    left = _lineage_op(spark, t, how)
    after = _ids(t)
    assert set(after) == left
    assert {a: v[0] for a, v in after.items()} == {
        a: before[a][0] for a in left
    }, "row-level ops must not move row ids"
