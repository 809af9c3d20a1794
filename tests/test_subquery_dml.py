"""Subquery predicates in textual DELETE/UPDATE + MERGE schema evolution
(reference TestDelete.java:748-823 testDeleteWithInSubquery /
testDeleteWithNotInSubquery / multi-column IN, the TestUpdate
equivalents, and TestMerge's schema-evolution cases).  Spark rewrites
these to joins; the dispatcher plans the inner SELECT through its own
SELECT path and executes via Table.delete_matching/update_matching."""

from __future__ import annotations

import pytest

from iceberg_geo_poc_spark.table import Catalog
from iceberg_geo_poc_spark.table.sql import SqlError
from tests.frames import frame


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(str(tmp_path / "wh"), spark)


def _mk_target(spark, catalog, name, mode=None):
    props = {}
    if mode:
        props = {"write.delete.mode": mode, "write.update.mode": mode}
    t = catalog.create_table(
        name, "id BIGINT, grp STRING, v DOUBLE", properties=props or None
    )
    t.append(
        frame(spark, 
            [
                (1, "a", 10.0),
                (2, "a", 20.0),
                (3, "b", 30.0),
                (4, "b", 40.0),
                (None, "a", 50.0),  # NULL key: must survive IN deletes
            ],
            "id BIGINT, grp STRING, v DOUBLE",
        ).coalesce(1)
    )
    return t


def _mk_keys(spark, catalog, name, rows, ddl="k BIGINT"):
    t = catalog.create_table(name, ddl)
    t.append(frame(spark, rows, ddl))
    return t


def _ids(catalog, name):
    rows = catalog.load_table(name).to_df().collect()
    return sorted((r.id if r.id is not None else -999) for r in rows)


@pytest.mark.parametrize("mode", [None, "merge-on-read"])
def test_delete_in_subquery(spark, catalog, mode):
    _mk_target(spark, catalog, "t", mode)
    _mk_keys(spark, catalog, "keys", [(1,), (3,), (77,)])
    catalog.sql("DELETE FROM t WHERE id IN (SELECT k FROM keys)")
    # 1 and 3 deleted; 77 matches nothing; NULL id survives (NULL IN
    # (...) is NULL, not TRUE)
    assert _ids(catalog, "t") == [-999, 2, 4]


def test_delete_in_subquery_with_plain_conjunct(spark, catalog):
    _mk_target(spark, catalog, "t2")
    _mk_keys(spark, catalog, "k2", [(1,), (2,), (3,)])
    catalog.sql("DELETE FROM t2 WHERE id IN (SELECT k FROM k2) AND grp = 'a'")
    assert _ids(catalog, "t2") == [-999, 3, 4]


@pytest.mark.parametrize("mode", [None, "merge-on-read"])
def test_delete_not_in_subquery_null_is_noop(spark, catalog, mode):
    name = f"t3{mode or 'cow'}".replace("-", "")
    _mk_target(spark, catalog, name, mode)
    _mk_keys(spark, catalog, f"{name}_k", [(1,), (None,)])
    # a NULL in the subquery makes NOT IN never TRUE: delete 0 rows
    catalog.sql(f"DELETE FROM {name} WHERE id NOT IN (SELECT k FROM {name}_k)")
    assert _ids(catalog, name) == [-999, 1, 2, 3, 4]


def test_delete_not_in_subquery_null_free(spark, catalog):
    _mk_target(spark, catalog, "t4")
    _mk_keys(spark, catalog, "k4", [(1,), (2,)])
    catalog.sql("DELETE FROM t4 WHERE id NOT IN (SELECT k FROM k4)")
    # 3,4 deleted (non-null, unmatched); NULL id survives (NULL NOT IN
    # <non-empty> is NULL); 1,2 survive (matched -> FALSE)
    assert _ids(catalog, "t4") == [-999, 1, 2]


def test_delete_not_in_empty_subquery_deletes_all(spark, catalog):
    _mk_target(spark, catalog, "t5")
    catalog.create_table("k5", "k BIGINT")  # empty
    # NOT IN (empty) is TRUE for every row — even a NULL probe key
    catalog.sql("DELETE FROM t5 WHERE id NOT IN (SELECT k FROM k5)")
    assert _ids(catalog, "t5") == []


def test_delete_multi_column_in_subquery(spark, catalog):
    _mk_target(spark, catalog, "t6")
    _mk_keys(
        spark, catalog, "k6",
        [(1, "a"), (3, "a"), (4, "b")],
        ddl="k BIGINT, g STRING",
    )
    catalog.sql("DELETE FROM t6 WHERE (id, grp) IN (SELECT k, g FROM k6)")
    # (1,a) and (4,b) match; (3,a) doesn't (3 is grp b); NULL id survives
    assert _ids(catalog, "t6") == [-999, 2, 3]


def test_delete_multi_column_not_in_partial_nulls(spark, catalog):
    """Multi-column NOT IN three-valued semantics (code-review r12):
    tuple equality is FALSE as soon as any non-null pair differs, so a
    NULL in the subquery does NOT make the predicate never-true, and a
    partially-NULL target key can still be definitely unequal."""
    _mk_target(spark, catalog, "mc1")
    _mk_keys(
        spark, catalog, "mc1k",
        [(1, "a"), (None, "b")],
        ddl="k BIGINT, g STRING",
    )
    catalog.sql("DELETE FROM mc1 WHERE (id, grp) NOT IN (SELECT k, g FROM mc1k)")
    # (1,a) matches (1,a) -> FALSE for NOT IN -> keep
    # (2,a): unequal to both (grp 'a'!='b' decides the NULL row) -> delete
    # (3,b)/(4,b): vs (NULL,b) the comparison is NULL -> keep
    # (NULL,a): vs (1,a) comparison is NULL -> keep
    assert _ids(catalog, "mc1") == [-999, 1, 3, 4]


def test_delete_multi_column_not_in_null_key_can_delete(spark, catalog):
    """A NULL-keyed target row IS deleted when every subquery tuple is
    definitely unequal on some other column."""
    _mk_target(spark, catalog, "mc2")
    _mk_keys(
        spark, catalog, "mc2k", [(7, "z")], ddl="k BIGINT, g STRING"
    )
    catalog.sql("DELETE FROM mc2 WHERE (id, grp) NOT IN (SELECT k, g FROM mc2k)")
    # every row (incl. the NULL id one, via grp != 'z') is definitely
    # unequal to (7,'z') -> all deleted
    assert _ids(catalog, "mc2") == []


def test_delete_scalar_subquery_decimal(spark, catalog):
    """A DECIMAL scalar folds into the strict atom as float instead of
    crashing the stats evaluator via str() (code-review r12)."""
    from decimal import Decimal

    t = catalog.create_table("dct", "id BIGINT, price DECIMAL(10,2)")
    t.append(
        frame(spark, 
            [(1, Decimal("10.00")), (2, Decimal("20.00")), (3, Decimal("30.00"))],
            "id BIGINT, price DECIMAL(10,2)",
        )
    )
    catalog.sql("DELETE FROM dct WHERE price <= (SELECT min(price) + 5 FROM dct)")
    got = sorted(r.id for r in catalog.load_table("dct").to_df().collect())
    assert got == [2, 3]


def test_decimal_column_bounds_prune(spark, catalog):
    """Decimal footer stats are recovered from the RAW unscaled ints
    (pyarrow cannot cast them), so decimal columns PRUNE instead of
    merely not crashing (code-review r12 follow-up)."""
    from decimal import Decimal

    from iceberg_geo_poc_spark.table import E

    t = catalog.create_table("decp", "id BIGINT, price DECIMAL(10,2)")
    lo = [(i, Decimal(f"{i}.25")) for i in range(1, 6)]
    hi = [(i, Decimal(f"{i}.75")) for i in range(100, 106)]
    t.append(
        frame(spark, lo, "id BIGINT, price DECIMAL(10,2)").coalesce(1)
    )
    t.append(
        frame(spark, hi, "id BIGINT, price DECIMAL(10,2)").coalesce(1)
    )
    scan = t.scan(where=E.ge("price", 50.0))
    assert scan.total_data_files() == 2
    assert len(scan.files()) == 1, "decimal bounds did not prune"
    got = sorted(r.id for r in scan.to_df().collect())
    assert got == [100, 101, 102, 103, 104, 105]


def test_delete_exists_with_group_by_tail(spark, catalog):
    """GROUP BY after the correlated WHERE stays attached to the
    rebuilt subquery instead of being parsed as a conjunct."""
    _mk_target(spark, catalog, "eg1")
    _mk_keys(spark, catalog, "eg1k", [(2,), (2,), (4,)])
    catalog.sql(
        "DELETE FROM eg1 t WHERE EXISTS "
        "(SELECT 1 FROM eg1k s WHERE t.id = s.k GROUP BY s.k)"
    )
    assert _ids(catalog, "eg1") == [-999, 1, 3]


def test_delete_correlated_between_keeps_qualifier(spark, catalog):
    """t.v BETWEEN inside a correlated EXISTS must keep its alias: a
    dropped qualifier would silently rebind to the inner relation
    (code-review r12) — here it is correctly rejected as non-equality
    correlation rather than mis-executed."""
    _mk_target(spark, catalog, "bq1")
    _mk_keys(spark, catalog, "bq1k", [(1,)])
    with pytest.raises(SqlError, match="only equality correlation"):
        catalog.sql(
            "DELETE FROM bq1 t WHERE EXISTS "
            "(SELECT 1 FROM bq1k s WHERE t.id = s.k AND t.v BETWEEN 1 AND 5)"
        )


def test_delete_subquery_under_or_rejected(spark, catalog):
    _mk_target(spark, catalog, "t7")
    _mk_keys(spark, catalog, "k7", [(1,)])
    with pytest.raises(SqlError, match="OR around a subquery"):
        catalog.sql(
            "DELETE FROM t7 WHERE id IN (SELECT k FROM k7) OR grp = 'b'"
        )


def test_delete_in_subquery_of_engine_select(spark, catalog):
    """Inner SELECT with its own WHERE over an engine table."""
    _mk_target(spark, catalog, "t8")
    _mk_keys(spark, catalog, "k8", [(1,), (2,), (3,), (4,)])
    catalog.sql("DELETE FROM t8 WHERE id IN (SELECT k FROM k8 WHERE k >= 3)")
    assert _ids(catalog, "t8") == [-999, 1, 2]


@pytest.mark.parametrize("mode", [None, "merge-on-read"])
def test_update_in_subquery(spark, catalog, mode):
    name = f"u1{mode or 'cow'}".replace("-", "")
    _mk_target(spark, catalog, name, mode)
    _mk_keys(spark, catalog, f"{name}_k", [(2,), (4,)])
    catalog.sql(
        f"UPDATE {name} SET v = v * 10 WHERE id IN (SELECT k FROM {name}_k)"
    )
    got = {
        (r.id if r.id is not None else -999): r.v
        for r in catalog.load_table(name).to_df().collect()
    }
    assert got == {1: 10.0, 2: 200.0, 3: 30.0, 4: 400.0, -999: 50.0}


def test_update_not_in_subquery_null_is_noop(spark, catalog):
    _mk_target(spark, catalog, "u2")
    _mk_keys(spark, catalog, "u2k", [(None,)])
    catalog.sql("UPDATE u2 SET v = 0 WHERE id NOT IN (SELECT k FROM u2k)")
    vals = sorted(r.v for r in catalog.load_table("u2").to_df().collect())
    assert vals == [10.0, 20.0, 30.0, 40.0, 50.0]


def test_update_not_in_subquery_with_conjunct(spark, catalog):
    _mk_target(spark, catalog, "u3")
    _mk_keys(spark, catalog, "u3k", [(1,), (3,)])
    catalog.sql(
        "UPDATE u3 SET v = -1 WHERE grp = 'b' AND id NOT IN (SELECT k FROM u3k)"
    )
    got = {
        (r.id if r.id is not None else -999): r.v
        for r in catalog.load_table("u3").to_df().collect()
    }
    # only (4,'b') is grp b AND not in {1,3}; 3 is in the list, NULL id
    # is grp a
    assert got == {1: 10.0, 2: 20.0, 3: 30.0, 4: -1.0, -999: 50.0}


def test_update_preserves_row_lineage(spark, catalog):
    """Subquery UPDATE keeps _row_id (it is an UPDATE, not delete+insert)."""
    t = _mk_target(spark, catalog, "u4")
    before = {
        r.id: r._row_id
        for r in t.to_df(lineage=True).collect()
        if r.id is not None
    }
    _mk_keys(spark, catalog, "u4k", [(2,)])
    catalog.sql("UPDATE u4 SET v = 99 WHERE id IN (SELECT k FROM u4k)")
    after = {
        r.id: r._row_id
        for r in catalog.load_table("u4").to_df(lineage=True).collect()
        if r.id is not None
    }
    assert after == before


def test_merge_with_schema_evolution(spark, catalog):
    t = catalog.create_table("m1", "id BIGINT, v DOUBLE")
    t.append(
        frame(spark, 
            [(1, 10.0), (2, 20.0), (3, 30.0)], "id BIGINT, v DOUBLE"
        )
    )
    frame(spark, 
        [(2, 200.0, "hot"), (9, 900.0, "new")],
        "id BIGINT, v DOUBLE, tag STRING",
    ).createOrReplaceTempView("m1_src")
    catalog.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO m1 t USING m1_src s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    t2 = catalog.load_table("m1")
    assert t2.columns() == ["id", "v", "tag"]
    got = {r.id: (r.v, r.tag) for r in t2.to_df().collect()}
    # matched row takes the new column, untouched rows read NULL from
    # their pre-evolution files, inserted row carries it
    assert got == {
        1: (10.0, None),
        2: (200.0, "hot"),
        3: (30.0, None),
        9: (900.0, "new"),
    }


def test_merge_without_evolution_still_rejects_extra_source_cols(
    spark, catalog
):
    """Plain MERGE does NOT silently evolve: INSERT * with an unknown
    source column must not add it to the target schema."""
    t = catalog.create_table("m2", "id BIGINT, v DOUBLE")
    t.append(frame(spark, [(1, 10.0)], "id BIGINT, v DOUBLE"))
    frame(spark, 
        [(5, 50.0, "x")], "id BIGINT, v DOUBLE, tag STRING"
    ).createOrReplaceTempView("m2_src")
    catalog.sql(
        "MERGE INTO m2 t USING m2_src s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert catalog.load_table("m2").columns() == ["id", "v"]


def test_merge_set_star_assigns_source_col_named_like_key(spark, catalog):
    """UPDATE SET * with differently-named ON keys (t.id == s.value): a
    source column that happens to be named 'id' IS assigned (reference
    SET * expansion; ADVICE r11 — only same-named keys are excluded)."""
    t = catalog.create_table("m3", "id BIGINT, b STRING")
    t.append(
        frame(spark, [(1, "x"), (2, "y")], "id BIGINT, b STRING")
    )
    frame(spark, 
        [(1, 100, "s1")], "value BIGINT, id BIGINT, b STRING"
    ).createOrReplaceTempView("m3_src")
    catalog.sql(
        "MERGE INTO m3 t USING m3_src s ON t.id = s.value "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    got = sorted(
        (r.id, r.b) for r in catalog.load_table("m3").to_df().collect()
    )
    assert got == [(2, "y"), (100, "s1")]


def test_delete_exists_correlated(spark, catalog):
    """EXISTS with equality correlation (testDeleteWithExistSubquery)."""
    _mk_target(spark, catalog, "e1")
    _mk_keys(spark, catalog, "e1k", [(2,), (4,), (88,)])
    catalog.sql(
        "DELETE FROM e1 t WHERE EXISTS "
        "(SELECT 1 FROM e1k s WHERE t.id = s.k)"
    )
    # 2,4 deleted; NULL id: EXISTS over an empty correlation is FALSE
    assert _ids(catalog, "e1") == [-999, 1, 3]


def test_delete_not_exists_correlated_with_local_filter(spark, catalog):
    _mk_target(spark, catalog, "e2")
    _mk_keys(spark, catalog, "e2k", [(1,), (2,), (3,)])
    catalog.sql(
        "DELETE FROM e2 t WHERE NOT EXISTS "
        "(SELECT 1 FROM e2k s WHERE t.id = s.k AND s.k < 3)"
    )
    # survivors: ids with a matching k<3 (1,2); 3 matches only k=3
    # (filtered out), 4 matches nothing, NULL id equates to nothing ->
    # NOT EXISTS is TRUE -> deleted
    assert _ids(catalog, "e2") == [1, 2]


def test_delete_exists_uncorrelated(spark, catalog):
    _mk_target(spark, catalog, "e3")
    catalog.create_table("e3k", "k BIGINT")  # empty
    catalog.sql("DELETE FROM e3 WHERE EXISTS (SELECT 1 FROM e3k)")
    assert _ids(catalog, "e3") == [-999, 1, 2, 3, 4]  # no-op
    _mk_keys(spark, catalog, "e3k2", [(7,)])
    catalog.sql("DELETE FROM e3 WHERE EXISTS (SELECT 1 FROM e3k2)")
    assert _ids(catalog, "e3") == []  # always-true


def test_delete_scalar_subquery(spark, catalog):
    """Scalar subquery folds to a strict atom (and prunes files)."""
    _mk_target(spark, catalog, "s1")
    catalog.sql("DELETE FROM s1 WHERE v <= (SELECT min(v) + 10.0 FROM s1)")
    # min(v)=10 -> threshold 20: rows v=10,20 deleted; NULL id row has
    # v=50, survives
    assert _ids(catalog, "s1") == [-999, 3, 4]


def test_delete_scalar_subquery_null_is_noop(spark, catalog):
    _mk_target(spark, catalog, "s2")
    catalog.create_table("s2k", "k BIGINT")  # empty -> min() is NULL
    catalog.sql("DELETE FROM s2 WHERE id <= (SELECT min(k) FROM s2k)")
    assert _ids(catalog, "s2") == [-999, 1, 2, 3, 4]


def test_update_exists_correlated(spark, catalog):
    _mk_target(spark, catalog, "e4")
    _mk_keys(spark, catalog, "e4k", [(1,), (3,)])
    catalog.sql(
        "UPDATE e4 t SET v = -5 WHERE EXISTS "
        "(SELECT 1 FROM e4k s WHERE t.id = s.k)"
    )
    got = {
        (r.id if r.id is not None else -999): r.v
        for r in catalog.load_table("e4").to_df().collect()
    }
    assert got == {1: -5.0, 2: 20.0, 3: -5.0, 4: 40.0, -999: 50.0}


def test_single_column_not_in_plans_hash_anti_join(spark, catalog):
    """The probe decomposition exists to keep single-column NOT IN a
    HASH anti join — the naive null-aware condition degrades to a
    nested-loop join (the 100 TB trap).  Assert the plan shape."""
    _mk_target(spark, catalog, "pl1")
    _mk_keys(spark, catalog, "pl1k", [(1,), (2,)])
    from iceberg_geo_poc_spark.table.sql import _subquery_predicate

    t = catalog.load_table("pl1")
    match, _prune = _subquery_predicate(
        catalog, t, "id NOT IN (SELECT k FROM pl1k)"
    )
    plan = (
        match(t.to_df())
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_array_lit_escapes_quotes(spark):
    """A stopword containing a single quote must produce valid SQL
    (ADVICE r11: operators/text.py::_array_lit)."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.operators.text import _array_lit

    lit = _array_lit(["d'une", "the", "back\\slash'"])
    row = (
        spark.range(1)
        .select(F.expr(f"array_contains({lit}, \"d'une\")").alias("hit"))
        .collect()[0]
    )
    assert row.hit is True


def test_sql_merge_follows_merge_mode(spark, catalog):
    """SQL MERGE reads write.merge.mode, as DELETE and UPDATE read theirs:
    under merge-on-read the matched row becomes a position delete."""
    t = catalog.create_table(
        "mmode", "id BIGINT, v STRING",
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(frame(spark, [(1, "a"), (2, "b"), (3, "c")], "id BIGINT, v STRING"))
    frame(spark, [(2, "B"), (4, "D")], "id BIGINT, v STRING").createOrReplaceTempView(
        "mmode_src"
    )
    catalog.sql(
        "MERGE INTO mmode t USING mmode_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"
    )
    t = catalog.load_table("mmode")
    ent = t._entries()
    assert int((ent.content == "posdel").sum()) == 1
    assert sorted((r.id, r.v) for r in t.to_df().collect()) == [
        (1, "a"), (2, "B"), (3, "c"), (4, "D")
    ]
