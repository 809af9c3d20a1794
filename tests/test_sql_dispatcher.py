"""engine.sql(): CALL / ALTER TABLE / MERGE INTO text forms must produce
the same state changes as the equivalent Python API calls (reference
grammar IcebergSqlExtensions.g4:68-83)."""

from __future__ import annotations

import pandas as pd
import pytest

from iceberg_geo_poc_spark.table import Catalog, E
from iceberg_geo_poc_spark.table.sql import SqlError


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(str(tmp_path / "wh"), spark)


def _mk(spark, catalog, name, n_appends=3, rows_per=10):
    """``n_appends`` one-file appends of ``rows_per`` rows (a, "r{a}").
    The frames come from pandas, which Spark converts through Arrow on
    the driver; a frame built from a list of tuples is a Python RDD,
    and writing it costs a Python worker round trip per append."""
    t = catalog.create_table(name, "a BIGINT, b STRING")
    base = 0
    for _ in range(n_appends):
        a = range(base, base + rows_per)
        t.append(
            spark.createDataFrame(
                pd.DataFrame({"a": a, "b": [f"r{i}" for i in a]}),
                "a BIGINT, b STRING",
            ).coalesce(1)
        )
        base += rows_per
    return t


def test_call_rewrite_data_files(spark, catalog):
    t = _mk(spark, catalog, "c1")
    res = catalog.sql(
        "CALL system.rewrite_data_files(table => 'c1', target_file_size => 1048576)"
    )
    assert res.rewritten_files == 3 and res.added_files == 1
    assert catalog.load_table("c1").scan().total_data_files() == 1


def test_call_rewrite_with_sort_order(spark, catalog):
    _mk(spark, catalog, "c2")
    res = catalog.sql("CALL system.rewrite_data_files('c2', 'sort', 'a ASC')")
    assert res.rewritten_files == 3
    got = sorted(r.a for r in catalog.load_table("c2").to_df().collect())
    assert got == list(range(30))


def test_call_rewrite_sort_order_keeps_direction(spark, catalog):
    import pyarrow.parquet as pq

    _mk(spark, catalog, "c2d")
    catalog.sql("CALL system.rewrite_data_files('c2d', 'sort', 'a DESC NULLS LAST')")
    for path in catalog.load_table("c2d")._entries().file_path:
        ids = pq.read_table(path, columns=["a"])["a"].to_pylist()
        assert ids == sorted(ids, reverse=True)
    with pytest.raises(SqlError, match="unknown sort modifier"):
        catalog.sql("CALL system.rewrite_data_files('c2d', 'sort', 'a SIDEWAYS')")


def test_call_expire_and_rollback(spark, catalog):
    t = _mk(spark, catalog, "c3")
    snaps = t.snapshots()
    catalog.sql(f"CALL system.rollback_to_snapshot('c3', {snaps[0].snapshot_id})")
    assert catalog.load_table("c3").to_df().count() == 10
    catalog.sql(f"CALL system.set_current_snapshot('c3', {snaps[-1].snapshot_id})")
    assert catalog.load_table("c3").to_df().count() == 30
    stats = catalog.sql("CALL system.expire_snapshots('c3', retain_last => 1)")
    assert stats["expired"] == 2


def test_call_ancestors_and_snapshot_clone(spark, catalog):
    _mk(spark, catalog, "c4")
    anc = catalog.sql("CALL system.ancestors_of('c4')")
    assert len(anc) == 3
    clone = catalog.sql("CALL system.snapshot(source_table => 'c4', table => 'c4c')")
    assert clone.meta.properties.get("gc.enabled") == "false"
    assert clone.to_df().count() == 30


def test_alter_partition_field_roundtrip(spark, catalog):
    _mk(spark, catalog, "a1")
    catalog.sql("ALTER TABLE a1 ADD PARTITION FIELD bucket(4, a)")
    t = catalog.load_table("a1")
    assert t.meta.partition_spec == [{"source": "a", "transform": "bucket[4]"}]
    catalog.sql("ALTER TABLE a1 ADD PARTITION FIELD b")
    t = catalog.load_table("a1")
    assert len(t.meta.partition_spec) == 2
    catalog.sql("ALTER TABLE a1 DROP PARTITION FIELD bucket(4, a)")
    t = catalog.load_table("a1")
    assert t.meta.partition_spec == [{"source": "b", "transform": "identity"}]


def test_alter_write_order_and_identifier_fields(spark, catalog):
    _mk(spark, catalog, "a2")
    catalog.sql("ALTER TABLE a2 WRITE DISTRIBUTED BY PARTITION ORDERED BY a")
    t = catalog.load_table("a2")
    assert t.meta.properties["write.distribution-mode"] == "hash"
    catalog.sql("ALTER TABLE a2 SET IDENTIFIER FIELDS a")
    t = catalog.load_table("a2")
    assert "identifier-fields" in t.meta.properties
    catalog.sql("ALTER TABLE a2 DROP IDENTIFIER FIELDS")
    assert "identifier-fields" not in catalog.load_table("a2").meta.properties


def test_alter_geometry_fields_and_tblproperties(spark, catalog):
    catalog.create_table("a3", "id BIGINT, geom BINARY")
    catalog.sql("ALTER TABLE a3 SET GEOMETRY FIELDS geom AS 'ewkb'")
    t = catalog.load_table("a3")
    assert t.meta.geo_fields == {"geom": "ewkb"}
    catalog.sql("ALTER TABLE a3 SET TBLPROPERTIES ('k1'='v1', 'k2'='v2')")
    t = catalog.load_table("a3")
    assert t.meta.properties["k1"] == "v1" and t.meta.properties["k2"] == "v2"
    catalog.sql("ALTER TABLE a3 UNSET TBLPROPERTIES ('k1')")
    assert "k1" not in catalog.load_table("a3").meta.properties


def test_alter_branch_tag(spark, catalog):
    t = _mk(spark, catalog, "a4")
    first = t.snapshots()[0].snapshot_id
    catalog.sql(f"ALTER TABLE a4 CREATE TAG v1 AS OF VERSION {first}")
    catalog.sql("ALTER TABLE a4 CREATE BRANCH dev")
    t = catalog.load_table("a4")
    v1 = t.meta.refs["v1"]
    assert v1["snapshot-id"] == first and v1["type"] == "tag"
    assert "created-at-ms" in v1
    assert t.meta.refs["dev"]["type"] == "branch"
    assert t.to_df(ref="v1").count() == 10


def test_merge_into_matches_api(spark, catalog):
    """Text MERGE produces the same table state as the API call."""
    for name in ("m_sql", "m_api"):
        t = catalog.create_table(name, "k BIGINT, v STRING")
        t.append(
            spark.createDataFrame(
                [(i, f"old{i}") for i in range(5)], "k BIGINT, v STRING"
            ).coalesce(1)
        )
    src = spark.createDataFrame(
        [(3, "new3"), (4, "new4"), (7, "new7")], "k BIGINT, v STRING"
    )
    src.createOrReplaceTempView("m_src")

    catalog.sql(
        "MERGE INTO m_sql t USING m_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    import pyspark.sql.functions as F

    catalog.load_table("m_api").merge(
        src, on=["k"], when_matched_update={"v": F.expr("s.v")}
    )
    got_sql = sorted(
        (r.k, r.v) for r in catalog.load_table("m_sql").to_df().collect()
    )
    got_api = sorted(
        (r.k, r.v) for r in catalog.load_table("m_api").to_df().collect()
    )
    assert got_sql == got_api
    assert got_sql == [
        (0, "old0"), (1, "old1"), (2, "old2"), (3, "new3"), (4, "new4"),
        (7, "new7"),
    ]


def test_wap_branch_row_level_dml(spark, catalog):
    """spark.wap.branch routes INSERT/DELETE/UPDATE to the branch
    (reference testDeleteToWapBranch family): main stays untouched
    until publish; the branch carries every staged change."""
    t = catalog.create_table("m_wap", "k BIGINT, v STRING")
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(5)], "k BIGINT, v STRING"
        ).coalesce(1)
    )
    catalog.sql("ALTER TABLE m_wap CREATE BRANCH wap1")
    spark.conf.set("spark.wap.branch", "wap1")
    try:
        catalog.sql("INSERT INTO m_wap VALUES (100, 'w')")
        catalog.sql("DELETE FROM m_wap WHERE k = 0")
        catalog.sql("UPDATE m_wap SET v = 'u' WHERE k = 1")
    finally:
        spark.conf.unset("spark.wap.branch")
    main = sorted(
        (r.k, r.v) for r in catalog.load_table("m_wap").to_df().collect()
    )
    assert main == [(i, f"r{i}") for i in range(5)], "main must be untouched"
    branch = sorted(
        (r.k, r.v)
        for r in catalog.load_table("m_wap").scan(ref="wap1").to_df().collect()
    )
    assert branch == [
        (1, "u"), (2, "r2"), (3, "r3"), (4, "r4"), (100, "w")
    ]


def test_wap_branch_mor_delete(spark, catalog):
    """Branch-scoped MoR delete: the position-delete row-delta commits
    on the branch; main reads see no delete layer."""
    t = catalog.create_table(
        "m_wapm", "k BIGINT, v STRING",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(4)], "k BIGINT, v STRING"
        ).coalesce(1)
    )
    catalog.sql("ALTER TABLE m_wapm CREATE BRANCH wap2")
    spark.conf.set("spark.wap.branch", "wap2")
    try:
        catalog.sql("DELETE FROM m_wapm WHERE k <= 1")
    finally:
        spark.conf.unset("spark.wap.branch")
    assert catalog.load_table("m_wapm").to_df().count() == 4
    got = sorted(
        r.k
        for r in catalog.load_table("m_wapm").scan(ref="wap2").to_df().collect()
    )
    assert got == [2, 3]


def test_wap_branch_merge(spark, catalog):
    """MERGE under spark.wap.branch: the whole clause algebra — match
    probing, pruning, insert anti-join — runs against the BRANCH head
    and the commit advances the branch (reference testMergeToWapBranch)."""
    t = catalog.create_table("m_wapmerge", "k BIGINT, v STRING")
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING"
        ).coalesce(1)
    )
    catalog.sql("ALTER TABLE m_wapmerge CREATE BRANCH wap3")
    spark.createDataFrame(
        [(2, "B"), (9, "I")], "k BIGINT, v STRING"
    ).createOrReplaceTempView("m_wapmerge_src")
    spark.conf.set("spark.wap.branch", "wap3")
    try:
        catalog.sql(
            "MERGE INTO m_wapmerge t USING m_wapmerge_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    finally:
        spark.conf.unset("spark.wap.branch")
    main = sorted(
        (r.k, r.v) for r in catalog.load_table("m_wapmerge").to_df().collect()
    )
    assert main == [(1, "a"), (2, "b"), (3, "c")], "main must be untouched"
    branch = sorted(
        (r.k, r.v)
        for r in catalog.load_table("m_wapmerge")
        .scan(ref="wap3")
        .to_df()
        .collect()
    )
    assert branch == [(1, "a"), (2, "B"), (3, "c"), (9, "I")]


def test_wap_branch_auto_creates_on_first_write(spark, catalog):
    """Round-13 (ADVICE r12): the reference never pre-creates the WAP
    branch — the first write under spark.wap.branch creates it from the
    current snapshot (TestDelete.testDeleteToWapBranch).  Explicit
    to_branch= on the API keeps failing loudly for missing branches."""
    t = catalog.create_table("m_wapx", "k BIGINT, v STRING")
    t.append(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"))
    spark.conf.set("spark.wap.branch", "nope")
    try:
        catalog.sql("DELETE FROM m_wapx WHERE k = 1")
        t = catalog.load_table("m_wapx")
        assert t.meta.refs["nope"]["type"] == "branch"
        assert t.scan(ref="nope").to_df().count() == 0
    finally:
        spark.conf.unset("spark.wap.branch")
    assert t.to_df().count() == 1  # main untouched
    # API-level to_branch still requires an existing branch
    from iceberg_geo_poc_spark.table import E

    with pytest.raises(KeyError, match="branch 'absent' not found"):
        t.delete(E.eq("k", 1), to_branch="absent")


def test_merge_with_source_cte(spark, catalog):
    """WITH cte AS (...) MERGE INTO ... (reference
    testMergeWithSourceCTE): the CTE registers as a temp view and the
    MERGE runs against it."""
    t = catalog.create_table("mcte", "id BIGINT, dep STRING")
    t.append(
        spark.createDataFrame(
            [(2, "emp-id-two"), (6, "emp-id-6")], "id BIGINT, dep STRING"
        )
    )
    spark.createDataFrame(
        [(2, "emp-id-3"), (1, "emp-id-2"), (5, "emp-id-6")],
        "id BIGINT, dep STRING",
    ).createOrReplaceTempView("mcte_src")
    catalog.sql(
        "WITH cte1 AS (SELECT id + 1 AS id, dep FROM mcte_src) "
        "MERGE INTO mcte AS t USING cte1 AS s "
        "ON t.id = s.id "
        "WHEN MATCHED AND t.id = 2 THEN UPDATE SET * "
        "WHEN MATCHED AND t.id = 6 THEN DELETE "
        "WHEN NOT MATCHED AND s.id = 3 THEN INSERT *"
    )
    got = sorted(
        (r.id, r.dep) for r in catalog.load_table("mcte").to_df().collect()
    )
    assert got == [(2, "emp-id-2"), (3, "emp-id-3")]


def test_self_merge(spark, catalog):
    """MERGE INTO t USING t (reference testSelfMerge): the source plan
    pins the pre-merge snapshot."""
    t = catalog.create_table("selfm", "id BIGINT, v STRING")
    t.append(
        spark.createDataFrame([(1, "v1"), (2, "v2")], "id BIGINT, v STRING")
    )
    catalog.sql(
        "MERGE INTO selfm t USING selfm s ON t.id = s.id "
        "WHEN MATCHED AND t.id = 1 THEN UPDATE SET v = 'x' "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = sorted(
        (r.id, r.v) for r in catalog.load_table("selfm").to_df().collect()
    )
    assert got == [(1, "x"), (2, "v2")]


def test_merge_with_inline_subquery_source(spark, catalog):
    """USING (SELECT ...) alias — the inline-subquery source form."""
    t = catalog.create_table("minl", "id BIGINT, v STRING")
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id BIGINT, v STRING")
    )
    spark.createDataFrame(
        [(1, "A"), (3, "C")], "id BIGINT, v STRING"
    ).createOrReplaceTempView("minl_src")
    catalog.sql(
        "MERGE INTO minl t USING (SELECT id, upper(v) AS v FROM minl_src) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = sorted(
        (r.id, r.v) for r in catalog.load_table("minl").to_df().collect()
    )
    assert got == [(1, "A"), (2, "b"), (3, "C")]


def test_merge_rejects_subqueries_in_conditions(spark, catalog):
    """Reference parity (testMergeWithSubqueriesInConditions): Spark's
    MERGE rejects subqueries in the ON condition and in WHEN clauses."""
    t = catalog.create_table("mrej", "id BIGINT, v STRING")
    t.append(spark.createDataFrame([(1, "a")], "id BIGINT, v STRING"))
    spark.createDataFrame(
        [(1, "A")], "id BIGINT, v STRING"
    ).createOrReplaceTempView("mrej_src")
    with pytest.raises(SqlError, match="SEARCH condition"):
        catalog.sql(
            "MERGE INTO mrej t USING mrej_src s "
            "ON t.id = s.id AND t.id < (SELECT max(id) FROM mrej_src) "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    with pytest.raises(SqlError, match="subqueries are not allowed"):
        catalog.sql(
            "MERGE INTO mrej t USING mrej_src s ON t.id = s.id "
            "WHEN MATCHED AND t.id NOT IN (SELECT id FROM mrej_src) THEN DELETE"
        )


def test_merge_into_delete_clause(spark, catalog):
    t = catalog.create_table("m_del", "k BIGINT, v STRING")
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(5)], "k BIGINT, v STRING"
        ).coalesce(1)
    )
    spark.createDataFrame([(1,), (3,)], "k BIGINT").createOrReplaceTempView(
        "m_del_src"
    )
    catalog.sql(
        "MERGE INTO m_del t USING m_del_src s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE"
    )
    assert sorted(r.k for r in catalog.load_table("m_del").to_df().collect()) == [
        0, 2, 4,
    ]


def test_merge_into_not_matched_by_source(spark, catalog):
    """WHEN NOT MATCHED BY SOURCE UPDATE/DELETE parse and act on target
    rows absent from the source; NOT MATCHED BY TARGET aliases the
    insert form (Spark 3.5 MERGE surface)."""
    t = catalog.create_table("m_bs", "k BIGINT, v STRING, n BIGINT")
    t.append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "k BIGINT, v STRING, n BIGINT",
        ).coalesce(1)
    )
    spark.createDataFrame(
        [(1, "U", 99), (7, "I", 70)], "k BIGINT, op STRING, n BIGINT"
    ).createOrReplaceTempView("m_bs_src")
    catalog.sql(
        "MERGE INTO m_bs t USING m_bs_src s ON t.k = s.k "
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET n = s.n "
        "WHEN NOT MATCHED BY SOURCE AND t.n >= 30 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'orphan' "
        "WHEN NOT MATCHED BY TARGET THEN INSERT *"
    )
    got = {
        r.k: (r.v, r.n) for r in catalog.load_table("m_bs").to_df().collect()
    }
    assert got == {
        1: ("a", 99),
        2: ("orphan", 20),
        7: (None, 70),
    }, got


def test_merge_update_set_star(spark, catalog):
    """UPDATE SET * assigns every shared non-key column from the source
    (reference TestMerge.java:110); by-source SET * is refused (no
    source row exists for those targets)."""
    t = catalog.create_table("m_star", "k BIGINT, v STRING, n BIGINT")
    t.append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k BIGINT, v STRING, n BIGINT"
        ).coalesce(1)
    )
    spark.createDataFrame(
        [(1, "A", 11), (9, "I", 90)], "k BIGINT, v STRING, n BIGINT"
    ).createOrReplaceTempView("m_star_src")
    catalog.sql(
        "MERGE INTO m_star t USING m_star_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {
        r.k: (r.v, r.n) for r in catalog.load_table("m_star").to_df().collect()
    }
    assert got == {1: ("A", 11), 2: ("b", 20), 9: ("I", 90)}, got
    from iceberg_geo_poc_spark.table.sql import SqlError

    with pytest.raises(SqlError, match="BY SOURCE"):
        catalog.sql(
            "MERGE INTO m_star t USING m_star_src s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
        )


def test_merge_differently_named_keys_and_insert_values(spark, catalog):
    """ON t.id == s.value (reference TestMerge's by-source tests join on
    differently-named columns) and the INSERT (cols) VALUES (exprs)
    form — the reference's dominant insert spelling."""
    t = catalog.create_table("m_keys", "id BIGINT, dep STRING")
    t.append(
        spark.createDataFrame(
            [(1, "emp-1"), (2, "emp-2"), (3, "emp-3"), (4, "emp-4")],
            "id BIGINT, dep STRING",
        ).coalesce(1)
    )
    spark.createDataFrame(
        [(1,), (4,), (9,)], "value BIGINT"
    ).createOrReplaceTempView("m_keys_src")
    catalog.sql(
        "MERGE INTO m_keys t USING m_keys_src s ON t.id == s.value "
        "WHEN MATCHED AND t.id = 1 THEN UPDATE SET dep = 'updated' "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT (id, dep) VALUES (s.value, 'invalid')"
    )
    got = {r.id: r.dep for r in catalog.load_table("m_keys").to_df().collect()}
    assert got == {1: "updated", 4: "emp-4", 9: "invalid"}, got


def test_merge_insert_values_typed_and_gated(spark, catalog):
    """INSERT VALUES casts to the target schema, fills unlisted columns
    with typed NULLs, and composes with the NOT MATCHED condition."""
    import pyspark.sql.functions as F

    t = catalog.create_table("m_vals", "k BIGINT, v STRING, n BIGINT")
    t.append(
        spark.createDataFrame([(1, "a", 10)], "k BIGINT, v STRING, n BIGINT")
        .coalesce(1)
    )
    src = spark.createDataFrame(
        [(1, 5), (7, 70), (8, -1)], "k BIGINT, m BIGINT"
    )
    t.merge(
        src,
        on=["k"],
        matched_clauses=[],
        when_not_matched_insert=True,
        when_not_matched_condition="s.m > 0",
        when_not_matched_insert_values={
            "k": F.col("s.k"),
            "n": F.col("s.m") * 2,
        },
    )
    got = {r.k: (r.v, r.n) for r in t.to_df().collect()}
    assert got == {1: ("a", 10), 7: (None, 140)}, got


def test_merge_multiple_not_matched_clauses(spark, catalog):
    """Ordered multi-clause NOT MATCHED inserts (reference
    testMergeWithMultipleNotMatchedActions / ...Conditional...): the
    first clause whose condition holds wins per unmatched source row;
    rows electing no clause drop."""
    t = catalog.create_table("m_multi", "id BIGINT, dep STRING")
    t.append(
        spark.createDataFrame([(0, "emp-id-0")], "id BIGINT, dep STRING")
        .coalesce(1)
    )
    spark.createDataFrame(
        [(1, "emp-id-1"), (2, "emp-id-2"), (3, "emp-id-3")],
        "id BIGINT, dep STRING",
    ).createOrReplaceTempView("m_multi_src")
    catalog.sql(
        "MERGE INTO m_multi t USING m_multi_src s ON t.id == s.id "
        "WHEN NOT MATCHED AND s.id = 1 THEN "
        "  INSERT (dep, id) VALUES (s.dep, -1) "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = sorted((r.id, r.dep) for r in catalog.load_table("m_multi").to_df().collect())
    assert got == [
        (-1, "emp-id-1"), (0, "emp-id-0"), (2, "emp-id-2"), (3, "emp-id-3"),
    ], got
    # conditional-only: rows matching no insert clause drop
    t2 = catalog.create_table("m_multi2", "id BIGINT, dep STRING")
    t2.append(
        spark.createDataFrame([(0, "emp-id-0")], "id BIGINT, dep STRING")
        .coalesce(1)
    )
    catalog.sql(
        "MERGE INTO m_multi2 t USING m_multi_src s ON t.id == s.id "
        "WHEN NOT MATCHED AND s.id = 1 THEN "
        "  INSERT (dep, id) VALUES (s.dep, -1) "
        "WHEN NOT MATCHED AND s.id = 2 THEN INSERT *"
    )
    got2 = sorted(
        (r.id, r.dep) for r in catalog.load_table("m_multi2").to_df().collect()
    )
    assert got2 == [(-1, "emp-id-1"), (0, "emp-id-0"), (2, "emp-id-2")], got2


def test_unsupported_statements_raise(spark, catalog):
    _mk(spark, catalog, "u1", n_appends=1)
    with pytest.raises(SqlError, match="unsupported statement"):
        catalog.sql("DROP ROLE admin")
    with pytest.raises(SqlError, match="unknown procedure"):
        catalog.sql("CALL system.nope('u1')")
    with pytest.raises(SqlError, match="unsupported ALTER"):
        catalog.sql("ALTER TABLE u1 FROBNICATE")


def test_hilbert_partition_term_argument_count():
    """hilbert(col[, res]) or hilbert(col, minx, miny, maxx, maxy, res);
    any other argument count is refused, not read as hilbert[res]."""
    from iceberg_geo_poc_spark.table.sql import _partition_term

    assert _partition_term("hilbert(geom)") == ("geom", "hilbert[10]")
    assert _partition_term("hilbert(geom, 12)") == ("geom", "hilbert[12]")
    assert _partition_term("hilbert(geom, 0, 0, 100, 50, 8)") == (
        "geom",
        "hilbert[8,0,0,100,50]",
    )
    for term in ("hilbert(geom, 12, 0, 0)", "hilbert(geom, 0, 0, 100, 50)"):
        with pytest.raises(SqlError, match="hilbert"):
            _partition_term(term)


def test_replace_partition_field(spark, catalog):
    catalog.create_table("rpf", "k BIGINT, ts TIMESTAMP")
    catalog.sql("ALTER TABLE rpf ADD PARTITION FIELD days(ts)")
    catalog.sql("ALTER TABLE rpf REPLACE PARTITION FIELD days(ts) WITH months(ts)")
    spec = catalog.load_table("rpf").meta.partition_spec
    assert [(f["source"], f["transform"]) for f in spec] == [("ts", "month")]
    with pytest.raises(KeyError):
        catalog.sql("ALTER TABLE rpf REPLACE PARTITION FIELD days(ts) WITH years(ts)")


def test_drop_branch_and_tag(spark, catalog):
    t = _mk(spark, catalog, "dbr", n_appends=1)
    catalog.sql("ALTER TABLE dbr CREATE BRANCH audit")
    catalog.sql("ALTER TABLE dbr CREATE TAG v1")
    meta = catalog.load_table("dbr").meta
    assert "audit" in meta.refs and "v1" in meta.refs
    catalog.sql("ALTER TABLE dbr DROP BRANCH audit")
    catalog.sql("ALTER TABLE dbr DROP TAG v1")
    meta = catalog.load_table("dbr").meta
    assert "audit" not in meta.refs and "v1" not in meta.refs
    with pytest.raises(KeyError):
        catalog.sql("ALTER TABLE dbr DROP BRANCH audit")
    with pytest.raises(ValueError):
        catalog.drop_ref("dbr", "main", kind="branch")


# -- SELECT over engine tables ----------------------------------------------
#
# The reference gets SELECT + time travel + metadata tables through its
# DSv2 catalog (SparkCatalog.java / SparkTable.java); the dispatcher
# resolves engine-table references itself and delegates the relational
# plan to spark.sql.


def test_select_basic_and_aggregate(spark, catalog):
    _mk(spark, catalog, "s1")
    rows = catalog.sql("SELECT count(*) AS n FROM s1").collect()
    assert rows[0].n == 30
    rows = catalog.sql(
        "SELECT a, b FROM s1 WHERE a >= 28 ORDER BY a"
    ).collect()
    assert [(r.a, r.b) for r in rows] == [(28, "r28"), (29, "r29")]


def test_select_where_prunes_files(spark, catalog):
    t = _mk(spark, catalog, "s2")  # 3 files of 10 rows: a in [0,30)
    # the dispatcher's conjunct extraction must reach the manifest:
    # a >= 25 selects exactly the third file
    from iceberg_geo_poc_spark.table.sql import _extract_prune_expr

    pruned = _extract_prune_expr(t, "SELECT b FROM s2 WHERE a >= 25 AND b LIKE 'r%'")
    assert pruned is not None
    assert len(t.scan(where=pruned).files()) == 1
    rows = catalog.sql("SELECT count(*) AS n FROM s2 WHERE a >= 25").collect()
    assert rows[0].n == 5
    # OR at the top level disables pruning but never correctness
    rows = catalog.sql(
        "SELECT count(*) AS n FROM s2 WHERE a >= 25 OR a < 3"
    ).collect()
    assert rows[0].n == 8
    # BETWEEN survives the AND split via pre-rewrite
    pruned = _extract_prune_expr(t, "SELECT b FROM s2 WHERE a BETWEEN 12 AND 14")
    assert pruned is not None and len(t.scan(where=pruned).files()) == 1


def test_select_time_travel_version_and_ref(spark, catalog):
    t = _mk(spark, catalog, "s3")
    first = t.snapshots()[0].snapshot_id
    assert (
        catalog.sql(f"SELECT count(*) AS n FROM s3 VERSION AS OF {first}")
        .collect()[0].n == 10
    )
    assert (
        catalog.sql(
            f"SELECT count(*) AS n FROM s3 FOR SYSTEM_VERSION AS OF {first}"
        ).collect()[0].n == 10
    )
    catalog.create_branch("s3", "audit", first)
    assert (
        catalog.sql("SELECT count(*) AS n FROM s3 VERSION AS OF 'audit'")
        .collect()[0].n == 10
    )
    ts_ms = t.snapshots()[0].timestamp_ms
    assert (
        catalog.sql(f"SELECT count(*) AS n FROM s3 TIMESTAMP AS OF {ts_ms}")
        .collect()[0].n == 10
    )


def test_select_metadata_tables(spark, catalog):
    t = _mk(spark, catalog, "s4")
    assert (
        catalog.sql("SELECT count(*) AS n FROM s4.snapshots").collect()[0].n == 3
    )
    rows = catalog.sql(
        "SELECT sum(record_count) AS rc FROM s4.data_files"
    ).collect()
    assert rows[0].rc == 30
    with pytest.raises(SqlError, match="unknown metadata table"):
        catalog.sql("SELECT * FROM s4.bogus")
    with pytest.raises(SqlError, match="time travel"):
        catalog.sql("SELECT * FROM s4.snapshots VERSION AS OF 1")


def test_select_join_and_cte(spark, catalog):
    _mk(spark, catalog, "s5")
    d = catalog.create_table("s5dim", "b STRING, lbl STRING")
    d.append(
        spark.createDataFrame([("r1", "one"), ("r2", "two")], "b STRING, lbl STRING")
    )
    rows = catalog.sql(
        "SELECT d.lbl, count(*) AS n FROM s5 e JOIN s5dim d ON e.b = d.b "
        "GROUP BY d.lbl ORDER BY d.lbl"
    ).collect()
    assert [(r.lbl, r.n) for r in rows] == [("one", 1), ("two", 1)]
    rows = catalog.sql(
        "WITH hi AS (SELECT * FROM s5 WHERE a >= 20) "
        "SELECT count(*) AS n FROM hi"
    ).collect()
    assert rows[0].n == 10


def test_select_respects_row_level_deletes(spark, catalog):
    t = _mk(spark, catalog, "s6", n_appends=1)
    t.delete(E.lt("a", 5), mode="merge-on-read")
    assert catalog.sql("SELECT count(*) AS n FROM s6").collect()[0].n == 5


def test_select_join_prunes_both_sides(spark, catalog, monkeypatch):
    """Multi-table SELECT: WHERE conjuncts are attributed per reference
    (by alias qualifier or unique column ownership) and prune each
    side's manifest — observed through Table.scan's where argument."""
    _mk(spark, catalog, "j1")  # files: a in [0,10), [10,20), [20,30)
    d = catalog.create_table("j1dim", "k BIGINT, lbl STRING")
    for lo in (0, 10, 20):
        d.append(
            spark.createDataFrame(
                [(i, f"L{i}") for i in range(lo, lo + 10)], "k BIGINT, lbl STRING"
            ).coalesce(1)
        )

    from iceberg_geo_poc_spark.table.table import Table

    seen = {}
    orig = Table.scan

    def spy(self, where=None, **kw):
        s = orig(self, where=where, **kw)
        seen[self.location.rsplit("/", 1)[-1]] = s
        return s

    monkeypatch.setattr(Table, "scan", spy)
    rows = catalog.sql(
        "SELECT e.a, d.lbl FROM j1 e JOIN j1dim d ON e.a = d.k "
        "WHERE e.a >= 20 AND d.k >= 25 ORDER BY e.a"
    ).collect()
    assert [r.a for r in rows] == [25, 26, 27, 28, 29]
    # each side read only its matching file (3 files per table)
    assert len(seen["j1"].files()) == 1
    assert len(seen["j1dim"].files()) == 1


def test_select_join_unqualified_unique_column_prunes(spark, catalog):
    _mk(spark, catalog, "j2")
    d = catalog.create_table("j2dim", "k BIGINT, lbl STRING")
    d.append(
        spark.createDataFrame([(1, "x"), (25, "y")], "k BIGINT, lbl STRING")
    )
    # 'a' exists only in j2: attributable without a qualifier even in a
    # join; result must equal the unpruned answer
    rows = catalog.sql(
        "SELECT a, lbl FROM j2 JOIN j2dim ON a = k WHERE a > 20"
    ).collect()
    assert [(r.a, r.lbl) for r in rows] == [(25, "y")]


def test_select_join_without_aliases_keeps_qualifiers(spark, catalog):
    _mk(spark, catalog, "j3", n_appends=1)
    d = catalog.create_table("j3dim", "k BIGINT, lbl STRING")
    d.append(spark.createDataFrame([(3, "three")], "k BIGINT, lbl STRING"))
    # qualified references to the original table names must still
    # resolve after view rewriting (views are aliased with the base name)
    rows = catalog.sql(
        "SELECT j3.a, j3dim.lbl FROM j3 JOIN j3dim ON j3.a = j3dim.k"
    ).collect()
    assert [(r.a, r.lbl) for r in rows] == [(3, "three")]


# -- DML / DDL statements ----------------------------------------------------


def test_create_insert_select_roundtrip(spark, catalog):
    catalog.sql(
        "CREATE TABLE dml1 (a BIGINT, b STRING, v DOUBLE) "
        "TBLPROPERTIES ('write.delete.mode' = 'copy-on-write')"
    )
    catalog.sql("INSERT INTO dml1 VALUES (1, 'x', 1.5), (2, 'y', 2.5)")
    catalog.sql("INSERT INTO dml1 (a, b) VALUES (3, 'z')")
    rows = catalog.sql("SELECT a, b, v FROM dml1 ORDER BY a").collect()
    assert [(r.a, r.b, r.v) for r in rows] == [
        (1, "x", 1.5),
        (2, "y", 2.5),
        (3, "z", None),
    ]


def test_insert_select_from_engine_table(spark, catalog):
    _mk(spark, catalog, "dml2", n_appends=1)
    catalog.sql("CREATE TABLE dml2copy (a BIGINT, b STRING)")
    catalog.sql("INSERT INTO dml2copy SELECT a, b FROM dml2 WHERE a >= 5")
    assert catalog.sql("SELECT count(*) AS n FROM dml2copy").collect()[0].n == 5
    catalog.sql("INSERT OVERWRITE dml2copy SELECT a, b FROM dml2 WHERE a < 2")
    assert catalog.sql("SELECT count(*) AS n FROM dml2copy").collect()[0].n == 2


def test_delete_statement_exact_predicate(spark, catalog):
    _mk(spark, catalog, "dml3", n_appends=1)
    catalog.sql("DELETE FROM dml3 WHERE a BETWEEN 2 AND 4 OR a = 8")
    got = sorted(r.a for r in catalog.load_table("dml3").to_df().collect())
    assert got == [0, 1, 5, 6, 7, 9]


def test_delete_statement_rejects_unconvertible(spark, catalog):
    _mk(spark, catalog, "dml4", n_appends=1)
    with pytest.raises(SqlError, match="unsupported predicate"):
        catalog.sql("DELETE FROM dml4 WHERE length(b) > 100")
    # nothing deleted
    assert catalog.load_table("dml4").to_df().count() == 10


def test_update_statement_expression_rhs(spark, catalog):
    _mk(spark, catalog, "dml5", n_appends=1)
    catalog.sql("UPDATE dml5 SET b = concat(b, '!'), a = a * 10 WHERE a >= 8")
    rows = {r.a: r.b for r in catalog.load_table("dml5").to_df().collect()}
    assert rows[80] == "r8!" and rows[90] == "r9!" and rows[0] == "r0"


def test_create_partitioned_and_drop(spark, catalog):
    catalog.sql(
        "CREATE TABLE dml6 (k BIGINT, ts TIMESTAMP) PARTITIONED BY (bucket(4, k))"
    )
    t = catalog.load_table("dml6")
    assert [(f.source, f.transform.name) for f in t.partition_fields] == [("k", "bucket")]
    catalog.sql("DROP TABLE dml6")
    assert not catalog.table_exists("dml6")
    catalog.sql("DROP TABLE IF EXISTS dml6")  # no error


def test_delete_without_where_is_truncate(spark, catalog):
    _mk(spark, catalog, "dml7", n_appends=1)
    catalog.sql("DELETE FROM dml7")
    assert catalog.load_table("dml7").to_df().count() == 0


def test_call_compute_stats_procedures(spark, tmp_path):
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.table import Catalog
    from iceberg_geo_poc_spark.table import statistics as ST

    cat = Catalog(str(tmp_path / "wh"), spark)
    t = cat.create_table("sqlstats", "id BIGINT, grp BIGINT")
    t.append(spark.range(200).select(F.col("id"), (F.col("id") % 9).alias("grp")))
    cat.sql("CALL system.compute_table_stats(table => 'sqlstats', columns => 'grp')")
    t = cat.load_table("sqlstats")
    est = ST.ndv(t, "grp")
    assert est is not None and abs(est - 9) <= 2
    cat.sql("CALL system.compute_partition_stats('sqlstats')")
    t = cat.load_table("sqlstats")
    assert len(t.meta.partition_statistics_files) == 1
    dry = cat.sql("CALL system.remove_reachable_files('sqlstats', dry_run => true)")
    assert dry["data_files"] >= 1 and dry["statistics_files"] >= 1


def test_show_tables_and_describe(spark, tmp_path):
    from iceberg_geo_poc_spark.table import Catalog

    cat = Catalog(str(tmp_path / "wh"), spark)
    cat.create_table(
        "desc_t",
        "id BIGINT, geom BINARY, ts TIMESTAMP",
        partition_by=[("ts", "day"), ("id", "bucket[4]")],
        geometry_columns={"geom": "wkb"},
    )
    names = [r[0] for r in cat.sql("SHOW TABLES").collect()]
    assert "desc_t" in names
    rows = {r["col_name"]: r for r in cat.sql("DESCRIBE TABLE desc_t").collect()}
    assert rows["id"]["data_type"] == "BIGINT"
    assert rows["geom"]["comment"] == "geometry(wkb)"
    parts = [k for k in rows if k.startswith("# partition")]
    assert len(parts) == 2


def test_call_convert_position_deletes_to_dvs(spark, catalog):
    t = _mk(spark, catalog, "cdv", n_appends=1, rows_per=20)
    t.delete(E.lt("a", 5), mode="merge-on-read")
    res = catalog.sql(
        "CALL system.convert_position_deletes_to_dvs(table => 'cdv')"
    )
    assert res["dv_blobs"] >= 1
    t = catalog.load_table("cdv")
    ent = t._entries()
    assert (ent.content == "posdel").sum() == 0
    assert (ent.content == "dv").sum() >= 1
    assert sorted(r.a for r in t.to_df().collect()) == list(range(5, 20))


def test_show_create_table(spark, catalog):
    from iceberg_geo_poc_spark.table.sql import dispatch_sql

    catalog.create_table(
        "sct",
        "id BIGINT, geom BINARY, d DATE",
        partition_by=[("d", "day"), ("id", "bucket[8]")],
        geometry_columns={"geom": "wkb"},
        properties={"write.distribution-mode": "hash"},
    )
    row = dispatch_sql(catalog, "SHOW CREATE TABLE sct").collect()[0]
    stmt = row["createtab_stmt"]
    assert stmt.startswith("CREATE TABLE sct (")
    assert "id BIGINT" in stmt and "geometry(wkb)" in stmt
    assert "PARTITIONED BY" in stmt and "bucket(8) OF id" in stmt
    assert "'write.distribution-mode' = 'hash'" in stmt


def test_call_create_changelog_view(spark, catalog):
    from iceberg_geo_poc_spark.table import E
    from iceberg_geo_poc_spark.table.sql import dispatch_sql

    t = catalog.create_table("clv", "id BIGINT")
    t.append(spark.range(20).select("id"))
    t.delete(E.lt("id", 5))
    df = dispatch_sql(
        catalog,
        "CALL system.create_changelog_view(table => 'clv', "
        "changelog_view => 'clv_changes')",
    )
    assert set(df.columns) >= {"_change_type", "_commit_snapshot_id"}
    # the registered Spark temp view serves plain spark.sql
    got = spark.sql(
        "SELECT _change_type, COUNT(*) AS n FROM clv_changes GROUP BY 1"
    ).collect()
    counts = {r["_change_type"]: r["n"] for r in got}
    assert counts.get("insert", 0) >= 20 and counts.get("delete", 0) == 5


def test_create_table_as_select(spark, catalog):
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.table.sql import dispatch_sql

    t = catalog.create_table("src_ctas", "id BIGINT, v DOUBLE")
    t.append(
        spark.range(100).select("id", (F.col("id") * 2.0).alias("v"))
    )
    out = dispatch_sql(
        catalog,
        "CREATE TABLE ctas_t AS SELECT id, v FROM src_ctas WHERE id < 40",
    )
    assert out.to_df().count() == 40
    # schema inferred from the SELECT result
    assert "id BIGINT" in out.schema_ddl() and "v DOUBLE" in out.schema_ddl()
    # snapshot machinery fully live on the new table
    out.append(spark.createDataFrame([(1000, 0.0)], "id BIGINT, v DOUBLE"))
    assert catalog.load_table("ctas_t").to_df().count() == 41
    # partitioned CTAS
    dispatch_sql(
        catalog,
        "CREATE TABLE ctas_p PARTITIONED BY (bucket(4, id)) "
        "AS SELECT id, v FROM src_ctas",
    )
    tp = catalog.load_table("ctas_p")
    assert tp.to_df().count() == 100 and tp.partition_fields
    # IF NOT EXISTS is a no-op on an existing table
    again = dispatch_sql(
        catalog,
        "CREATE TABLE IF NOT EXISTS ctas_t AS SELECT id, v FROM src_ctas",
    )
    assert again.to_df().count() == 41


def test_create_view_select_through_and_drop(spark, catalog):
    """CREATE VIEW / SELECT-through / SHOW VIEWS / DROP VIEW statement
    surface (reference view layer: core view/BaseView.java +
    spark-extensions TestViews.java — there views resolve through the
    catalog; here the dispatcher re-plans the stored SQL through its
    engine-table SELECT path so manifest pruning still applies)."""
    _mk(spark, catalog, "vt", n_appends=2, rows_per=10)
    catalog.sql(
        "CREATE VIEW v_small AS SELECT a, b FROM vt WHERE a < 5"
    )
    assert catalog.list_views() == ["v_small"]
    got = catalog.sql("SELECT COUNT(*) AS n FROM v_small").collect()
    assert got[0].n == 5
    # view joins against a base table
    got = catalog.sql(
        "SELECT v.a, t.b FROM v_small v JOIN vt t ON v.a = t.a ORDER BY v.a"
    ).collect()
    assert [r.a for r in got] == [0, 1, 2, 3, 4]
    # CREATE OR REPLACE swaps the definition; plain CREATE refuses
    with pytest.raises(ValueError):
        catalog.sql("CREATE VIEW v_small AS SELECT a FROM vt")
    catalog.sql(
        "CREATE OR REPLACE VIEW v_small AS SELECT a FROM vt WHERE a >= 15"
    )
    assert catalog.sql("SELECT COUNT(*) AS n FROM v_small").collect()[0].n == 5
    shown = {r.viewName for r in catalog.sql("SHOW VIEWS").collect()}
    assert shown == {"v_small"}
    catalog.sql("DROP VIEW v_small")
    assert catalog.list_views() == []
    with pytest.raises(KeyError):
        catalog.sql("DROP VIEW v_small")
    assert catalog.sql("DROP VIEW IF EXISTS v_small") is None


def test_view_sees_base_table_updates(spark, catalog):
    """Views store SQL, not data: rows appended to the base table after
    CREATE VIEW appear in subsequent view reads."""
    t = _mk(spark, catalog, "vt2", n_appends=1, rows_per=5)
    catalog.sql("CREATE VIEW v_all AS SELECT a FROM vt2")
    assert catalog.sql("SELECT COUNT(*) AS n FROM v_all").collect()[0].n == 5
    t.append(
        spark.createDataFrame([(100, "x")], "a BIGINT, b STRING").coalesce(1)
    )
    assert catalog.sql("SELECT COUNT(*) AS n FROM v_all").collect()[0].n == 6


def test_view_over_view_resolves_recursively(spark, catalog):
    """A view body may reference another view: the dispatcher re-plans
    each stored SQL through _select, which resolves view refs at every
    level."""
    _mk(spark, catalog, "vvt", n_appends=1, rows_per=20)
    catalog.sql("CREATE VIEW v_base AS SELECT a FROM vvt WHERE a < 10")
    catalog.sql(
        "CREATE VIEW v_top AS SELECT COUNT(*) AS n FROM v_base WHERE a >= 4"
    )
    assert catalog.sql("SELECT n FROM v_top").collect()[0].n == 6
    catalog.sql("DROP VIEW v_top")
    catalog.sql("DROP VIEW v_base")


def test_show_create_view_and_describe_view(spark, catalog):
    _mk(spark, catalog, "svt", n_appends=1, rows_per=5)
    catalog.sql("CREATE VIEW v_s AS SELECT a, b FROM svt WHERE a > 1")
    stmt = catalog.sql("SHOW CREATE VIEW v_s").collect()[0].createview_stmt
    assert stmt.startswith("CREATE VIEW v_s AS")
    assert "SELECT a, b FROM svt" in stmt
    desc = catalog.sql("DESCRIBE VIEW v_s").collect()
    assert [(r.col_name, r.data_type) for r in desc] == [
        ("a", "bigint"), ("b", "string")
    ]

def test_view_join_table_keeps_relations_distinct(spark, catalog):
    """Regression: view expansion re-enters _select recursively; before
    per-invocation temp-view namespacing the inner statement overwrote
    the outer statement's __ice_sql_0 registration, so the outer table
    reference silently read the VIEW BODY's (pruned) scan.  Here the
    view body prunes to the a<10 file, while the outer join needs the
    a>=10 file of the same base table — a shared name returns 0 rows."""
    _mk(spark, catalog, "vjt", n_appends=2, rows_per=10)
    catalog.sql("CREATE VIEW v_lo AS SELECT a FROM vjt WHERE a < 10")
    got = catalog.sql(
        "SELECT t.a FROM v_lo v JOIN vjt t ON v.a + 10 = t.a ORDER BY t.a"
    ).collect()
    assert [r.a for r in got] == list(range(10, 20))
    catalog.sql("DROP VIEW v_lo")


def test_view_qualified_predicate_does_not_prune_table(spark, catalog):
    """Regression: a WHERE conjunct qualified by the VIEW's alias
    (``v.a >= 10``) must not be attributed to the base table's manifest
    pruning just because the table also has a column ``a`` — that would
    be exclusive (wrong) pruning.  The join below maps view rows a>=10
    onto table rows a<10; pruning the table on a>=10 would return 0."""
    _mk(spark, catalog, "vqt", n_appends=2, rows_per=10)
    catalog.sql("CREATE VIEW v_hi AS SELECT a FROM vqt WHERE a >= 10")
    got = catalog.sql(
        "SELECT t.a FROM v_hi v JOIN vqt t ON v.a = t.a + 10 "
        "WHERE v.a >= 10 ORDER BY t.a"
    ).collect()
    assert [r.a for r in got] == list(range(10))
    catalog.sql("DROP VIEW v_hi")


def test_view_version_as_of(spark, catalog):
    """View time travel through SQL (reference view/BaseViewVersion.java:
    1-based version ids): VERSION AS OF pins a version from the view's
    version log; TIMESTAMP AS OF picks the latest version at-or-before."""
    _mk(spark, catalog, "vvtt", n_appends=2, rows_per=10)
    catalog.sql("CREATE VIEW v_tt AS SELECT a FROM vvtt WHERE a < 5")
    catalog.sql("CREATE OR REPLACE VIEW v_tt AS SELECT a FROM vvtt WHERE a >= 15")
    assert catalog.sql(
        "SELECT COUNT(*) AS n FROM v_tt VERSION AS OF 1"
    ).collect()[0].n == 5
    assert catalog.sql(
        "SELECT MIN(a) AS lo FROM v_tt VERSION AS OF 2"
    ).collect()[0].lo == 15
    # latest wins without a clause
    assert catalog.sql("SELECT MIN(a) AS lo FROM v_tt").collect()[0].lo == 15
    # TIMESTAMP AS OF: at-or-after the second version's commit => v2
    at2 = catalog.view_versions("v_tt")[1]["at"]
    assert catalog.sql(
        f"SELECT MIN(a) AS lo FROM v_tt TIMESTAMP AS OF {at2}"
    ).collect()[0].lo == 15
    from iceberg_geo_poc_spark.table.sql import SqlError as _SE
    with pytest.raises(_SE):
        catalog.sql("SELECT a FROM v_tt VERSION AS OF 0").collect()
    # out-of-range version ids surface as SqlError, not a raw IndexError
    with pytest.raises(_SE, match="no version 9 of view"):
        catalog.sql("SELECT a FROM v_tt VERSION AS OF 9").collect()
    catalog.sql("DROP VIEW v_tt")


def test_branch_tag_create_replace_semantics(spark, catalog):
    """Reference TestBranchDDL / TestReplaceBranch statement semantics:
    plain CREATE refuses an existing ref, IF NOT EXISTS no-ops,
    REPLACE requires existence and repoints, CREATE OR REPLACE does
    both, kind mismatches and unknown snapshot ids are refused."""
    t = _mk(spark, catalog, "brddl", n_appends=3, rows_per=5)
    snaps = t.snapshots()
    catalog.sql(f"ALTER TABLE brddl CREATE BRANCH b1 AS OF VERSION {snaps[0].snapshot_id}")
    with pytest.raises(ValueError, match="already exists"):
        catalog.sql("ALTER TABLE brddl CREATE BRANCH b1")
    catalog.sql("ALTER TABLE brddl CREATE BRANCH IF NOT EXISTS b1")  # no-op
    t = catalog.load_table("brddl")
    assert t.meta.refs["b1"]["snapshot-id"] == snaps[0].snapshot_id
    # REPLACE repoints; plain REPLACE of a missing branch refuses
    catalog.sql(
        f"ALTER TABLE brddl REPLACE BRANCH b1 AS OF VERSION {snaps[1].snapshot_id}"
    )
    assert catalog.load_table("brddl").meta.refs["b1"]["snapshot-id"] == snaps[1].snapshot_id
    with pytest.raises(ValueError, match="not found"):
        catalog.sql("ALTER TABLE brddl REPLACE BRANCH nope")
    # CREATE OR REPLACE creates when missing and repoints when present
    catalog.sql(
        f"ALTER TABLE brddl CREATE OR REPLACE BRANCH b2 AS OF VERSION {snaps[0].snapshot_id}"
    )
    catalog.sql(
        f"ALTER TABLE brddl CREATE OR REPLACE BRANCH b2 AS OF VERSION {snaps[2].snapshot_id}"
    )
    assert catalog.load_table("brddl").meta.refs["b2"]["snapshot-id"] == snaps[2].snapshot_id
    # tags: same machinery, and kind mismatch is refused
    catalog.sql("ALTER TABLE brddl CREATE TAG v1")
    with pytest.raises(ValueError, match="already exists"):
        catalog.sql("ALTER TABLE brddl CREATE TAG v1")
    with pytest.raises(ValueError, match="is a tag"):
        catalog.sql("ALTER TABLE brddl REPLACE BRANCH v1")
    # unknown snapshot id refused at create time
    with pytest.raises(ValueError, match="not found in the snapshot log"):
        catalog.sql("ALTER TABLE brddl CREATE BRANCH b3 AS OF VERSION 12345")


def test_show_tblproperties_and_partitions(spark, catalog):
    """SHOW TBLPROPERTIES (full + single-key + missing-key marker) and
    SHOW PARTITIONS (hive-style tuples from the manifests; refused on
    unpartitioned tables) — the Spark statement surface over the
    table's metadata."""
    catalog.sql(
        "CREATE TABLE props_t (k BIGINT, part STRING) "
        "PARTITIONED BY (part) "
        "TBLPROPERTIES ('commit.retry.num-retries' = '9', 'owner' = 'etl')"
    )
    t = catalog.load_table("props_t")
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "k BIGINT, part STRING"
    ))
    props = {
        r.key: r.value
        for r in catalog.sql("SHOW TBLPROPERTIES props_t").collect()
    }
    assert props["commit.retry.num-retries"] == "9" and props["owner"] == "etl"
    one = catalog.sql("SHOW TBLPROPERTIES props_t ('owner')").collect()
    assert [(r.key, r.value) for r in one] == [("owner", "etl")]
    missing = catalog.sql("SHOW TBLPROPERTIES props_t ('nope')").collect()
    assert "does not have property" in missing[0].value
    parts = [r.partition for r in catalog.sql("SHOW PARTITIONS props_t").collect()]
    assert parts == ["part=a", "part=b"]
    catalog.sql("CREATE TABLE props_u (k BIGINT)")
    import pytest as _pytest

    from iceberg_geo_poc_spark.table.sql import SqlError as _SE
    with _pytest.raises(_SE, match="unpartitioned"):
        catalog.sql("SHOW PARTITIONS props_u")
