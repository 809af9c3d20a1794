"""JdbcCatalog: SQL-database table registry + CAS commit arbitration
(reference jdbc/JdbcCatalog.java, JdbcUtil.java,
JdbcTableOperations.java — sqlite3 as the DB-API engine).

The load-bearing property is the commit protocol: the
``iceberg_tables.metadata_location`` pointer is the source of truth,
every commit is an atomic compare-and-swap UPDATE on it, and a losing
writer gets CommitConflict and re-reads (Table._commit's standard retry
loop).  Readers resolve versions from the pointer, never the
filesystem, so a crashed writer's orphan document is invisible."""

from __future__ import annotations

import os
import threading

import pytest

from iceberg_geo_poc_spark.table import E, JdbcCatalog
from iceberg_geo_poc_spark.table import metadata as MD


@pytest.fixture()
def cat(spark, tmp_path):
    return JdbcCatalog(str(tmp_path / "wh"), spark, catalog_name="test")


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"r{i}") for i in range(lo, hi)], "a BIGINT, b STRING"
    ).coalesce(1)


def test_create_load_append_roundtrip(spark, cat):
    t = cat.create_table("t1", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 10))
    t.append(_df(spark, 10, 20))
    assert cat.load_table("t1").to_df().count() == 20
    assert cat.table_exists("t1")
    assert cat.list_tables() == ["t1"]
    with pytest.raises(ValueError, match="already exists"):
        cat.create_table("t1", "a BIGINT")


def test_pointer_is_source_of_truth(spark, cat, tmp_path):
    """An orphan metadata document ABOVE the pointer (crashed writer) is
    invisible to readers and overwritten by the next commit."""
    t = cat.create_table("t2", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 5))  # v1
    loc = t.location
    orphan = os.path.join(loc, "metadata", "v2.metadata.json")
    with open(orphan, "wb") as f:
        f.write(b'{"torn": "never committed"}')
    # reader must NOT roll forward onto the orphan
    meta = MD.read_metadata(loc)
    assert meta.version == 1
    assert cat.load_table("t2").to_df().count() == 5
    # the next commit claims v2 and overwrites the orphan under the lock
    cat.load_table("t2").append(_df(spark, 5, 8))
    assert cat.load_table("t2").to_df().count() == 8


def test_cas_conflict_and_retry(spark, cat):
    """A stale handle's commit loses the CAS and retries on fresh
    metadata — both appends land (reference CommitFailedException +
    SnapshotProducer retry)."""
    t1 = cat.create_table("t3", "a BIGINT, b STRING")
    t1.append(_df(spark, 0, 5))
    t2 = cat.load_table("t3")  # same base as t1 now
    t1.append(_df(spark, 5, 10))  # moves the pointer
    t2.append(_df(spark, 10, 15))  # stale base: CAS loses once, retries
    assert cat.load_table("t3").to_df().count() == 15


def test_backend_cas_rejects_wrong_base(spark, cat):
    t = cat.create_table("t4", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 3))  # pointer at v1
    loc = t.location
    be = cat.backend
    # replaying v1 (already committed) and skipping to v3 both lose
    assert not be.put_if_absent(
        os.path.join(loc, "metadata", "v1.metadata.json"), b"{}"
    )
    assert not be.put_if_absent(
        os.path.join(loc, "metadata", "v3.metadata.json"), b"{}"
    )


def test_concurrent_appends_all_land(spark, cat):
    """8 threads x 1 append: every commit lands exactly once through
    the CAS (sqlite write lock serializes; losers retry).  The retry
    budget is raised the same way a real deployment tunes for many
    concurrent committers (reference TableProperties
    COMMIT_NUM_RETRIES, default 4 — a thread can lose up to 7 races
    here)."""
    t = cat.create_table(
        "t5", "a BIGINT, b STRING",
        properties={"commit.retry.num-retries": "40"},
    )
    t.append(_df(spark, 0, 1))
    errs = []

    def worker(i):
        try:
            cat.load_table("t5").append(_df(spark, 100 * (i + 1), 100 * (i + 1) + 2))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    [th.start() for th in threads]
    [th.join() for th in threads]
    assert not errs
    got = cat.load_table("t5")
    assert got.to_df().count() == 1 + 8 * 2
    assert len(got.snapshots()) == 9


def test_rename_table(spark, cat):
    t = cat.create_table("old_name", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 7))
    cat.rename_table("old_name", "new_name")
    assert not cat.table_exists("old_name")
    assert cat.load_table("new_name").to_df().count() == 7
    with pytest.raises(FileNotFoundError):
        cat.load_table("old_name")
    cat.create_table("other", "a BIGINT")
    with pytest.raises(ValueError, match="already exists"):
        cat.rename_table("other", "new_name")


def test_namespaces(spark, cat):
    cat.create_namespace("ns1", {"owner": "pipeline"})
    assert "ns1" in cat.list_namespaces()
    props = cat.namespace_properties("ns1")
    assert props["owner"] == "pipeline" and props["exists"] == "true"
    cat.set_namespace_properties("ns1", {"owner": "etl", "tier": "gold"})
    assert cat.namespace_properties("ns1")["owner"] == "etl"
    t = cat.create_table("ns1.inner", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 4))
    assert cat.list_tables("ns1") == ["inner"]
    assert cat.load_table("ns1.inner").to_df().count() == 4
    with pytest.raises(ValueError, match="not empty"):
        cat.drop_namespace("ns1")
    cat.drop_table("ns1.inner")
    cat.drop_namespace("ns1")
    assert "ns1" not in cat.list_namespaces()
    with pytest.raises(KeyError):
        cat.create_table("missing_ns.t", "a BIGINT")


def test_drop_and_recreate(spark, cat):
    t = cat.create_table("t6", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 5))
    cat.drop_table("t6")
    assert not cat.table_exists("t6")
    assert cat.list_tables() == []
    t2 = cat.create_table("t6", "a BIGINT, b STRING")
    t2.append(_df(spark, 0, 2))
    assert cat.load_table("t6").to_df().count() == 2


def test_rename_then_recreate_vacated_name(spark, cat):
    """After rename the old table KEEPS its location (reference:
    locations are name-independent); re-creating under the vacated name
    must allocate a FRESH location, not collide on the unique index or
    share a metadata log (code-review r12)."""
    t = cat.create_table("r1", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 5))
    cat.rename_table("r1", "r2")
    t2 = cat.create_table("r1", "a BIGINT, b STRING")
    t2.append(_df(spark, 0, 2))
    assert cat.load_table("r1").to_df().count() == 2
    assert cat.load_table("r2").to_df().count() == 5
    assert cat._row("r1")[0] != cat._row("r2")[0]


def test_snapshot_table_under_jdbc(spark, cat):
    """CALL snapshot clones must register the DB pointer row before the
    location-rewriting commit (the base FS-copy path alone is invisible
    to DB-routed readers; code-review r12)."""
    t = cat.create_table("snap_src", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 6))
    clone = cat.snapshot_table("snap_src", "snap_dst")
    assert clone.to_df().count() == 6
    assert clone.meta.properties["gc.enabled"] == "false"
    # clone writes never touch the source
    clone.append(_df(spark, 100, 103))
    assert cat.load_table("snap_dst").to_df().count() == 9
    assert cat.load_table("snap_src").to_df().count() == 6


def test_register_table_adopts_metadata(spark, cat, tmp_path):
    """An adopted table's reads and commits follow the ADOPTER's row:
    the location is routed to this catalog's backend, so its pointer is
    the one read and advanced."""
    from iceberg_geo_poc_spark.table import Catalog

    plain = Catalog(str(tmp_path / "plainwh"), spark)
    t = plain.create_table("t7", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 6))
    mpath = os.path.join(t.location, "metadata", "v1.metadata.json")
    got = cat.register_table("adopted", mpath)
    assert got.to_df().count() == 6
    assert cat.table_exists("adopted")
    assert cat._row("adopted") == (t.location, mpath)
    cat.load_table("adopted").append(_df(spark, 6, 9))
    loc, ptr = cat._row("adopted")
    assert ptr == os.path.join(loc, "metadata", "v2.metadata.json")
    assert cat.load_table("adopted").to_df().count() == 9
    assert MD.read_metadata(t.location).version == 2


def test_register_table_refuses_location_of_another_catalog(spark, cat, tmp_path):
    """A location another catalog arbitrates cannot be adopted: commit
    routing is by location, so the adopter's row would never be read."""
    other = JdbcCatalog(
        str(tmp_path / "wh2"), spark,
        db_path=str(tmp_path / "other.db"), catalog_name="owner",
    )
    t = other.create_table("t7", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 6))
    mpath = os.path.join(t.location, "metadata", "v1.metadata.json")
    with pytest.raises(ValueError, match="another catalog"):
        cat.register_table("adopted", mpath)
    assert not cat.table_exists("adopted")
    t.append(_df(spark, 6, 10))
    assert other.load_table("t7").to_df().count() == 10


def test_namespace_ddl_statements(spark, cat):
    """Textual namespace DDL (the reference's Spark SQL namespace
    surface) routed to the JDBC catalog."""
    cat.sql("CREATE NAMESPACE ns_sql WITH PROPERTIES ('owner' = 'etl')")
    cat.sql("CREATE NAMESPACE IF NOT EXISTS ns_sql")
    names = [r.namespace for r in cat.sql("SHOW NAMESPACES").collect()]
    assert "ns_sql" in names and "default" in names
    cat.sql("ALTER NAMESPACE ns_sql SET PROPERTIES ('tier' = 'gold')")
    props = {
        r.property: r.value
        for r in cat.sql("DESCRIBE NAMESPACE ns_sql").collect()
    }
    assert props["owner"] == "etl" and props["tier"] == "gold"
    cat.sql("DROP NAMESPACE ns_sql")
    cat.sql("DROP NAMESPACE IF EXISTS ns_sql")  # no-op
    assert "ns_sql" not in [
        r.namespace for r in cat.sql("SHOW NAMESPACES").collect()
    ]


def test_namespace_ddl_refused_on_plain_catalog(spark, tmp_path):
    from iceberg_geo_poc_spark.table import Catalog
    from iceberg_geo_poc_spark.table.sql import SqlError

    plain = Catalog(str(tmp_path / "plainwh"), spark)
    with pytest.raises(SqlError, match="does not support namespaces"):
        plain.sql("CREATE NAMESPACE nope")


def test_row_level_ops_and_sql_through_jdbc(spark, cat):
    """The full Catalog surface rides on top: SQL dispatcher, delete,
    time travel — all arbitrating through the DB pointer."""
    cat.sql("CREATE TABLE sqlt (a BIGINT, b STRING)")
    _df(spark, 0, 10).createOrReplaceTempView("__jdbc_src")
    cat.sql("INSERT INTO sqlt SELECT * FROM __jdbc_src")
    cat.sql("DELETE FROM sqlt WHERE a >= 7")
    assert cat.load_table("sqlt").to_df().count() == 7
    t = cat.load_table("sqlt")
    snaps = t.snapshots()
    assert len(snaps) == 2
    assert t.scan(snapshot_id=snaps[0].snapshot_id).to_df().count() == 10
    rows = cat.sql("SELECT COUNT(*) AS n FROM sqlt").collect()
    assert rows[0].n == 7


# -- views behind DB pointer rows (reference JdbcViewOperations) -------------


def test_jdbc_view_lifecycle(spark, cat):
    """Views live in iceberg_views pointer rows: a DB-only reader (a
    SECOND catalog over the same db file with a different warehouse
    listing) discovers and reads them; version pinning works; replace
    advances the pointer; drop removes the row."""
    t = cat.create_table("vt", "a BIGINT, b STRING")
    t.append(_df(spark, 0, 10))
    cat.sql("CREATE VIEW v_small AS SELECT a FROM vt WHERE a < 3")
    cat.sql("CREATE OR REPLACE VIEW v_small AS SELECT a FROM vt WHERE a < 5")
    assert cat.list_views() == ["v_small"]
    # the DB row is the discovery surface
    with cat.backend.db() as c:
        rows = c.execute(
            "SELECT view_name, metadata_location FROM iceberg_views"
        ).fetchall()
    assert [r[0] for r in rows] == ["v_small"] and rows[0][1]
    assert len(cat.view_versions("v_small")) == 2
    # pinned version 1 (3 rows) vs latest (5 rows)
    assert cat.sql("SELECT * FROM v_small VERSION AS OF 1").count() == 3
    assert cat.sql("SELECT * FROM v_small").count() == 5
    assert cat.load_view("v_small", version=0).count() == 3
    cat.sql("DROP VIEW v_small")
    assert cat.list_views() == []
    with pytest.raises(KeyError):
        cat.view_sql("v_small")


def test_jdbc_view_replace_race_one_loses(spark, cat):
    """Two CREATE OR REPLACE VIEW from the same base: the CAS on
    metadata_location lets exactly one win (reference
    JdbcViewOperations.doCommit CommitFailedException)."""
    cat.create_table("vr", "a BIGINT, b STRING").append(_df(spark, 0, 4))
    cat.create_view("vdup", "SELECT a FROM vr")
    base_ptr = cat._view_ptr("vdup")
    results = []

    def racer(body):
        # both racers observed the SAME base pointer; simulate by
        # restoring it before each CAS via the public API path
        try:
            cat.create_view("vdup", body, replace=True)
            results.append("win")
        except MD.CommitConflict:
            results.append("lose")

    # sequential simulation of the stale-base race: racer B re-reads
    # nothing — force its staleness by monkeypatching _view_ptr once
    cat.create_view("vdup", "SELECT a FROM vr WHERE a < 2", replace=True)
    real_ptr = cat._view_ptr("vdup")
    assert real_ptr != base_ptr
    orig = cat._view_ptr
    cat._view_ptr = lambda name: base_ptr  # stale read
    try:
        with pytest.raises(MD.CommitConflict):
            cat.create_view("vdup", "SELECT a FROM vr WHERE a < 1", replace=True)
    finally:
        cat._view_ptr = orig
    # winner's body is still current
    assert "a < 2" in cat.view_sql("vdup")


def test_jdbc_view_concurrent_creates_one_wins(spark, cat):
    """8 threads race CREATE VIEW (no replace): exactly one INSERT wins,
    the rest get CommitConflict or already-exists."""
    cat.create_table("vc", "a BIGINT, b STRING").append(_df(spark, 0, 4))
    wins, losses = [], []

    def creator(i):
        try:
            cat.create_view("vrace", f"SELECT a FROM vc WHERE a < {i}")
            wins.append(i)
        except (MD.CommitConflict, ValueError):
            losses.append(i)

    threads = [threading.Thread(target=creator, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(wins) == 1 and len(losses) == 7
    assert f"a < {wins[0]}" in cat.view_sql("vrace")
