"""Commit-backend orthogonality (VERDICT r13 task 6): the CoW
runtime matched-file narrowing and WAP-branch DML are TABLE-layer
features — they must behave identically no matter which catalog
arbitrates the metadata pointer.  One narrowing shape and one WAP
shape run parameterized over every commit backend {fs, jdbc, nessie,
hive, glue, dynamodb}; any backend-specific breakage (pointer
redirection, version naming, read-path interception) surfaces here."""

from __future__ import annotations

import pytest

from iceberg_geo_poc_spark.table import Catalog
from iceberg_geo_poc_spark.table import expressions as E

BACKENDS = ["fs", "jdbc", "nessie", "hive", "glue", "dynamodb"]


def _make_catalog(kind: str, spark, tmp_path):
    wh = str(tmp_path / f"wh_{kind}")
    if kind == "fs":
        return Catalog(wh, spark)
    if kind == "jdbc":
        from iceberg_geo_poc_spark.table.jdbc_catalog import JdbcCatalog

        return JdbcCatalog(wh, spark)
    if kind == "nessie":
        from iceberg_geo_poc_spark.table.nessie_catalog import NessieCatalog

        return NessieCatalog(wh, spark)
    if kind == "hive":
        from iceberg_geo_poc_spark.table.hive_catalog import HiveCatalog

        return HiveCatalog(wh, spark)
    if kind == "glue":
        from iceberg_geo_poc_spark.table.glue_catalog import GlueCatalog

        return GlueCatalog(wh, spark)
    if kind == "dynamodb":
        from iceberg_geo_poc_spark.table.dynamodb_catalog import DynamoDbCatalog

        return DynamoDbCatalog(wh, spark)
    raise ValueError(kind)


def _mk_interleaved(spark, catalog, name):
    """4 files with fully-overlapping id ranges: stats pruning cannot
    separate them, so any narrowing observed is the runtime probe."""
    t = catalog.create_table(name, "id BIGINT, v STRING")
    for lo, hi in ((1, 100), (2, 99), (3, 98), (4, 97)):
        t.append(
            spark.createDataFrame(
                [(lo, f"lo{lo}"), (hi, f"hi{hi}")], "id BIGINT, v STRING"
            ).coalesce(1)
        )
    return t


@pytest.mark.parametrize("kind", BACKENDS)
def test_cow_narrowing_on_every_backend(kind, spark, tmp_path):
    cat = _make_catalog(kind, spark, tmp_path)
    t = _mk_interleaved(spark, cat, "nar")
    # id=4 is inside every file's [min,max] but present in ONE file
    snap = t.delete(E.eq("id", 4))
    assert snap.summary["candidate-files"] == 4, kind
    assert snap.summary["rewritten-files"] == 1, kind
    t2 = cat.load_table("nar")
    ent = t2._entries()
    assert len(ent[ent.content == "data"]) == 4, kind
    assert sorted(r.id for r in t2.to_df().collect()) == [
        1, 2, 3, 97, 98, 99, 100
    ], kind
    # UPDATE narrows the same way through this backend
    snap = cat.load_table("nar").update({"v": "X"}, E.eq("id", 97))
    assert snap.summary["rewritten-files"] == 1, kind
    assert (97, "X") in {
        (r.id, r.v) for r in cat.load_table("nar").to_df().collect()
    }, kind


@pytest.mark.parametrize("kind", BACKENDS)
def test_wap_branch_dml_on_every_backend(kind, spark, tmp_path):
    cat = _make_catalog(kind, spark, tmp_path)
    t = _mk_interleaved(spark, cat, "wap")
    main_head = t.meta.current_snapshot_id
    spark.conf.set("spark.wap.branch", "audit")
    try:
        cat.sql("DELETE FROM wap WHERE id = 99")
        cat.sql("INSERT INTO wap VALUES (7777, 'wap')")
        t = cat.load_table("wap")
        assert t.meta.refs["audit"]["type"] == "branch", kind
        assert t.meta.current_snapshot_id == main_head, kind  # main untouched
        ids = {r.id for r in cat.sql("SELECT id FROM wap").collect()}
        assert 99 not in ids and 7777 in ids, kind
    finally:
        spark.conf.unset("spark.wap.branch")
    # plain read resolves to main again
    ids = {r.id for r in cat.sql("SELECT id FROM wap").collect()}
    assert 99 in ids and 7777 not in ids, kind


# -- the pointer protocol every metastore catalog shares -------------------

POINTER_BACKENDS = ["jdbc", "nessie", "hive", "glue", "dynamodb"]


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"r{i}") for i in range(lo, hi)], "id BIGINT, v STRING"
    ).coalesce(1)


def _count(cat, name):
    return cat.load_table(name).to_df().count()


@pytest.mark.parametrize("kind", POINTER_BACKENDS)
def test_document_above_pointer_is_invisible(kind, spark, tmp_path):
    import os

    from iceberg_geo_poc_spark.table import metadata as MD

    cat = _make_catalog(kind, spark, tmp_path)
    t = cat.create_table("inv", "id BIGINT, v STRING")
    t.append(_df(spark, 0, 3))  # pointer at v1
    be = MD.backend_for(t.location)
    orphan = os.path.join(t.location, "metadata", "v2.metadata.json")
    with open(orphan, "wb") as f:
        f.write(b'{"torn": "never committed"}')
    assert not be.exists(orphan), kind
    with pytest.raises(FileNotFoundError):
        be.read(orphan)
    assert MD.read_metadata(t.location).version == 1, kind
    assert _count(cat, "inv") == 3, kind


@pytest.mark.parametrize("kind", POINTER_BACKENDS)
def test_replayed_or_skipped_version_loses(kind, spark, tmp_path):
    import os

    from iceberg_geo_poc_spark.table import metadata as MD

    cat = _make_catalog(kind, spark, tmp_path)
    t = cat.create_table("rep", "id BIGINT, v STRING")
    t.append(_df(spark, 0, 3))  # pointer at v1
    be = MD.backend_for(t.location)
    mdir = os.path.join(t.location, "metadata")
    before = sorted(os.listdir(mdir))
    for n in (0, 1, 3):  # replays of committed versions, and a skip
        path = os.path.join(mdir, f"v{n}.metadata.json")
        assert not be.put_if_absent(path, b"{}"), (kind, n)
    assert sorted(os.listdir(mdir)) == before, kind
    assert MD.read_metadata(t.location).version == 1, kind


@pytest.mark.parametrize("kind", POINTER_BACKENDS)
def test_snapshot_clone_commits_independently(kind, spark, tmp_path):
    cat = _make_catalog(kind, spark, tmp_path)
    cat.create_table("src", "id BIGINT, v STRING").append(_df(spark, 0, 5))
    clone = cat.snapshot_table("src", "dst")
    assert clone.location != cat.load_table("src").location, kind
    clone.append(_df(spark, 5, 8))
    assert (_count(cat, "src"), _count(cat, "dst")) == (5, 8), kind
    cat.load_table("src").append(_df(spark, 100, 102))
    assert (_count(cat, "src"), _count(cat, "dst")) == (7, 8), kind


@pytest.mark.parametrize("kind", POINTER_BACKENDS)
def test_renamed_table_keeps_location_and_commits(kind, spark, tmp_path):
    cat = _make_catalog(kind, spark, tmp_path)
    t = cat.create_table("before", "id BIGINT, v STRING")
    t.append(_df(spark, 0, 4))
    cat.rename_table("before", "after")
    moved = cat.load_table("after")
    assert moved.location == t.location, kind
    moved.append(_df(spark, 4, 6))
    assert _count(cat, "after") == 6, kind
    assert not cat.table_exists("before"), kind


@pytest.mark.parametrize("kind", ["jdbc", "hive", "nessie"])
def test_load_view_binds_its_own_namespace(kind, spark, tmp_path):
    """A view's unqualified table names resolve in the view's namespace,
    not in ``default`` and not in whichever namespace wrote last."""
    cat = _make_catalog(kind, spark, tmp_path)
    cat.create_namespace("ns1")
    cat.create_namespace("zz")
    cat.create_table("ns1.t", "id BIGINT, v STRING")
    cat.create_table("t", "id BIGINT, v STRING").append(_df(spark, 0, 7))
    cat.create_table("zz.t", "id BIGINT, v STRING").append(_df(spark, 0, 11))
    cat.load_table("ns1.t").append(_df(spark, 0, 3))
    cat.create_view("ns1.v", "SELECT id FROM t")
    assert cat.load_view("ns1.v").count() == 3, kind
    cat.create_view("dv", "SELECT id FROM t")
    assert cat.load_view("dv").count() == 7, kind


@pytest.mark.parametrize("kind", ["glue", "nessie"])
def test_static_load_of_uuid_suffixed_pointer_document(kind, spark, tmp_path):
    from iceberg_geo_poc_spark.table import metadata as MD
    from iceberg_geo_poc_spark.table.pointer_catalog import split_metadata_path

    cat = _make_catalog(kind, spark, tmp_path)
    t = cat.create_table("st", "id BIGINT, v STRING")
    t.append(_df(spark, 0, 4))
    if kind == "glue":
        ptr = cat.service.get_table("default", "st")["parameters"][
            "metadata_location"
        ]
    else:
        ptr = cat.service.get_content(cat.ref, "default.st")["metadataLocation"]
    assert split_metadata_path(ptr)[0] == t.location
    assert not ptr.endswith("/v1.metadata.json"), "expected a uuid suffix"
    cat.load_table("st").append(_df(spark, 4, 6))
    pinned = cat.load_static_table(ptr)
    assert pinned.meta.version == 1
    assert pinned.to_df().count() == 4
    assert MD.read_metadata(t.location).version == 2


def test_purge_dry_run_refuses_glue_snapshot_clone(spark, tmp_path):
    """The clone references its source's data files (gc.enabled=false):
    the purge guard must be read from the clone's current document, which
    a Glue clone names ``v{N}-{uuid8}.metadata.json``."""
    from iceberg_geo_poc_spark.table.maintenance import delete_reachable_files

    cat = _make_catalog("glue", spark, tmp_path)
    cat.create_table("src", "id BIGINT, v STRING").append(_df(spark, 0, 5))
    clone = cat.snapshot_table("src", "dst")
    with pytest.raises(ValueError, match="gc.enabled=false"):
        delete_reachable_files(clone.location, dry_run=True)
    assert _count(cat, "src") == 5
