"""Parquet Modular Encryption (PARQUET-1300) for data files: encrypted
write path, in-place distributed scan, plaintext unreadability, column
keys, partitioned tables, CoW DML through the encrypted writer, and
manifest stats parity (reference: parquet-mr's modular encryption as
consumed by the Iceberg write builders + encryption manager)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from iceberg_geo_poc_spark.table import Catalog, E
from iceberg_geo_poc_spark.table import parquet_crypto as PC

KEY = bytes(range(16))
COLKEY = bytes(range(16, 32))
DDL = "id BIGINT, grp STRING, val DOUBLE"


def _frame(spark, rows, ddl=DDL):
    """A frame of ``rows`` built from pandas: Spark converts it on the
    driver, where a tuple list would make a Python RDD that costs a
    Python worker round trip per job."""
    import pandas as pd

    names = [f.split()[0] for f in ddl.split(", ")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), ddl)


@pytest.fixture()
def catalog(spark, tmp_path):
    PC.register_master_key("k_footer", KEY)
    PC.register_master_key("k_cols", COLKEY)
    return Catalog(str(tmp_path / "wh"), spark)


def _mk_encrypted(spark, catalog, name, partition_by=None, column_keys=None):
    props = {"write.parquet.encryption.footer-key": "k_footer"}
    if column_keys:
        import json

        props["write.parquet.encryption.column-keys"] = json.dumps(column_keys)
    t = catalog.create_table(
        name,
        DDL,
        partition_by=partition_by,
        properties=props,
    )
    rows = [(i, "ab"[i % 2], i / 2) for i in range(200)]
    t.append(_frame(spark, rows).repartition(4))
    return t


def _data_files(t):
    return [e for e in t.scan().files()]


def test_encrypted_roundtrip_and_plaintext_unreadable(spark, catalog):
    t = _mk_encrypted(spark, catalog, "enc1")
    got = t.to_df().orderBy("id").collect()
    assert len(got) == 200
    assert got[3].id == 3 and got[3].grp == "b" and got[3].val == 1.5
    # every data file refuses a plaintext read
    paths = _data_files(t)
    assert paths
    for p in paths:
        with pytest.raises(Exception, match="encrypt|footer|Parquet"):
            pq.read_table(p)


def test_encrypted_footer_stats_reach_manifest_pruning(spark, catalog):
    t = _mk_encrypted(spark, catalog, "enc2")
    scan = t.scan(where=E.ge("id", 10**9))
    assert scan.files() == []  # upper bounds prune everything
    total = t.scan().total_data_files()
    assert total >= 1


def test_encrypted_column_keys(spark, catalog):
    t = _mk_encrypted(
        spark, catalog, "enc3", column_keys={"k_cols": ["val"]}
    )
    rows = t.to_df().orderBy("id").limit(5).collect()
    assert [r.id for r in rows] == [0, 1, 2, 3, 4]
    # the file decrypts only with BOTH master keys present
    p = _data_files(t)[0]
    dep_full = PC.decryption_properties(
        {"k_footer": KEY, "k_cols": COLKEY}
    )
    assert pq.ParquetFile(p, decryption_properties=dep_full).metadata.num_rows > 0
    dep_missing = PC.decryption_properties({"k_footer": KEY})
    with pytest.raises(Exception):
        pq.ParquetFile(p, decryption_properties=dep_missing).read()


def test_encrypted_partitioned_write_prunes(spark, catalog):
    t = _mk_encrypted(
        spark, catalog, "enc4", partition_by=[("grp", "identity")]
    )
    scan = t.scan(where=E.eq("grp", "a"))
    kept = scan.files()
    assert kept and len(kept) < scan.total_data_files()
    got = t.to_df().where("grp = 'a'").count()
    assert got == 100


def test_encrypted_cow_delete_update(spark, catalog):
    t = _mk_encrypted(spark, catalog, "enc5")
    t.delete(E.lt("id", 50))
    assert t.to_df().count() == 150
    import pyspark.sql.functions as F

    t.update({"val": F.col("val") + 1000}, where=E.ge("id", 150))
    vals = {r.id: r.val for r in t.to_df().collect()}
    assert vals[150] == 1075.0 and vals[100] == 50.0
    # rewritten files are still encrypted
    for p in _data_files(t):
        with pytest.raises(Exception):
            pq.read_table(p)


def test_encrypted_wrong_key_fails(spark, catalog):
    t = _mk_encrypted(spark, catalog, "enc6")
    p = _data_files(t)[0]
    bad = PC.decryption_properties({"k_footer": bytes(16)})
    with pytest.raises(Exception):
        pq.ParquetFile(p, decryption_properties=bad).read()


def test_envelope_kms_wrap_roundtrip():
    fac = PC._make_kms_factory()

    class Conf:
        custom_kms_conf = PC._master_conf({"k": KEY})

    kms = fac(Conf())
    dek = os.urandom(16)
    wrapped = kms.wrap_key(dek, "k")
    assert kms.unwrap_key(wrapped, "k") == dek
    # AAD binds the master-key id: swapping ids must fail authentication
    kms2 = fac(type("C", (), {"custom_kms_conf": PC._master_conf({"other": KEY})})())
    with pytest.raises(Exception):
        kms2.unwrap_key(wrapped, "other")


def test_plaintext_entry_points_refused(spark, catalog):
    """Zero-copy imports and the Python DataSource writer would place
    PLAINTEXT parquet into a modular-encrypted table — both refuse."""
    t = _mk_encrypted(spark, catalog, "enc7")
    with pytest.raises(ValueError, match="modular-encrypted"):
        catalog.add_files("enc7", ["/tmp/whatever.parquet"])
    spark.dataSource.register(
        __import__(
            "iceberg_geo_poc_spark.streaming.datasource",
            fromlist=["TableDataSource"],
        ).TableDataSource
    )
    df = spark.range(3).selectExpr(
        "id", "'x' AS grp", "CAST(id AS DOUBLE) AS val"
    ).withColumnRenamed("id", "id")
    with pytest.raises(Exception, match="PLAINTEXT"):
        df.write.format("iceberg_geo_poc").mode("append").option(
            "location", t.location
        ).save()


def test_encrypted_mor_posdel_roundtrip(spark, catalog):
    """MoR position deletes on an encrypted table: the delete sidecar is
    itself modular-encrypted (refuses plaintext reads), and the scan
    applies it through the decrypting read."""
    t = _mk_encrypted(spark, catalog, "enc8")
    t.delete(E.lt("id", 30), mode="merge-on-read")
    assert t.to_df().count() == 170
    ent = t._entries()
    sidecars = ent[ent.content == "posdel"].file_path.tolist()
    assert sidecars
    for p in sidecars:
        with pytest.raises(Exception):
            pq.read_table(p)
    # POSITION_DELETES metadata table reads through the decrypt path
    from iceberg_geo_poc_spark.table import metadata_tables as MT

    rows = MT.inspect(t, "position_deletes").collect()
    assert len(rows) == 30 and all(r.delete_file in sidecars for r in rows)


def test_encrypted_mor_eqdel_values_sealed(spark, catalog):
    """Equality deletes carry column VALUES: the sidecar must be
    encrypted, and the sequence-aware application still works."""
    t = _mk_encrypted(spark, catalog, "enc9")
    t.delete_by_keys(_frame(spark, [(5,), (7,)], "id BIGINT"), key_cols=["id"])
    got = {r.id for r in t.to_df().collect()}
    assert 5 not in got and 7 not in got and len(got) == 198
    ent = t._entries()
    for p in ent[ent.content == "eqdel"].file_path:
        with pytest.raises(Exception):
            pq.read_table(p)
    # rows appended AFTER the delete keep the key (sequence rule)
    t.append(_frame(spark, [(5, "a", 1.0)]))
    assert 5 in {r.id for r in t.to_df().collect()}


def test_encrypted_posdel_compaction_and_dv_conversion(spark, catalog):
    from iceberg_geo_poc_spark.table import maintenance as X

    t = _mk_encrypted(spark, catalog, "enc10")
    t.delete(E.lt("id", 10), mode="merge-on-read")
    t.delete(E.ge("id", 190), mode="merge-on-read")
    res = X.rewrite_position_delete_files(t, min_input_files=1)
    assert res.rewritten_files == 2 and t.to_df().count() == 180
    # posdel -> DV conversion reads the encrypted sidecars
    out = X.convert_position_deletes_to_dvs(t)
    assert out["converted_files"] > 0
    assert t.to_df().count() == 180
    # rewrite_table_path refuses while encrypted posdels exist
    t2 = _mk_encrypted(spark, catalog, "enc11")
    t2.delete(E.lt("id", 3), mode="merge-on-read")
    with pytest.raises(NotImplementedError, match="ENCRYPTED position"):
        X.rewrite_table_path(t2, t2.location + "_copy", copy_files=False)


def test_encrypted_incremental_and_changelog(spark, catalog):
    """Incremental reads and the changelog walk the encrypted scan."""
    from iceberg_geo_poc_spark.streaming.incremental import (
        changelog,
        incremental_read,
    )

    t = _mk_encrypted(spark, catalog, "enc12")
    s1 = t.meta.snapshots[-1].snapshot_id
    t.append(_frame(spark, [(1000, "z", 9.0)]))
    inc = incremental_read(t, from_snapshot_id=s1)
    assert [r.id for r in inc.collect()] == [1000]
    ch = changelog(t, from_snapshot_id=s1).collect()
    assert len(ch) == 1 and ch[0]._change_type == "insert"


def test_encrypted_streaming_foreachbatch_sink(spark, catalog):
    """Exactly-once streaming appends land encrypted via Table.append_streaming."""
    t = _mk_encrypted(spark, catalog, "enc13")
    df = _frame(spark, [(2000, "s", 1.5)])
    t.append_streaming(df, query_id="q1", epoch_id=0)
    t.append_streaming(df, query_id="q1", epoch_id=0)  # replay skipped
    assert t.to_df().where("id = 2000").count() == 1
    for p in t.scan().files():
        with pytest.raises(Exception):
            pq.read_table(p)


def test_encrypted_geo_table_bbox_pruning(spark, catalog):
    """Geometry columns on a modular-encrypted table: the write task
    computes the bbox manifest metrics (no read-back job), they equal a
    plain table's for the same rows, and spatial file-skip works on the
    sealed files."""
    import json as _json

    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.geo.functions import st_point

    ddl = "id BIGINT, geom BINARY"
    t = catalog.create_table(
        "encgeo",
        ddl,
        geometry_columns={"geom": "wkb"},
        properties={"write.parquet.encryption.footer-key": "k_footer"},
    )
    plain = catalog.create_table("plaingeo", ddl, geometry_columns={"geom": "wkb"})
    df = (
        spark.range(100)
        .select(
            F.col("id"),
            st_point(
                (F.col("id") % 10).cast("double"),
                (F.col("id") / 10).cast("int").cast("double"),
            ).alias("geom"),
        )
        .repartition(4)
    )
    sc = spark.sparkContext
    sc.setJobGroup("enc-geo-append", "encrypted geo append")
    try:
        t.append(df)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("enc-geo-append"))
    finally:
        sc.setJobGroup(None, None)
    assert n_jobs == 2  # the input's shuffle and the write, no read-back
    plain.append(df)

    def bboxes_by_rows(table, **read):
        ent = table._entries()
        return {
            frozenset(
                pq.ParquetFile(r.file_path, **read).read(columns=["id"])["id"].to_pylist()
            ): _json.loads(r.bbox)
            for r in ent[ent.content == "data"].itertuples()
        }

    enc = bboxes_by_rows(
        t, decryption_properties=PC.decryption_properties(PC.master_keys())
    )
    assert len(enc) == 4 and all(b.get("geom") for b in enc.values())
    assert enc == bboxes_by_rows(plain)
    # spatial window scan: count points in [0,2]x[0,2]
    got = (
        t.scan(where=E.st_intersects("geom", __import__("iceberg_geo_poc_spark.geo", fromlist=["box"]).box(0.0, 0.0, 2.0, 2.0)))
        .to_df()
        .count()
    )
    assert got > 0
    for p in t.scan().files():
        with pytest.raises(Exception):
            pq.read_table(p)


def test_encrypted_compaction_output_stays_encrypted(spark, catalog):
    """rewrite_data_files routes through _write_files, so bin-packed
    output must still be sealed."""
    from iceberg_geo_poc_spark.table import maintenance as X

    t = _mk_encrypted(spark, catalog, "enc14")
    t.append(_frame(spark, [(500 + i, "c", 1.0) for i in range(20)]).coalesce(1))
    before = t.scan().total_data_files()
    X.rewrite_data_files(t, target_file_size=1 << 30)
    after = t.scan().total_data_files()
    assert after < before
    assert t.to_df().count() == 220
    for p in t.scan().files():
        with pytest.raises(Exception):
            pq.read_table(p)


def test_encryption_property_requires_parquet(spark, catalog):
    t = catalog.create_table(
        "encavro",
        "a BIGINT",
        file_format="avro",
        properties={"write.parquet.encryption.footer-key": "k_footer"},
    )
    with pytest.raises(NotImplementedError, match="requires file_format"):
        t.append(spark.range(1).withColumnRenamed("id", "a"))


def test_encrypted_schema_evolution_and_time_travel(spark, catalog):
    """Rename + add-column-with-default on an encrypted table: old
    files read through the decrypting target-schema cast (missing
    columns surface as typed nulls / defaults), and time travel still
    decrypts the pre-evolution snapshot."""
    t = _mk_encrypted(spark, catalog, "enc15")
    s1 = t.meta.snapshots[-1].snapshot_id
    catalog.rename_column("enc15", "val", "score")
    t = catalog.load_table("enc15")
    assert t.to_df().where("score = 1.5").count() == 1
    t.append(_frame(spark, [(9000, "z", 7.0)], "id BIGINT, grp STRING, score DOUBLE"))
    assert t.to_df().count() == 201
    old = t.scan(snapshot_id=s1).to_df()
    assert old.count() == 200
    for p in t.scan().files():
        with pytest.raises(Exception):
            pq.read_table(p)


def test_encrypted_zorder_compaction(spark, catalog):
    from iceberg_geo_poc_spark.table import maintenance as X

    t = _mk_encrypted(spark, catalog, "enc16")
    rows = [(300 + i, "z", float(i)) for i in range(50)]
    t.append(_frame(spark, rows).repartition(3))
    X.rewrite_data_files(t, strategy="sort", sort_by=["id"])
    assert t.to_df().count() == 250
    for p in t.scan().files():
        with pytest.raises(Exception):
            pq.read_table(p)


def test_encrypted_expire_snapshots_and_orphans(spark, catalog):
    import os
    import time as _time

    from iceberg_geo_poc_spark.table import maintenance as X

    t = _mk_encrypted(spark, catalog, "enc17")
    t.delete(E.lt("id", 100))  # CoW rewrite -> old files become unreferenced
    n_snaps = len(t.meta.snapshots)
    assert n_snaps >= 2
    X.expire_snapshots(t, keep_last=1, older_than_ms=int(_time.time() * 1000) + 10_000)
    t = catalog.load_table("enc17")
    assert len(t.meta.snapshots) == 1
    removed = X.remove_orphan_files(t, older_than_ms=int(_time.time() * 1000) + 10_000)
    assert t.to_df().count() == 100

def test_encrypted_partition_metadata_matches_plain(spark, catalog):
    """Manifest partition tuples on an encrypted partitioned table must
    be keyed/valued exactly like the plain write path's (logical field
    name + parse_path_value-normalized value), so the partitions
    metadata table and partition pruning are format-agnostic."""
    from iceberg_geo_poc_spark.table import metadata_tables as MT

    enc = _mk_encrypted(spark, catalog, "pmeta_enc", partition_by=[("grp", "identity")])
    plain = catalog.create_table(
        "pmeta_plain", "id BIGINT, grp STRING, val DOUBLE",
        partition_by=[("grp", "identity")],
    )
    rows = [(i, "ab"[i % 2], i / 2) for i in range(200)]
    plain.append(_frame(spark, rows).repartition(4))
    rows_e = {
        (r.partition, r.record_count)
        for r in MT.inspect(enc, "partitions").collect()
    }
    rows_p = {
        (r.partition, r.record_count)
        for r in MT.inspect(plain, "partitions").collect()
    }
    assert rows_e == rows_p
    assert any("grp" in p for p, _ in rows_e)
    assert not any("__p_grp" in p for p, _ in rows_e)


def test_encrypted_partition_values_hive_escaped(spark, catalog):
    """A '/' or '=' in a string partition value must not corrupt the
    hive directory layout; the recorded partition tuple keeps the RAW
    value and scans read every row back."""
    t = catalog.create_table(
        "pesc_enc", "id BIGINT, grp STRING, val DOUBLE",
        partition_by=[("grp", "identity")],
        properties={"write.parquet.encryption.footer-key": "k_footer"},
    )
    vals = ["a/b", "c=d", "plain"]
    t.append(_frame(spark, [(i, vals[i % 3], float(i)) for i in range(30)]).coalesce(1))
    got = sorted(
        (r.grp, r.id) for r in t.scan().to_df().select("grp", "id").collect()
    )
    assert got == sorted((vals[i % 3], i) for i in range(30))
    # pruning on the awkward value still works
    pr = t.scan(where=E.eq("grp", "a/b"))
    assert pr.to_df().count() == 10
    assert len(pr.files()) < len(t.scan().files())


def _plain_and_encrypted(spark, catalog, name, ddl, pdf):
    """[(table, data entry)] for the rows of ``pdf`` written as one file
    to a plain table and to an encrypted one."""
    out = []
    for suffix, props in (
        ("plain", {}),
        ("enc", {"write.parquet.encryption.footer-key": "k_footer"}),
    ):
        t = catalog.create_table(f"{name}_{suffix}", ddl, properties=props)
        t.append(spark.createDataFrame(pdf, ddl).coalesce(1))
        ent = t._entries()
        out.append((t, ent[ent.content == "data"].iloc[0]))
    return out


def test_encrypted_timestamp_bounds_match_plain(spark, catalog):
    """Encrypted files carry timestamp bounds in the plain footer
    harvest's encoding (UTC wall clock, 'YYYY-MM-DD HH:MM:SS.ffffff'),
    so a range scan over an encrypted table keeps every matching file."""
    import pandas as pd

    ts = pd.to_datetime(
        ["2024-01-01 05:00", "2024-01-01 06:00", "2024-01-01 07:00", "2024-01-01 08:00"]
    )
    pdf = pd.DataFrame({"id": range(4), "ts": ts})
    (_, plain), (enc, sealed) = _plain_and_encrypted(
        spark, catalog, "tsb", "id BIGINT, ts TIMESTAMP", pdf
    )
    assert (sealed.lower, sealed.upper) == (plain.lower, plain.upper)
    want = enc.to_df().where("ts < '2024-01-01 06:30:00'").count()
    assert want == 2
    assert enc.scan(where=E.lt("ts", "2024-01-01 06:30:00")).to_df().count() == want


def test_encrypted_decimal_bounds_match_plain(spark, catalog):
    """An encrypted append with decimal columns records the bounds the
    plain footer harvest records: floats widened outward, also for a
    38-digit value above 2^53."""
    import json
    from decimal import Decimal
    from fractions import Fraction

    import pandas as pd

    big = Decimal("12345678901234567.1234567891")
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "d": [Decimal("1.25"), Decimal("3.10"), None],
            "big": [big, Decimal("-1.5"), None],
        }
    )
    (_, plain), (_, sealed) = _plain_and_encrypted(
        spark, catalog, "decb", "id BIGINT, d DECIMAL(10,2), big DECIMAL(38,10)", pdf
    )
    for k in ("lower", "upper", "nulls"):
        assert sealed[k] == plain[k], k
    assert Fraction(json.loads(sealed.upper)["big"]) >= Fraction(big)
    assert Fraction(json.loads(sealed.upper)["d"]) >= Fraction(Decimal("3.10"))


def test_jvm_native_decrypt_fast_path(spark, catalog):
    """When a JDK is present, encrypted reads go through the NATIVE
    vectorized reader (no mapInArrow stage: codegen + pushdown apply);
    with SPARK_GRAFT_JVM_CRYPTO=0 the Arrow fallback returns identical
    rows.  The physical-schema probe steers promoted tables away from
    the native reader (which cannot widen int32 files)."""
    import shutil

    if not (shutil.which("javac") and shutil.which("jar")):
        pytest.skip("no JDK in this environment")
    t = _mk_encrypted(spark, catalog, "encjvm")
    df = t.to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan, "JVM fast path not engaged"
    assert "FileScan parquet" in plan
    fast = sorted((r.id, r.grp, r.val) for r in df.collect())
    os.environ["SPARK_GRAFT_JVM_CRYPTO"] = "0"
    try:
        slow_df = t.to_df()
        slow_plan = slow_df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in slow_plan, "fallback did not engage"
        assert sorted((r.id, r.grp, r.val) for r in slow_df.collect()) == fast
    finally:
        os.environ.pop("SPARK_GRAFT_JVM_CRYPTO", None)


def test_jvm_fast_path_mor_on_escaped_partition_paths(spark, catalog):
    """MoR position joins survive the JVM fast path on partition
    directories with URI-unsafe characters: _metadata.file_path is
    percent-encoded (space -> %20, %% -> %25), so the read maps URIs
    back to the manifest's raw paths exactly."""
    t = catalog.create_table(
        "encesc",
        "id BIGINT, grp STRING, val DOUBLE",
        partition_by=[("grp", "identity")],
        properties={"write.parquet.encryption.footer-key": "k_footer"},
    )
    rows = [(i, "a b%c" if i % 2 else "plain", float(i)) for i in range(20)]
    df = _frame(spark, rows).coalesce(1)
    t.append(df)
    # MoR delete rides the need_pos read: positions must match files
    t.delete(E.lt("id", 5), mode="merge-on-read")
    got = sorted(r.id for r in t.to_df().collect())
    assert got == list(range(5, 20)), got
    # rows in the escaped partition specifically survived/deleted right
    esc = sorted(r.id for r in t.to_df().filter("grp = 'a b%c'").collect())
    assert esc == [i for i in range(5, 20) if i % 2 == 1], esc
    # CROSS-PATH consistency: delete positions written via the fast
    # path must carry the manifest's RAW paths, so the Arrow fallback
    # sees the same table (a percent-encoded posdel path would make
    # deleted rows silently resurface on the fallback read)
    os.environ["SPARK_GRAFT_JVM_CRYPTO"] = "0"
    try:
        arrow = sorted(r.id for r in t.to_df().collect())
        assert arrow == got, f"fast-path vs Arrow divergence: {arrow[:8]}..."
    finally:
        os.environ.pop("SPARK_GRAFT_JVM_CRYPTO", None)


def test_kms_client_cache_lifetime_pinned(spark, catalog, monkeypatch):
    """The driver-side warm-up parks the KmsClient in parquet-mr
    KeyToolkit's static per-token cache; executor task threads can NEVER
    re-instantiate it (Configuration.getClassByName does not see session
    ADD JARs, and negative lookups cache permanently).  The cache's
    default lifetime is 600 s, so any encrypted read >10 min after the
    warm-up crashed with ClassNotFoundException (observed r15: the
    bench's sf1 lane died mid-run).  The read options must pin the
    lifetime to effectively-forever — and the failure mode must actually
    reproduce when the lifetime is short, proving the pin is
    load-bearing."""
    import shutil
    import time

    if not (shutil.which("javac") and shutil.which("jar")):
        pytest.skip("no JDK in this environment")
    # contract: the option is present and far beyond the 600-s default
    opts = PC._jvm_read_options("tok")
    assert int(opts["parquet.encryption.cache.lifetime.seconds"]) >= 86400 * 365

    t = _mk_encrypted(spark, catalog, "enclife")
    assert t.to_df().count() == 200  # native path, cache warm

    # the first pinned-lifetime read also fixes KeyToolkit's cleanup
    # schedule for the whole JVM (checkCacheEntriesForExpiredTokens
    # runs at most once per lifetime), so even a later read that asked
    # for a short lifetime cannot evict the warmed client — reads keep
    # working indefinitely after the one driver-side warm-up
    orig = PC._jvm_read_options

    def short(keyspec):
        o = orig(keyspec)
        o["parquet.encryption.cache.lifetime.seconds"] = "2"
        return o

    monkeypatch.setattr(PC, "_jvm_read_options", short)
    t.to_df().count()
    time.sleep(3)
    assert t.to_df().count() == 200  # would have crashed under eviction
    monkeypatch.undo()
    assert t.to_df().count() == 200
