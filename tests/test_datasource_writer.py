"""Python DataSource WRITE path: df.write.format("iceberg_geo_poc")."""

from __future__ import annotations

import json
import math

import pyspark.sql.functions as F
import pytest

from iceberg_geo_poc_spark.table import Catalog, E


@pytest.fixture()
def catalog(spark, tmp_path):
    spark.dataSource.register(
        __import__(
            "iceberg_geo_poc_spark.streaming.datasource",
            fromlist=["TableDataSource"],
        ).TableDataSource
    )
    return Catalog(str(tmp_path / "wh"), spark)


def _write(df, t, mode="append"):
    (
        df.write.format("iceberg_geo_poc")
        .option("location", t.location)
        .mode(mode)
        .save()
    )


def test_append_commits_with_stats_and_prunes(spark, catalog):
    t = catalog.create_table("w", "id BIGINT, v DOUBLE")
    df = spark.range(1000).select("id", (F.col("id") * 0.5).alias("v"))
    _write(df.repartitionByRange(4, "id"), t)
    t = catalog.load_table("w")
    assert t.to_df().count() == 1000
    assert len(t.meta.snapshots) == 1
    assert t.meta.snapshots[0].summary.get("writer") == "datasource"
    # footer-harvested stats reach the manifest -> scans prune
    scan = t.scan(where=E.ge("id", 990))
    assert len(scan.files()) < scan.total_data_files()
    assert sorted(r.id for r in scan.to_df().collect()) == list(
        range(990, 1000)
    )
    # fast-append: second write reuses parent manifests
    _write(df.limit(10), t)
    t = catalog.load_table("w")
    assert t.to_df().count() == 1010
    assert len(t.meta.snapshots[-1].manifest_list()) == 2


def test_overwrite_mode_replaces_all(spark, catalog):
    t = catalog.create_table("o", "id BIGINT")
    _write(spark.range(50).select("id"), t)
    _write(spark.range(100, 105).select("id"), catalog.load_table("o"), "overwrite")
    t = catalog.load_table("o")
    assert sorted(r.id for r in t.to_df().collect()) == list(range(100, 105))
    # time travel still reaches the pre-overwrite snapshot
    first = t.meta.snapshots[0].snapshot_id
    assert t.to_df(snapshot_id=first).count() == 50


def test_nan_counts_tallied_from_batches(spark, catalog):
    t = catalog.create_table("nan", "id BIGINT, x DOUBLE")
    df = spark.range(100).select(
        "id",
        F.when(F.col("id") % 10 == 0, float("nan")).otherwise(
            F.col("id") * 1.0
        ).alias("x"),
    )
    _write(df.coalesce(1), t)
    t = catalog.load_table("nan")
    ent = t._entries()
    nans = json.loads(ent[ent.content == "data"].iloc[0]["nans"])
    assert nans.get("x") == 10
    # NOT_NAN predicate honors the counted NaNs
    rows = t.scan(where=E.not_nan("x")).to_df().collect()
    assert len(rows) == 90 and all(not math.isnan(r.x) for r in rows)


def test_renamed_columns_write_under_physical_names(spark, catalog):
    t = catalog.create_table("rn", "a BIGINT, b STRING")
    catalog.rename_column("rn", "a", "ident")
    t = catalog.load_table("rn")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "ident BIGINT, b STRING")
    _write(df, t)
    t = catalog.load_table("rn")
    assert sorted((r.ident, r.b) for r in t.to_df().collect()) == [
        (1, "x"), (2, "y")
    ]


def test_writer_refusals(spark, catalog):
    df = spark.range(5).select("id")
    # schema mismatch
    t = catalog.create_table("s", "id BIGINT, v DOUBLE")
    with pytest.raises(Exception, match="schema mismatch"):
        _write(df, t)
    # partitioned tables refused
    tp = catalog.create_table(
        "p", "id BIGINT", partition_by=[("id", "bucket[4]")]
    )
    with pytest.raises(Exception, match="partitioned"):
        _write(df, tp)
    # geometry tables refused
    tg = catalog.create_table(
        "g", "id BIGINT, geom BINARY", geometry_columns={"geom": "wkb"}
    )
    with pytest.raises(Exception, match="geometry"):
        _write(
            spark.range(5).select("id", F.lit(b"").alias("geom")), tg
        )


def test_stream_writer_epoch_commits_and_replay(spark, catalog, tmp_path):
    """Streaming write through the DataSource: one snapshot per
    micro-batch epoch with (query-id, epoch-id) in the summary; a
    replayed epoch skips the commit and removes its re-staged files."""
    import os

    t = catalog.create_table("dss", "a BIGINT, v DOUBLE")
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, float(j)) for j in range(5)], "a BIGINT, v DOUBLE"
        ).coalesce(1).write.parquet(f"{src_dir}/f{i}")
        for f in os.listdir(f"{src_dir}/f{i}"):
            if f.endswith(".parquet"):
                os.rename(f"{src_dir}/f{i}/{f}", f"{src_dir}/b{i}.parquet")
    q = (
        spark.readStream.schema("a BIGINT, v DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .writeStream.format("iceberg_geo_poc")
        .option("location", t.location)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t = catalog.load_table("dss")
    assert t.to_df().count() == 15
    epochs = [
        s.summary.get("streaming.epoch-id")
        for s in t.meta.snapshots
        if s.summary.get("streaming.query-id")
    ]
    assert len(epochs) == 3 and len(set(epochs)) == 3
    # manual replay of a committed epoch: no new snapshot, files cleaned
    from iceberg_geo_poc_spark.streaming.datasource import _StreamAppendWriter

    # replay keying is per QUERY RUN (ADVICE r10): reconstruct the
    # original run's token from its committed query-id so this writer
    # counts as the same stream replaying epoch 0
    qid = next(
        s.summary["streaming.query-id"]
        for s in t.meta.snapshots
        if s.summary.get("streaming.query-id")
    )
    token = qid.split("datasource-stream:", 1)[1]
    w = _StreamAppendWriter(t.location, {}, query_token=token)
    rows = spark.createDataFrame([(99, 1.0)], "a BIGINT, v DOUBLE").collect()
    msg = w.write(iter(rows))
    staged = msg.entry["file_path"]
    assert os.path.exists(staged)
    w.commit([msg], int(epochs[0]))
    assert not os.path.exists(staged)  # replay: re-staged file dropped
    t2 = catalog.load_table("dss")
    assert t2.to_df().count() == 15
    assert len(t2.meta.snapshots) == len(t.meta.snapshots)
    # streaming overwrite (complete mode) refused at plan time
    from iceberg_geo_poc_spark.streaming.datasource import TableDataSource

    ds = TableDataSource({"location": t.location})
    schema = spark.createDataFrame([], "a BIGINT, v DOUBLE").schema
    with pytest.raises(ValueError, match="streaming overwrite"):
        ds.streamWriter(schema, True)


def test_stream_writer_keeps_nan_apart_from_null(spark, catalog):
    """A streamed NaN stays a NaN: for a NaN row and a NULL row the
    manifest counts one NaN and one NULL (a pandas round trip in the
    write task stored the NaN as a second NULL)."""
    from pyspark.sql import Row

    from iceberg_geo_poc_spark.streaming.datasource import _StreamAppendWriter

    t = catalog.create_table("dsnan", "a BIGINT, v DOUBLE")
    w = _StreamAppendWriter(t.location, {}, query_token="nan")
    rows = [Row(a=1, v=float("nan")), Row(a=2, v=None), Row(a=3, v=1.0)]
    w.commit([w.write(iter(rows))], 0)
    ent = catalog.load_table("dsnan")._entries()
    data = ent[ent.content == "data"].iloc[0]
    assert json.loads(data["nans"]).get("v") == 1
    assert json.loads(data["nulls"]).get("v") == 1
