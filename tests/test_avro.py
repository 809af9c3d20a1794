"""Avro: pure-Python OCF codec + managed avro tables.

Parity target: the reference's Avro file format
(core/src/main/java/org/apache/iceberg/avro/Avro.java) — row-oriented
readers/writers (ValueReaders.java; Avro is never vectorized there),
write-time metrics, and the full row-level op surface.

The codec (table/avro_codec.py) is validated three ways: python→python
roundtrip, python→JVM (Apache Avro 1.12 on Spark's classpath reads our
files), and JVM→python.
"""

from __future__ import annotations

import datetime
import math

import pytest

from iceberg_geo_poc_spark.table import avro_codec as A
from iceberg_geo_poc_spark.table import expressions as E
from iceberg_geo_poc_spark.table.catalog import Catalog

NAN = float("nan")

FIELDS = [
    ("k", "bigint"),
    ("s", "string"),
    ("x", "double"),
    ("b", "boolean"),
    ("d", "date"),
    ("t", "timestamp"),
    ("raw", "binary"),
]

COLS = {
    "k": [1, None, -(2**62), 48831927308626283],
    "s": ["héllo", "", None, "z" * 300],
    "x": [1.5, NAN, None, -0.0],
    "b": [True, False, None, True],
    "d": [
        datetime.date(2020, 1, 1),
        None,
        datetime.date(1969, 12, 31),
        datetime.date(2026, 8, 14),
    ],
    "t": [
        datetime.datetime(2020, 1, 1, 12, 30, 15, 123456),
        None,
        datetime.datetime(1970, 1, 1),
        datetime.datetime(2030, 6, 1),
    ],
    "raw": [b"\x00\xff", None, b"", b"abc"],
}


def _assert_columns_equal(got: dict, want: dict):
    for name, wvals in want.items():
        for g, w in zip(got[name], wvals):
            if isinstance(w, float) and math.isnan(w):
                assert math.isnan(g)
            else:
                assert g == w, (name, g, w)


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_codec_roundtrip(tmp_path, codec):
    p = str(tmp_path / f"t_{codec}.avro")
    n = A.write_avro(p, COLS, FIELDS, codec=codec)
    assert n == 4
    kinds, back = A.read_avro(p)
    assert [k[0] for k in kinds] == [f[0] for f in FIELDS]
    _assert_columns_equal(back, COLS)


def test_codec_multi_block(tmp_path):
    p = str(tmp_path / "blocks.avro")
    cols = {"k": list(range(10_000)), "s": [f"r{i}" for i in range(10_000)]}
    A.write_avro(p, cols, [("k", "bigint"), ("s", "string")], block_rows=512)
    _, back = A.read_avro(p)
    assert back["k"] == cols["k"]
    assert back["s"] == cols["s"]


def test_jvm_interop_both_directions(tmp_path, spark):
    """Files from this codec read by Apache Avro (JVM), and vice versa —
    the strongest spec-conformance check available in this environment."""
    p = str(tmp_path / "py.avro")
    A.write_avro(p, COLS, FIELDS, codec="deflate")
    jvm = spark._jvm
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(p), reader)
    rows = []
    while dfr.hasNext():
        rows.append(dfr.next())
    assert len(rows) == 4
    assert rows[0].get("k") == 1
    assert str(rows[0].get("s")) == "héllo"
    assert rows[0].get("x") == 1.5
    assert rows[0].get("d") == 18262  # days since epoch (date logical)
    assert rows[0].get("t") == 1577881815123456  # micros (timestamp logical)
    assert rows[3].get("k") == 48831927308626283  # > 2^53 exact
    schema = dfr.getSchema()

    # JVM-written file -> python codec
    w = jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    dfw = jvm.org.apache.avro.file.DataFileWriter(w)
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    jp = str(tmp_path / "jvm.avro")
    dfw.create(schema, jvm.java.io.File(jp))
    rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
    rec.put("k", jvm.java.lang.Long.valueOf("9007199254740999"))
    rec.put("s", "from-jvm")
    rec.put("x", 2.25)
    rec.put("b", True)
    dfw.append(rec)
    dfw.close()
    _, cols = A.read_avro(jp)
    assert cols["k"] == [9007199254740999]
    assert cols["s"] == ["from-jvm"]
    assert cols["x"] == [2.25]
    assert cols["d"] == [None]


# -- managed avro tables ----------------------------------------------------


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(str(tmp_path / "warehouse"), spark)


@pytest.fixture()
def avro_table(catalog, spark):
    import pyspark.sql.functions as F

    t = catalog.create_table(
        "av", "k bigint, s string, x double, d date", file_format="avro"
    )
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("doc-"), F.col("id")).alias("s"),
        (F.col("id") * 1.5).alias("x"),
        F.date_add(
            F.lit("2020-01-01").cast("date"), (F.col("id") % 365).cast("int")
        ).alias("d"),
    )
    # three appends with disjoint key ranges -> prunable files
    t.append(df.filter("k < 100").coalesce(1))
    t.append(df.filter("k >= 100 AND k < 200").coalesce(1))
    t.append(df.filter("k >= 200").coalesce(1))
    return t


def test_avro_append_scan_roundtrip(avro_table):
    assert avro_table.to_df().count() == 300
    assert len(avro_table._entries()) == 3


def test_avro_stats_pruning(avro_table):
    scan = avro_table.scan(where=E.ge("k", 250))
    assert len(scan.files()) == 1  # two files pruned on k bounds
    assert scan.to_df().count() == 50


def test_avro_cow_delete_and_update(avro_table, spark):
    import pyspark.sql.functions as F

    avro_table.delete(E.lt("k", 50))
    assert avro_table.to_df().count() == 250
    avro_table.update({"x": F.lit(-1.0)}, E.eq("k", 150))
    assert avro_table.to_df().filter("x = -1.0").count() == 1


def test_avro_mor_position_deletes(avro_table):
    # ORC cannot do this (_metadata.row_index is parquet-only); the avro
    # DataSource synthesizes __pos during sequential decode
    avro_table.delete(E.ge("k", 280), mode="merge-on-read")
    assert avro_table.to_df().count() == 280
    ent = avro_table._entries()
    assert (ent.content == "posdel").sum() == 1


def test_avro_nan_counts_and_is_nan(catalog, spark):
    import pyspark.sql.functions as F

    t = catalog.create_table("avn", "k bigint, x double", file_format="avro")
    df = spark.range(0, 10).select(
        "id",
        F.when(F.col("id") % 3 == 0, F.lit(NAN)).otherwise(F.col("id") * 1.0).alias("x"),
    ).withColumnRenamed("id", "k")
    t.append(df.coalesce(1))
    import json

    nans = json.loads(t._entries().iloc[0]["nans"])
    assert nans["x"] == 4
    assert t.scan(where=E.is_nan("x")).to_df().count() == 4


def test_avro_rejects_partitioning(catalog):
    with pytest.raises(ValueError, match="unpartitioned"):
        catalog.create_table(
            "avp", "k bigint", partition_by=[("k", "bucket[4]")], file_format="avro"
        )


def test_avro_rejects_geometry(catalog):
    with pytest.raises(ValueError, match="parquet"):
        catalog.create_table(
            "avg",
            "k bigint, geom binary",
            geometry_columns={"geom": "wkb"},
            file_format="avro",
        )


def test_avro_rejects_unencodable_column_on_the_driver(catalog):
    """A column type the avro codec cannot encode fails at create_table
    and add_columns, naming the column, instead of inside every later
    append's Python worker."""
    with pytest.raises(ValueError, match="'price'"):
        catalog.create_table(
            "avdec", "k bigint, price decimal(10,2)", file_format="avro"
        )
    catalog.create_table("avdec2", "k bigint", file_format="avro")
    with pytest.raises(ValueError, match="'price'"):
        catalog.add_columns("avdec2", "price decimal(10,2)")
    assert catalog.load_table("avdec2").columns() == ["k"]


def test_avro_compaction(avro_table):
    from iceberg_geo_poc_spark.table.maintenance import rewrite_data_files

    rewrite_data_files(avro_table, target_file_size=1 << 30)
    avro_table.refresh()
    assert avro_table.to_df().count() == 300
    assert len(avro_table._entries()) == 1


# -- property-based codec roundtrip ----------------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _VALUE_STRATEGIES = {
        "bigint": st.one_of(
            st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)
        ),
        "double": st.one_of(
            st.none(), st.floats(allow_nan=True, allow_infinity=True, width=64)
        ),
        "string": st.one_of(st.none(), st.text(max_size=40)),
        "boolean": st.one_of(st.none(), st.booleans()),
        "binary": st.one_of(st.none(), st.binary(max_size=40)),
        "date": st.one_of(
            st.none(),
            st.dates(
                min_value=datetime.date(1, 1, 1),
                max_value=datetime.date(9999, 12, 31),
            ),
        ),
    }

    @st.composite
    def _avro_frame(draw):
        types = draw(
            st.lists(
                st.sampled_from(sorted(_VALUE_STRATEGIES)), min_size=1, max_size=5
            )
        )
        n = draw(st.integers(min_value=0, max_value=60))
        fields = [(f"c{i}", t) for i, t in enumerate(types)]
        cols = {
            name: draw(
                st.lists(_VALUE_STRATEGIES[t], min_size=n, max_size=n)
            )
            for name, t in fields
        }
        return fields, cols

    @settings(max_examples=40, deadline=None)
    @given(frame=_avro_frame(), codec=st.sampled_from(["null", "deflate"]))
    def test_codec_roundtrip_property(tmp_path_factory, frame, codec):
        fields, cols = frame
        p = str(tmp_path_factory.mktemp("avro") / "prop.avro")
        n = A.write_avro(p, cols, fields, codec=codec, block_rows=7)
        kinds, back = A.read_avro(p)
        assert n == (len(next(iter(cols.values()))) if cols else 0)
        _assert_columns_equal(back, cols)

except ImportError:  # pragma: no cover - hypothesis is in the image
    pass
