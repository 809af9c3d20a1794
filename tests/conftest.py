from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from iceberg_geo_poc_spark.session import get_spark

    spark = get_spark("iceberg-geo-poc-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def write_each(spark, tmp_path):
    """``write_each(catalog, name, ddl, pdf, props)`` -> ``[(writer,
    table)]``: for each data-file writer (Spark's parquet writer, the
    avro writer, the modular-encrypted writer, an ``add_files`` import
    of a pyarrow-written file) a table ``<name>_<writer>`` created with
    ``props`` that holds the rows of the pandas frame ``pdf`` in one
    data file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_geo_poc_spark.table import parquet_crypto as PC

    PC.register_master_key("k_write_each", bytes(range(16)))

    def write(catalog, name, ddl, pdf, props):
        out = []
        for writer in ("parquet", "avro", "encrypted", "add_files"):
            tname = f"{name}_{writer}"
            tprops = dict(props)
            if writer == "encrypted":
                tprops["write.parquet.encryption.footer-key"] = "k_write_each"
            fmt = "avro" if writer == "avro" else "parquet"
            t = catalog.create_table(tname, ddl, properties=tprops, file_format=fmt)
            if writer == "add_files":
                path = str(tmp_path / f"{tname}.parquet")
                pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
                t = catalog.add_files(tname, [path])
            else:
                t.append(spark.createDataFrame(pdf, ddl).coalesce(1))
            out.append((writer, t))
        return out

    return write
