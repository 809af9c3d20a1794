"""Avro managed-table integration: distributed writes + a Python
DataSource reader.

Spark-first split (no spark-avro jar in this environment; the codec is
``table/avro_codec.py``, built from the public Avro 1.12 spec and
interop-tested against the Apache Avro JVM library on Spark's
classpath):

- WRITE: ``write_avro_files`` hands the avro codec call to
  ``manifest.write_files_in_task``, the in-task writer it shares with
  the modular-encrypted parquet path: one ``mapInArrow`` job, each task
  writes its partition as one ``.avro`` container and returns its stats
  from ``manifest.arrow_stats``, the one Arrow stats kernel — the
  write-time-metrics accumulation the reference does in its Avro
  writers (core/.../avro/Avro.java + FloatFieldMetrics.java).  Arrow
  batches keep NULL distinct from NaN (a pandas float column would
  conflate them).
- READ: DataSource ``igps_avro`` with one InputPartition per file;
  ``read()`` decodes on the executor and yields Arrow record batches.
  Row-oriented decode mirrors the reference, whose Avro path is
  per-row ValueReaders (never vectorized), unlike Parquet.
- Position deletes WORK on avro tables (unlike ORC, which lacks
  ``_metadata.row_index``): the reader synthesizes ``__file_path`` /
  ``__pos`` during its sequential decode when asked.
"""

from __future__ import annotations

import json
from typing import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from iceberg_geo_poc_spark.table import avro_codec as AC

FORMAT_NAME = "igps_avro"


def _ddl_pairs(schema_ddl: str) -> list[tuple[str, str]]:
    from pyspark.sql.types import StructType

    return [
        (f.name, f.dataType.simpleString())
        for f in StructType.fromDDL(schema_ddl).fields
    ]


# -- reader -----------------------------------------------------------------


class _AvroPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _AvroReader(DataSourceReader):
    """Holds the PRE-PARSED arrow schema: ``StructType.fromDDL`` needs
    an active SparkSession, which executors don't have — everything
    schema-shaped is resolved on the driver and pickled."""

    def __init__(self, paths: list[str], arrow_schema, with_pos: bool):
        self.paths = paths
        self.arrow_schema = arrow_schema
        self.with_pos = with_pos

    def partitions(self) -> Sequence[InputPartition]:
        return [_AvroPartition(p) for p in self.paths]

    def read(self, partition: _AvroPartition) -> Iterator:
        import pyarrow as pa

        # build arrow arrays from the raw decoded values, NOT through
        # pandas: a float64 pandas column conflates NULL with NaN (and
        # pyarrow then nulls the NaNs back out) — Arrow keeps them
        # distinct, which the engine's NaN metrics/predicates rely on
        _, columns = AC.read_avro(partition.path)
        n = len(next(iter(columns.values()))) if columns else 0
        if self.with_pos:
            columns["__file_path"] = [partition.path] * n
            columns["__pos"] = list(range(n))
        schema = self.arrow_schema
        cols = [
            pa.array(
                columns.get(schema.field(i).name, [None] * n),
                type=schema.field(i).type,
                from_pandas=False,
            )
            for i in range(len(schema))
        ]
        yield from pa.table(cols, schema=schema).to_batches()


class AvroFileDataSource(DataSource):
    """``format("igps_avro").schema(ddl).option("paths", json list)``;
    option ``with_pos=true`` appends ``__file_path``/``__pos`` columns
    (the caller's schema must include them)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        ddl = self.options.get("schema_ddl")
        if not ddl:
            raise ValueError("igps_avro requires .schema(...) or schema_ddl option")
        return ddl

    def reader(self, schema) -> DataSourceReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        paths = json.loads(self.options["paths"])
        with_pos = str(self.options.get("with_pos", "false")).lower() == "true"
        return _AvroReader(paths, to_arrow_schema(schema), with_pos)


_REGISTERED: set[int] = set()


def register(spark) -> None:
    key = id(spark)
    if key in _REGISTERED:
        return
    spark.dataSource.register(AvroFileDataSource)
    _REGISTERED.add(key)


def read_avro_df(spark, paths: list[str], schema_ddl: str, with_pos: bool = False):
    register(spark)
    ddl = schema_ddl
    if with_pos:
        ddl = ddl + ", __file_path string, __pos bigint"
    return (
        spark.read.format(FORMAT_NAME)
        .schema(ddl)
        .option("paths", json.dumps(paths))
        .option("with_pos", str(with_pos).lower())
        .load()
    )


# -- writer -----------------------------------------------------------------


def write_avro_files(df, stage: str, schema_ddl: str) -> list[dict]:
    """Distributed avro write: one container file per Spark partition
    through the shared in-task writer; returns the files' raw stats."""
    from iceberg_geo_poc_spark.table.manifest import write_files_in_task

    fields = _ddl_pairs(schema_ddl)

    def write_file(path: str, tbl) -> None:
        columns = {name: tbl.column(name).to_pylist() for name, _ in fields}
        AC.write_avro(path, columns, fields)

    return write_files_in_task(df, stage, ".avro", write_file)
