"""Python DataSource: managed tables as a REAL Structured Streaming
source (and a batch source), registered as format "iceberg_geo_poc".

This is the engine's analogue of the reference's DSv2 integration
(spark/.../source/SparkMicroBatchStream.java:68-117 — offsets are
snapshot positions, admission via max files per batch;
HavasuIcebergSource.java:29-34 — the named format).  PySpark 4's
DataSource API runs the *planning* callbacks on the driver and
``read(partition)`` on executors, exactly the split the reference has
between MicroBatchStream (driver) and PartitionReader (executor):

- offsets are JSON dicts ``{"snapshot_id": ...}`` checkpointed by the
  streaming engine — restarts resume exactly-once from the checkpoint,
- ``partitions(start, end)`` = files appended along the snapshot
  ancestry between the two offsets (one InputPartition per data file),
- ``read`` yields Arrow record batches straight from the parquet file
  (no Python row loop).

Usage::

    spark.dataSource.register(TableDataSource)
    (spark.readStream.format("iceberg_geo_poc")
        .option("location", table.location).load()
        .writeStream...)

The streaming source consumes APPENDS (like the reference's stream,
which errors on overwrites unless configured to skip); the batch path
serves delete-free snapshots and refuses merge-on-read state (use the
engine scan API for that).
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)

FORMAT_NAME = "iceberg_geo_poc"


class _FilePartition(InputPartition):
    def __init__(self, path: str, cols: list[tuple[str, str]]):
        self.path = path
        self.cols = cols  # (physical name in file, logical output name)


def _read_meta(location: str) -> dict:
    """Load table metadata as plain JSON (driver-side, no SparkSession —
    the DataSource API pickles this class, so it must not hold one)."""
    mdir = os.path.join(location, "metadata")
    with open(os.path.join(mdir, "version-hint.text")) as f:
        version = int(f.read().strip())
    # the hint may lag a just-committed version; roll forward
    while os.path.exists(os.path.join(mdir, f"v{version + 1}.metadata.json")):
        version += 1
    with open(os.path.join(mdir, f"v{version}.metadata.json")) as f:
        return json.load(f)


def _ancestry(meta: dict, to_id: int) -> list[int]:
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    chain = []
    cur = to_id
    while cur is not None:
        chain.append(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    return list(reversed(chain))


def _manifest_data_files(location: str, meta: dict, snapshot_id: int) -> list[str]:
    import pyarrow.parquet as pq

    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    path = os.path.join(location, by_id[snapshot_id]["manifest"])
    t = pq.read_table(path, columns=["content", "file_path"])
    return [
        p
        for c, p in zip(t.column("content").to_pylist(), t.column("file_path").to_pylist())
        if c == "data"
    ]


def _column_pairs(meta: dict) -> list[tuple[str, str]]:
    """(physical, logical) name pairs in schema order."""
    renames = meta.get("renames", {})
    out = []
    for f in meta["schema-ddl"].split(","):
        name = f.strip().split()[0]
        out.append((name, renames.get(name, name)))
    return out


def _conform(table, cols: list[tuple[str, str]]):
    """Project a pyarrow table to the declared schema (order + logical
    names).  Files written before an add-column carry fewer columns —
    those must go through the engine scan API instead."""
    missing = [p for p, _ in cols if p not in table.column_names]
    if missing:
        raise ValueError(
            f"data file lacks columns {missing}; read this table through "
            f"Table.scan (schema-evolution aware) instead of the DataSource"
        )
    out = table.select([p for p, _ in cols])
    out = out.rename_columns([lg for _, lg in cols])
    # Spark writes INT96 timestamps that pyarrow surfaces as ns; Spark's
    # Arrow ingestion only accepts us — normalize
    import pyarrow as pa

    fields, changed = [], False
    for f in out.schema:
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            fields.append(pa.field(f.name, pa.timestamp("us", f.type.tz)))
            changed = True
        else:
            fields.append(f)
    if changed:
        out = out.cast(pa.schema(fields))
    return out


class _StreamReader(DataSourceStreamReader):
    def __init__(self, location: str, skip_non_append: bool = False):
        self.location = location
        self.skip_non_append = skip_non_append

    def initialOffset(self) -> dict:
        return {"snapshot_id": None}

    def latestOffset(self) -> dict:
        meta = _read_meta(self.location)
        return {"snapshot_id": meta.get("current-snapshot-id")}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        end_id = end.get("snapshot_id")
        if end_id is None:
            return []
        meta = _read_meta(self.location)
        pairs = _column_pairs(meta)
        chain = _ancestry(meta, end_id)
        start_id = start.get("snapshot_id")
        if start_id is not None:
            chain = chain[chain.index(start_id) + 1:]
            base = set(_manifest_data_files(self.location, meta, start_id))
        else:
            base = set()
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        files: list[str] = []
        for sid in chain:
            cur = set(_manifest_data_files(self.location, meta, sid))
            op = by_id[sid].get("operation", "append")
            if op != "append":
                # Overwrite/compaction/MoR snapshots re-list rewritten files
                # as "new" and may carry delete files this reader cannot
                # apply — streaming them would duplicate or resurrect rows.
                # The reference SparkMicroBatchStream throws here unless
                # skip-overwrite/skip-delete is configured; mirror that.
                if self.skip_non_append:
                    base = cur
                    continue
                raise ValueError(
                    f"streaming read hit a non-append snapshot {sid} "
                    f"(operation={op!r}); set option "
                    f"skip-non-append-snapshots=true to skip it"
                )
            files.extend(sorted(cur - base))
            base = cur
        return [_FilePartition(p, pairs) for p in files if os.path.exists(p)]

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow.parquet as pq

        yield from _conform(pq.read_table(partition.path), partition.cols).to_batches()

    def commit(self, end: dict) -> None:
        pass


class _BatchReader(DataSourceReader):
    def __init__(self, location: str):
        self.location = location

    def partitions(self) -> Sequence[InputPartition]:
        meta = _read_meta(self.location)
        cur = meta.get("current-snapshot-id")
        if cur is None:
            return []
        import pyarrow.parquet as pq

        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        snap = by_id[cur]
        # fast-append snapshots carry a manifest LIST (delta manifests +
        # parent reuse); the legacy "manifest" field holds only the delta
        mpaths = snap.get("manifests") or [snap["manifest"]]
        contents, files = [], []
        for rel in mpaths:
            t = pq.read_table(
                os.path.join(self.location, rel),
                columns=["content", "file_path"],
            )
            contents += t.column("content").to_pylist()
            files += t.column("file_path").to_pylist()
        if any(c in ("posdel", "eqdel", "dv") for c in contents):
            raise ValueError(
                "batch DataSource read of a table with merge-on-read deletes: "
                "use the engine scan API (Table.scan) which applies them"
            )
        pairs = _column_pairs(meta)
        return [
            _FilePartition(p, pairs)
            for c, p in zip(contents, files)
            if c == "data" and os.path.exists(p)
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow.parquet as pq

        yield from _conform(pq.read_table(partition.path), partition.cols).to_batches()


class TableDataSource(DataSource):
    """format("iceberg_geo_poc").option("location", <table dir>)"""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        meta = _read_meta(self.options["location"])
        renames = meta.get("renames", {})
        parts = []
        for f in meta["schema-ddl"].split(","):
            toks = f.strip().split(None, 1)
            parts.append(f"{renames.get(toks[0], toks[0])} {toks[1]}")
        return ", ".join(parts)

    def reader(self, schema) -> DataSourceReader:
        return _BatchReader(self.options["location"])

    def writer(self, schema, overwrite: bool):
        """Batch write: ``df.write.format("iceberg_geo_poc")
        .option("location", ...).mode("append"|"overwrite").save()`` —
        executors write parquet + per-file stats, the driver commits a
        fast-append (or full overwrite) through the engine commit loop.
        Restrictions (use Table.append for these): geometry columns
        (bbox metrics need the geo kernel) and partitioned tables
        (DataSource tasks write unpartitioned files)."""
        location = self.options["location"]
        meta = _read_meta(location)
        if meta.get("geo-fields"):
            raise ValueError(
                "DataSource writer does not handle geometry columns "
                "(bbox metrics); use Table.append"
            )
        if meta.get("partition-spec"):
            raise ValueError(
                "DataSource writer does not handle partitioned tables; "
                "use Table.append"
            )
        if (meta.get("properties") or {}).get(
            "write.parquet.encryption.footer-key"
        ):
            raise ValueError(
                "DataSource writer would write PLAINTEXT files into a "
                "modular-encrypted table; use Table.append"
            )
        renames = meta.get("renames", {})
        # name AND type must match: a silent int32 write into a BIGINT
        # column would poison later vectorized reads
        def _norm(t: str) -> str:
            t = t.strip().lower().replace(" ", "")
            return {"integer": "int", "long": "bigint"}.get(t, t)

        declared = {}
        for f in meta["schema-ddl"].split(","):
            name, _, typ = f.strip().partition(" ")
            declared[renames.get(name, name)] = _norm(typ)
        got = {
            f.name: _norm(f.dataType.simpleString()) for f in schema.fields
        }
        if set(got) != set(declared):
            raise ValueError(
                f"schema mismatch: table columns {sorted(declared)}, "
                f"dataframe columns {sorted(got)}"
            )
        wrong = {
            c: (got[c], declared[c]) for c in got if got[c] != declared[c]
        }
        if wrong:
            raise ValueError(
                f"type mismatch (dataframe vs table): {wrong}; cast the "
                "dataframe to the table schema before writing"
            )
        physical_of = {lg: ph for ph, lg in renames.items()}
        return _ArrowAppendWriter(location, physical_of, overwrite)

    def streamReader(self, schema) -> DataSourceStreamReader:
        skip = str(
            self.options.get("skip-non-append-snapshots", "false")
        ).lower() == "true"
        return _StreamReader(self.options["location"], skip_non_append=skip)

    def streamWriter(self, schema, overwrite: bool):
        """Streaming sink through the Python DataSource API:
        ``df.writeStream.format("iceberg_geo_poc").option("location",
        ...)`` — one engine snapshot per micro-batch epoch (the
        reference's asStreamingAppend over DSv2, SparkWrite.java:181),
        with the SAME exactly-once epoch keying as append_streaming: a
        replayed batchId finds its (query-id, epoch-id) snapshot, skips
        the commit, and deletes its re-staged files.  Same restrictions
        as the batch writer (no geometry / partitions / encryption —
        use foreachBatch + Table.append for those)."""
        if overwrite:
            raise ValueError(
                "streaming overwrite through the DataSource is not "
                "supported; use foreachBatch + Table.overwrite_streaming"
            )
        # reuse the batch writer's schema/type/feature validation
        self.writer(schema, False)
        location = self.options["location"]
        meta = _read_meta(location)
        renames = meta.get("renames", {})
        physical_of = {lg: ph for ph, lg in renames.items()}
        # Epoch keying must be per-QUERY-RUN, not per-table: two queries
        # (or a restart with a fresh checkpoint) each start batchId at 0,
        # and a table-constant key would match an OLD query's epoch-0
        # snapshot and silently drop the new epoch (reference stamps the
        # streaming queryId, SparkWrite.java:181).  The checkpoint
        # location is the stable per-query identity Spark gives sinks;
        # when absent (no checkpoint configured => no replays possible)
        # fall back to a fresh token, which degrades to at-least-once
        # rather than silent loss.
        token = (
            self.options.get("checkpointLocation")
            or self.options.get("checkpointlocation")
        )
        if not token:
            import uuid as _uuid

            token = f"run-{_uuid.uuid4().hex}"
        return _StreamAppendWriter(location, physical_of, query_token=token)


# -- batch WRITE path ---------------------------------------------------------


class _FileCommit(WriterCommitMessage):
    """One task's written file as raw stats (``manifest.write_data_file``),
    or {} for a task without rows; the driver's commit turns them into
    entries through ``manifest.data_entries``."""

    def __init__(self, entry: dict):
        self.entry = entry


def _write_task_file(location: str, prefix: str, tbl, physical_of: dict) -> _FileCommit:
    """Write one task's rows, renamed to physical column names, as one
    parquet file under the table's data/ dir."""
    import uuid

    import pyarrow.parquet as pq

    from iceberg_geo_poc_spark.table import manifest as M

    tbl = tbl.rename_columns([physical_of.get(c, c) for c in tbl.column_names])
    path = os.path.join(location, "data", f"{prefix}-{uuid.uuid4().hex}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return _FileCommit(
        M.write_data_file(path, tbl, lambda p, t: pq.write_table(t, p))
    )


class _ArrowAppendWriter(DataSourceArrowWriter):
    """Executor-side: each task writes its Arrow batches as ONE parquet
    file under the table's data/ dir (no Spark-row loop, no re-read:
    stats come from ``manifest.arrow_stats`` over the rows in hand, in
    the same encodings as the footer harvest).  Driver-side: ``commit``
    turns the files' stats into entries (``manifest.data_entries``, so
    the table's metrics policy applies) and appends them through the
    engine's FAST-APPEND commit loop (delta manifest + parent reuse,
    optimistic retry, row-lineage block allocation) — the DataSource
    driver callbacks run without a SparkSession, which is fine because
    the append commit path is pure pandas/metadata.  ``abort`` deletes
    the staged files.

    The reference's analogue is SparkWrite.asBatchAppend over DSv2
    (spark/.../source/SparkWrite.java): executors write files + collect
    metrics, the driver commits once.
    """

    def __init__(self, location: str, physical_of: dict, overwrite: bool):
        self.location = location
        self.physical_of = physical_of  # logical -> physical column name
        self.overwrite = overwrite

    def write(self, iterator):
        import pyarrow as pa

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _FileCommit({})  # empty task
        return _write_task_file(
            self.location, "ds", pa.Table.from_batches(batches), self.physical_of
        )

    def commit(self, messages):
        from iceberg_geo_poc_spark.table import manifest as M
        from iceberg_geo_poc_spark.table import metadata as MD
        from iceberg_geo_poc_spark.table.table import Table

        meta = MD.read_metadata(self.location)
        entries = M.data_entries(
            [m.entry for m in messages if m is not None and m.entry], meta
        )
        t = Table(meta, spark=None)
        if self.overwrite:
            import pandas as pd

            def build(current: pd.DataFrame, seq: int) -> pd.DataFrame:
                return M.entries_dataframe(
                    [
                        dict(e, sequence_number=seq, snapshot_id=0)
                        for e in entries
                    ]
                )

            t._commit(
                "overwrite", build, {"replaced": "all", "writer": "datasource"}
            )
        else:
            t._commit(
                "append",
                summary={"added-files": len(entries), "writer": "datasource"},
                append_entries=entries,
            )

    def abort(self, messages):
        for m in messages or []:
            if m is not None and getattr(m, "entry", None):
                p = m.entry.get("file_path")
                if p and os.path.exists(p):
                    os.remove(p)


class _StreamAppendWriter(DataSourceStreamWriter):
    """Per-epoch streaming append (reference SparkWrite streaming
    commits: snapshots carry the epoch id; replays are detected and
    skipped).  Executor tasks receive ROW iterators (the streaming
    writer API is row-based, unlike DataSourceArrowWriter) — rows
    buffer into one Arrow table (built straight from the rows: a pandas
    round trip would turn NaN into NULL) and write one parquet file per
    non-empty task with Arrow-computed stats, identical on-disk form to
    the batch writer's output."""

    def __init__(self, location: str, physical_of: dict, query_token: str):
        self.location = location
        self.physical_of = physical_of
        self.query_token = query_token

    def _query_key(self) -> str:
        return f"datasource-stream:{self.query_token}"

    def write(self, iterator):
        import pyarrow as pa

        rows = [r.asDict() for r in iterator]
        if not rows:
            return _FileCommit({})
        tbl = pa.Table.from_pylist(rows)
        return _write_task_file(self.location, "dss", tbl, self.physical_of)

    def commit(self, messages, batchId: int) -> None:
        from iceberg_geo_poc_spark.table import manifest as M
        from iceberg_geo_poc_spark.table import metadata as MD
        from iceberg_geo_poc_spark.table.table import Table

        files = [m.entry for m in messages if m is not None and m.entry]
        meta = MD.read_metadata(self.location)
        eid = str(int(batchId))
        for s in meta.snapshots:
            if (
                s.summary.get("streaming.query-id") == self._query_key()
                and s.summary.get("streaming.epoch-id") == eid
            ):
                # epoch replay: the snapshot landed before the failure —
                # drop this retry's re-staged files and move on
                for f in files:
                    if os.path.exists(f["file_path"]):
                        os.remove(f["file_path"])
                return
        entries = M.data_entries(files, meta)
        if not entries:
            return
        t = Table(meta, spark=None)
        t._commit(
            "append",
            summary={
                "added-files": len(entries),
                "writer": "datasource-stream",
                "streaming.query-id": self._query_key(),
                "streaming.epoch-id": eid,
            },
            append_entries=entries,
        )

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m is not None and getattr(m, "entry", None):
                p = m.entry.get("file_path")
                if p and os.path.exists(p):
                    os.remove(p)
