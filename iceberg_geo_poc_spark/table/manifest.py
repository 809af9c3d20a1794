"""Manifests: per-file entries with column stats + geometry bboxes.

Analogue of the reference's manifest files (reference
api/src/main/java/org/apache/iceberg/DataFile.java:30-140 for the
entry fields; the fork's geom_lower_bounds/geom_upper_bounds maps at
DataFile.java:87-98).  Stored as Parquet (readable by Spark/pandas for
metadata tables) with stats maps flattened to JSON columns.

Stats sourcing:
- files Spark writes (plain parquet): primitive min/max/null-counts come
  free from the Parquet footers (harvested driver-side with pyarrow,
  thread pool over files — the analogue of reference
  ParquetUtil.footerMetrics);
- files written from Arrow inside a task (avro, modular-encrypted
  parquet, the DataSource writers): ``arrow_stats`` over the rows just
  written, encoded exactly as the footer harvest encodes;
- geometry bboxes (the analogue of write-time
  GeometryFieldMetrics.java:33-90 accumulation) come from one Arrow
  reduction, ``arrow_bbox``: on the driver over the just-written files
  of a small write, inside the write task for Arrow-written files;
  a write above ``BBOX_DRIVER_MAX_BYTES`` of geometry runs one
  distributed aggregation grouped by input file instead;
- the same pass records, per WKB/EWKB geometry column, whether every
  non-null value is a plain point (21 bytes, little-endian XY, header
  ``01 01000000``).  A scan whose kept files all carry the flag runs
  ``st_intersects`` against a rectangle in the JVM instead of Python.
  A missing flag (string encodings, other writers, older manifests)
  means unknown.

Whatever the source, ``data_entries`` is the one place a data file's
raw stats become a manifest entry, under the table's metrics policy.

Values in the JSON stats maps: numbers/strings/bools natively;
timestamps as UTC 'YYYY-MM-DD HH:MM:SS.ffffff' strings and dates as
'YYYY-MM-DD' (lexicographic order == chronological order, so range
pruning against ISO-string literals stays correct); decimals as floats
widened outward.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import uuid
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow.parquet as pq

from iceberg_geo_poc_spark.table.expressions import FileStats

MANIFEST_COLUMNS = [
    "content",  # "data" | "posdel" | "eqdel"
    "file_path",
    "file_size",
    "record_count",
    "sequence_number",
    "snapshot_id",  # snapshot that added the file
    "partition",  # JSON object {field_name: value}
    "lower",  # JSON {col: min}
    "upper",  # JSON {col: max}
    "nulls",  # JSON {col: null_count}
    "nans",  # JSON {col: nan_count} — float/double columns only
    "bbox",  # JSON {geo_col: [xmin, ymin, xmax, ymax]}
    "points",  # JSON {geo_col: bool} — every non-null value a plain XY point
    "eq_cols",  # JSON [col, ...] — equality-delete key columns (eqdel only)
    "dv",  # JSON {referenced, offset, length} — deletion-vector blob ref (dv only)
    "first_row_id",  # row-lineage block start (data entries; null until assigned)
]


def _enc_stat(v, direction: int):
    """One JSON bound: ``direction`` -1 for a lower bound, +1 for an
    upper one.  Timestamps become UTC wall clock, decimals widen
    outward (:func:`_dec_raw`), NaN and binary give no bound."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, bytes):
        return None  # binary stats not tracked
    if isinstance(v, float):
        # parquet-mr orders doubles with Double.compareTo, so a file
        # containing NaN gets max=NaN in its footer — that is "largest
        # value unknown", not a usable bound.  Record it as missing
        # (the reference's write path never emits NaN bounds either:
        # MetricsUtil skips NaN when building lower/upper).
        return None if math.isnan(v) else v
    if isinstance(v, (int, str)):
        return v
    if isinstance(v, decimal.Decimal):
        sign, digits, exp = v.as_tuple()
        raw = int("".join(map(str, digits)) or "0") * 10 ** max(exp, 0)
        return _dec_raw(-raw if sign else raw, max(-exp, 0), direction)
    return None


def _decimal_scale(f, name: str):
    """Scale of a top-level decimal column, else None (footer schema is
    already in memory; no extra IO)."""
    import pyarrow as pa

    try:
        field = f.schema_arrow.field(name)
    except KeyError:
        return None
    return field.type.scale if pa.types.is_decimal(field.type) else None


def _dec_raw(raw, scale: int, direction: int) -> float:
    """Decimal bound from the footer's RAW unscaled statistic: Spark
    writes decimal(p<=18) as INT32/INT64 unscaled ints, larger
    precisions as big-endian two's-complement FIXED_LEN_BYTE_ARRAY.

    ``direction`` rounds the float DIRECTIONALLY (-1 toward -inf for
    lower bounds, +1 toward +inf for upper bounds): above ~15 digits
    nearest-float rounding could move a bound INWARD, which both
    misprunes inclusive scans (lower bound rounded up skips a matching
    file) and corrupts the STRICT all-match evaluator (a max rounded
    down lets a metadata-only delete drop a file containing survivors).
    Widening-only bounds keep pruning sound at any precision."""
    from fractions import Fraction

    if isinstance(raw, bytes):
        raw = int.from_bytes(raw, "big", signed=True)
    v = float(raw) / (10 ** scale)
    if math.isinf(v) or math.isnan(v):
        return v
    exact = Fraction(raw, 10 ** scale)
    # float(raw) and the division each round once — walk at most a few
    # ulps until the float is on the WIDE side of the exact value
    while direction < 0 and Fraction(v) > exact:
        v = math.nextafter(v, -math.inf)
    while direction > 0 and Fraction(v) < exact:
        v = math.nextafter(v, math.inf)
    # ...then walk BACK to the MINIMAL wide float: the two roundings
    # can overshoot by an ulp, and a needlessly-wide bound costs
    # pruning (still sound either way; this keeps it tight)
    while direction < 0 and Fraction(math.nextafter(v, math.inf)) <= exact:
        v = math.nextafter(v, math.inf)
    while direction > 0 and Fraction(math.nextafter(v, -math.inf)) >= exact:
        v = math.nextafter(v, -math.inf)
    return v


def harvest_footer_stats(path: str) -> tuple[int, int, dict, dict, dict, dict]:
    """(record_count, file_size, lower, upper, nulls, nan_hint) from one
    footer.

    ``nan_hint`` maps each top-level FLOAT/DOUBLE column to a bool: may
    this file contain NaN?  parquet-mr orders doubles by
    ``Double.compareTo`` (NaN greatest), so a Spark-written file
    containing any NaN has max=NaN in its footer — an exact presence
    signal that lets the writer skip the distributed NaN-count job when
    no file needs it.  Missing/truncated stats hint True (unknown ⇒
    count).  NOTE: valid only for parquet-mr writers; imported files of
    unknown origin (pyarrow strips NaN from bounds) must be counted
    unconditionally (see Catalog.add_files).
    """
    from iceberg_geo_poc_spark.table.fileio import io_for

    f = pq.ParquetFile(_parquet_source(path))
    meta = f.metadata
    lower: dict = {}
    upper: dict = {}
    nulls: dict = {}
    nan_hint: dict = {}
    # only top-level primitive columns: path without '.' nesting
    for rg_i in range(meta.num_row_groups):
        rg = meta.row_group(rg_i)
        for col_i in range(rg.num_columns):
            col = rg.column(col_i)
            name = col.path_in_schema
            if "." in name:
                continue
            is_float = col.physical_type in ("FLOAT", "DOUBLE")
            st = col.statistics
            if st is None:
                if is_float:
                    nan_hint[name] = True
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if is_float:
                hinted = not st.has_min_max or any(
                    isinstance(x, float) and math.isnan(x) for x in (st.min, st.max)
                )
                nan_hint[name] = nan_hint.get(name, False) or hinted
            if st.has_min_max:
                try:
                    lo = _enc_stat(st.min, -1)
                    hi = _enc_stat(st.max, +1)
                except Exception:  # noqa: BLE001
                    # pyarrow cannot materialize min/max for Spark's
                    # int-backed DECIMAL (ArrowNotImplementedError —
                    # this crashed every append carrying a decimal
                    # column, code-review r12).  The RAW unscaled stats
                    # are still in the footer: rescale them so decimal
                    # columns keep min/max pruning; anything else
                    # degrades to no bounds (inclusive might-match —
                    # pruning lost, correctness kept).
                    lo = hi = None
                    scale = _decimal_scale(f, name)
                    if scale is not None:
                        try:
                            lo = _dec_raw(st.min_raw, scale, -1)
                            hi = _dec_raw(st.max_raw, scale, +1)
                        except Exception:  # noqa: BLE001
                            lo = hi = None
                if lo is not None:
                    lower[name] = lo if name not in lower else min(lower[name], lo)
                if hi is not None:
                    upper[name] = hi if name not in upper else max(upper[name], hi)
    return meta.num_rows, io_for(path).size(path), lower, upper, nulls, nan_hint


def harvest_stats(paths: list[str], max_workers: int = 16) -> dict[str, tuple]:
    """Footer stats for many files, driver-side thread pool."""
    with ThreadPoolExecutor(max_workers=min(max_workers, max(1, len(paths)))) as ex:
        results = ex.map(harvest_footer_stats, paths)
    return dict(zip(paths, results))


def harvest_stats_spark(
    spark, paths: list[str], fmt: str, schema_ddl: str
) -> dict[str, tuple]:
    """Per-file (record_count, file_size, lower, upper, nulls) via ONE
    distributed aggregation grouped by _metadata.file_path — the stats
    source for formats without a cheap footer API (ORC).  Matches the
    footer harvest exactly for top-level primitive columns."""
    import pyspark.sql.functions as F

    reader = spark.read.schema(schema_ddl)
    df = reader.format(fmt).load(paths)
    prim_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName()
        not in ("binary", "array", "map", "struct")
    ]
    float_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("float", "double")
    ]
    aggs = [F.count(F.lit(1)).alias("__rc")]
    for c in prim_cols:
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
        ]
    for c in float_cols:
        aggs.append(F.sum(F.isnan(F.col(c)).cast("long")).alias(f"__nans_{c}"))
    rows = df.groupBy(F.col("_metadata.file_path").alias("__file")).agg(*aggs).collect()
    out: dict[str, tuple] = {}
    for row in rows:
        d = row.asDict()
        path = _strip_scheme(d["__file"])
        lower, upper, nulls, nans = {}, {}, {}, {}
        for c in prim_cols:
            lo, hi = _enc_stat(d[f"__min_{c}"], -1), _enc_stat(d[f"__max_{c}"], +1)
            if lo is not None:
                lower[c] = lo
            if hi is not None:
                upper[c] = hi
            nulls[c] = int(d[f"__nulls_{c}"] or 0)
        for c in float_cols:
            nans[c] = int(d[f"__nans_{c}"] or 0)
        out[path] = (int(d["__rc"]), os.path.getsize(path), lower, upper, nulls, nans)
    # files that produced zero rows never appear in the groupBy output
    for p in paths:
        if p not in out:
            out[p] = (0, os.path.getsize(p), {}, {}, {}, {})
    return out


def compute_nan_counts(
    spark,
    paths: list[str],
    float_cols: list[str],
    fmt: str = "parquet",
    schema_ddl: str | None = None,
) -> dict[str, dict[str, int]]:
    """Per-file NaN counts for float/double columns via ONE distributed
    column-pruned aggregation — the analogue of the reference's
    write-time nan_value_counts (api/.../Metrics.java nanValueCounts;
    accumulated by FloatFieldMetrics.java).  Parquet footers cannot
    supply these (parquet-mr orders NaN as largest, so NaN presence
    poisons max instead of being counted), and the strict evaluator
    needs an exact count to authorize metadata-only deletes on float
    columns.  Returns {file_path: {col: nan_count}}."""
    import pyspark.sql.functions as F

    if not float_cols or not paths:
        return {}
    reader = spark.read.schema(schema_ddl) if schema_ddl else spark.read
    df = reader.format(fmt).load(paths).select(
        F.col("_metadata.file_path").alias("__file"), *float_cols
    )
    aggs = [
        F.sum(F.isnan(F.col(c)).cast("long")).alias(f"__nan_{c}")
        for c in float_cols
    ]
    rows = df.groupBy("__file").agg(*aggs).collect()
    out: dict[str, dict[str, int]] = {}
    for row in rows:
        d = row.asDict()
        out[_strip_scheme(d["__file"])] = {
            c: int(d[f"__nan_{c}"] or 0) for c in float_cols
        }
    return out


def float_columns(df) -> list[str]:
    """Top-level float/double column names of a Spark DataFrame."""
    return [
        f.name for f in df.schema.fields if f.dataType.typeName() in ("float", "double")
    ]


# Geometry bytes (the uncompressed size of the geometry column chunks,
# summed from the footers) up to which compute_bboxes reduces a write's
# files on the driver.  A bound on driver work, not a tuned crossover:
# 64 MiB is about 3M WKB points, far above a micro-batch append.
BBOX_DRIVER_MAX_BYTES = 64 << 20

_BOUNDS = ("xmin", "ymin", "xmax", "ymax")
# encodings stored as WKB bytes: the only ones with a point flag
_WKB_ENCODINGS = (None, "wkb", "ewkb")


def compute_bboxes(
    spark,
    paths: list[str],
    geo_fields: dict[str, str],
    schema_ddl: str | None = None,
):
    """Per-file geometry stats of parquet files: {file_path: {"bbox":
    {geo_col: [xmin, ymin, xmax, ymax] | None}, "points": {geo_col:
    bool}}}, the two raw-stats fields :func:`data_entries` reads.
    ``points`` covers the WKB/EWKB columns only (:func:`arrow_bbox`).
    Files without rows are left out.

    Two paths give the same values:

    - when the files' geometry column chunks add up to at most
      ``BBOX_DRIVER_MAX_BYTES`` uncompressed, the driver streams each
      file's geometry columns one row group at a time through
      :func:`arrow_bbox` and runs no Spark job.  A write of a few files
      pays milliseconds here, against seconds for a job;
    - above that cap, one distributed aggregation (:func:`_bbox_frame`)
      reads the files.  It stays because it is the only path whose
      driver work is bounded for a large write, and the tests use it as
      the reference for the driver path.

    The cap is counted in geometry bytes, not rows, because one polygon
    can weigh as much as thousands of points.  ``schema_ddl`` is the
    schema the files were written with; given it, the Spark path skips
    Spark's schema-inference job (files of unknown writers leave it
    None).
    """
    if not geo_fields or not paths:
        return {}
    footers = _small_geo_footers(paths, geo_fields)
    if footers is not None:
        out: dict[str, dict] = {}
        for p, meta in footers:
            if not meta.num_rows:
                continue
            with pq.ParquetFile(_parquet_source(p), metadata=meta) as f:
                out[p] = _geo_stats(
                    {
                        c: arrow_bbox(_row_group_chunks(f, c), enc)
                        for c, enc in geo_fields.items()
                    }
                )
        return out
    import pyspark.sql.functions as F

    reader = spark.read.schema(schema_ddl) if schema_ddl else spark.read
    df = reader.parquet(*paths).select(
        F.col("_metadata.file_path").alias("__file"),
        *geo_fields.keys(),
    )
    out = {}
    for row in _bbox_frame(df, geo_fields).collect():
        d = row.asDict()
        per_col = {}
        for col, enc in geo_fields.items():
            vals = [d[f"{col}__{k}"] for k in _BOUNDS]
            bbox = None if None in vals else [float(v) for v in vals]
            points = None
            if enc in _WKB_ENCODINGS:
                # min over no non-null row is NULL: vacuously point-only
                points = d[f"{col}__points"] is not False
            per_col[col] = (bbox, points)
        out[_strip_scheme(d["__file"])] = _geo_stats(per_col)
    return out


def _geo_stats(per_col: dict) -> dict:
    """The raw-stats fields of {geo_col: (bbox, points)}: ``bbox`` for
    every column, ``points`` where the flag is known."""
    return {
        "bbox": {c: b for c, (b, _) in per_col.items()},
        "points": {c: p for c, (_, p) in per_col.items() if p is not None},
    }


def _parquet_source(path: str):
    """What pyarrow opens for ``path``: the path itself on POSIX, else
    the FileIO's reader."""
    from iceberg_geo_poc_spark.table.fileio import io_for

    fio = io_for(path)
    return path if fio.is_posix else fio.open_input(path)


def _small_geo_footers(paths: list[str], geo_fields: dict[str, str]):
    """[(path, footer)] of the files, or None as soon as their geometry
    column chunks pass ``BBOX_DRIVER_MAX_BYTES`` uncompressed."""
    out, total = [], 0
    for p in paths:
        meta = pq.read_metadata(_parquet_source(p))
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                if col.path_in_schema in geo_fields:
                    total += col.total_uncompressed_size
        if total > BBOX_DRIVER_MAX_BYTES:
            return None
        out.append((p, meta))
    return out


def _row_group_chunks(f: pq.ParquetFile, col: str):
    """Column ``col`` of an open file, one row group at a time (nothing
    when the file lacks the column, which the Spark path reads as
    null)."""
    if col not in f.schema_arrow.names:
        return
    for i in range(f.num_row_groups):
        yield from f.read_row_group(i, columns=[col]).column(0).chunks


def arrow_bbox(chunks, enc: str | None) -> tuple[list[float] | None, bool | None]:
    """``([xmin, ymin, xmax, ymax], points)`` of one geometry column
    stored in encoding ``enc``.  The bbox is None when no row has an
    envelope; ``points`` says whether every non-null value is a plain
    21-byte little-endian XY point (true when there is none), and is
    None for wkt/geojson, whose stored strings are no WKB.  ``chunks``
    are its pa.Arrays: a ChunkedArray's ``.chunks``, or one array per
    row group.  wkt/geojson rows are re-encoded to WKB first; each
    chunk's envelopes come from ``_points_xy`` or ``_bounds_cols``, the
    kernels of the Hilbert key.  Null and empty rows reach them as NaN
    and are dropped, and each bound reduces on its own, as the
    aggregate of :func:`_bbox_frame` does.  Called on the driver by
    :func:`compute_bboxes` and inside the modular-encryption write
    task."""
    import numpy as np
    import pyarrow as pa

    from iceberg_geo_poc_spark.geo.functions import (
        _bounds_cols,
        _points_xy,
        decode_enc,
        encode_enc,
    )

    acc = [np.nan] * 4
    reducers = (np.fmin, np.fmin, np.fmax, np.fmax)
    points = True if enc in _WKB_ENCODINGS else None
    for arr in chunks:
        if not len(arr):
            continue
        if enc not in _WKB_ENCODINGS:
            arr = pa.array(
                [encode_enc(decode_enc(v, enc), "wkb") for v in arr.to_pylist()],
                type=pa.binary(),
            )
        pts = _points_xy(arr)
        points = points and pts is not None
        if pts is None:
            b = _bounds_cols(arr)
        else:
            x, y, _mask = pts
            b = {"xmin": x, "ymin": y, "xmax": x, "ymax": y}
        # fmin/fmax skip NaN: an all-NaN chunk leaves the bound as it was
        acc = [f(a, f.reduce(b[k])) for a, f, k in zip(acc, reducers, _BOUNDS)]
    bbox = None if np.isnan(acc).any() else [float(v) for v in acc]
    return bbox, points


def arrow_stats(tbl) -> tuple[dict, dict, dict, dict]:
    """(lower, upper, nulls, nans) of every top-level column of an Arrow
    table, encoded as :func:`harvest_footer_stats` encodes a footer:
    bounds through :func:`_enc_stat`, NaN counted apart and kept out of
    the bounds, binary and nested columns with a null count only.  The
    stats kernel of every writer that holds its rows as Arrow."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lower: dict = {}
    upper: dict = {}
    nulls: dict = {}
    nans: dict = {}
    for name, col in zip(tbl.column_names, tbl.columns):
        nulls[name] = col.null_count
        t = col.type
        if pa.types.is_floating(t):
            is_nan = pc.is_nan(col)
            nans[name] = pc.sum(is_nan).as_py() or 0
            col = col.filter(pc.invert(is_nan))  # drops nulls as well
        elif not (
            pa.types.is_integer(t)
            or pa.types.is_decimal(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_boolean(t)
            or pa.types.is_date(t)
            or pa.types.is_timestamp(t)
        ):
            continue
        mm = pc.min_max(col)
        lo = _enc_stat(mm["min"].as_py(), -1)
        hi = _enc_stat(mm["max"].as_py(), +1)
        if lo is not None:
            lower[name] = lo
        if hi is not None:
            upper[name] = hi
    return lower, upper, nulls, nans


def write_data_file(
    path: str, tbl, write_file, geo_fields=None, partition=None
) -> dict:
    """Write ``tbl`` through ``write_file(path, tbl)`` and return the
    file's raw stats — the input of :func:`data_entries`: stats from
    :func:`arrow_stats`, the bboxes and point flags of the
    ``geo_fields`` columns ({column: encoding}) from :func:`arrow_bbox`."""
    write_file(path, tbl)
    lower, upper, nulls, nans = arrow_stats(tbl)
    return {
        "file_path": path,
        "file_size": os.path.getsize(path),
        "record_count": tbl.num_rows,
        "partition": partition or {},
        "lower": lower,
        "upper": upper,
        "nulls": nulls,
        "nans": nans,
        **_geo_stats(
            {
                c: arrow_bbox(tbl.column(c).chunks, enc)
                for c, enc in (geo_fields or {}).items()
            }
        ),
    }


def write_files_in_task(
    df, stage: str, suffix: str, write_file, pcols=(), geo_fields=None
) -> list[dict]:
    """One ``mapInArrow`` job that writes ``df`` from inside its tasks:
    each task splits its rows by partition tuple into hive directories
    under ``stage`` and writes one file per tuple through
    :func:`write_data_file`.  Returns the files' raw stats.  The write
    path of the formats Spark has no writer for (avro, modular-encrypted
    parquet); ``write_file(path, tbl)`` is all they add.

    ``pcols`` is the table's ``[(derived_col_name, PartitionField)]``
    list: directory segments use the derived column name with
    hive-escaped values (a ``/`` or ``=`` in a string partition value
    must not corrupt the path), while the partition tuple is keyed by
    the logical field name with values parsed by the same
    ``transform.parse_path_value`` as the Spark write path's — so
    partition pruning and metadata tables see identical tuples."""
    from urllib.parse import quote

    os.makedirs(stage, exist_ok=True)
    part_cols = [c for c, _ in pcols]
    part_parse = [(c, pf.name, pf.transform) for c, pf in pcols]

    def task(batches):
        import pyarrow as pa

        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        files = []
        for key, sub in _partition_groups(pa.Table.from_batches(chunks), part_cols):
            d, part = stage, {}
            if key:
                segs = []
                for (cname, lname, transform), v in zip(part_parse, key):
                    s = (
                        "__HIVE_DEFAULT_PARTITION__" if v is None
                        else v.isoformat() if hasattr(v, "isoformat")
                        else str(v)
                    )
                    segs.append(f"{cname}={quote(s, safe='')}")
                    part[lname] = transform.parse_path_value(s)
                d = os.path.join(stage, *segs)
                os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"part-{uuid.uuid4().hex[:16]}{suffix}")
            f = write_data_file(path, sub, write_file, geo_fields, part)
            files.append(json.dumps(f))
        yield pa.RecordBatch.from_pydict({"file": files})

    return [json.loads(r.file) for r in df.mapInArrow(task, "file string").collect()]


def _partition_groups(tbl, part_cols: list[str]):
    """(partition values, rows without the partition columns) per
    distinct partition tuple of ``tbl``."""
    if not part_cols:
        yield [], tbl
        return
    import numpy as np

    keys = pd.Series(list(zip(*(tbl.column(c).to_pylist() for c in part_cols))))
    codes, uniq = pd.factorize(keys)
    for i, key in enumerate(uniq):
        yield list(key), tbl.take(np.nonzero(codes == i)[0]).drop_columns(part_cols)


METRICS_MAX_COLS_PROP = "write.metadata.metrics.max-inferred-column-defaults"


def data_entries(files: list[dict], meta) -> list[dict]:
    """Manifest entries (no sequence number or snapshot) for written
    data files, from their raw stats (the dicts of
    :func:`write_data_file`; ``partition``, ``nans``, ``bbox`` and
    ``points`` may be missing).  Every producer of data entries comes
    through here, so the table's metrics policy holds whichever writer
    made the file:

    - only the first ``write.metadata.metrics.max-inferred-column-defaults``
      (default 100) schema columns keep stats (reference TableProperties
      METRICS_MAX_INFERRED_COLUMN_DEFAULTS), bounding manifest width on
      wide tables; later columns cannot prune (conservative);
    - per-column metrics modes (:func:`apply_metrics_modes`); a ``none``
      column keeps no NaN count either;
    - files without rows get no entry.  Nothing is deleted here: a
      caller that owns an empty file removes it itself."""
    from iceberg_geo_poc_spark.table.table import _ddl_fields

    props = meta.properties
    fields = [f.strip().split(None, 1) for f in _ddl_fields(meta.schema_ddl)]
    kept = [n for n, _ in fields[: int(props.get(METRICS_MAX_COLS_PROP, 100))]]
    counted = {c for c in kept if metrics_mode_for(props, c)[0] != "none"}
    string_cols = {n for n, t in fields if t.strip().upper().startswith("STRING")}

    def cap(d: dict) -> dict:
        return {c: d[c] for c in kept if c in d}

    entries = []
    for f in files:
        if not f["record_count"]:
            continue
        lower, upper, nulls = apply_metrics_modes(
            cap(f["lower"]), cap(f["upper"]), cap(f["nulls"]), props, string_cols
        )
        nans = {c: v for c, v in f.get("nans", {}).items() if c in counted}
        entries.append(
            {
                "content": "data",
                "file_path": f["file_path"],
                "file_size": f["file_size"],
                "record_count": f["record_count"],
                "partition": json.dumps(f.get("partition", {})),
                "lower": json.dumps(lower),
                "upper": json.dumps(upper),
                "nulls": json.dumps(nulls),
                "nans": json.dumps(nans),
                "bbox": json.dumps(f.get("bbox", {})),
                "points": json.dumps(f.get("points", {})),
            }
        )
    return entries


def _bbox_frame(df, geo_fields: dict[str, str]):
    """The per-file bbox aggregate behind :func:`compute_bboxes`: each
    geometry column is decoded ONCE into an envelope struct
    (``st_bounds_once_udf``, the single-evaluation instance, so
    projection collapse cannot clone the decode per extracted field),
    then codegen min/max over its fields — the one-envelope-per-geometry
    shape of the reference's metrics writer
    (core/.../havasu/GeometryFieldMetrics.java:58-88).  A WKB/EWKB
    column also gets ``<col>__points``: the min of a per-row JVM test
    for a plain point (NULL rows stay NULL, so a file of nulls reads
    NULL)."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.geo.functions import (
        as_wkb,
        st_bounds_once_udf,
    )

    header = F.lit(bytearray(b"\x01\x01\x00\x00\x00"))
    bounds, aggs = [], []
    for i, (col, enc) in enumerate(geo_fields.items()):
        bounds.append(st_bounds_once_udf(as_wkb(col, enc)).alias(f"__bounds{i}"))
        b = F.col(f"__bounds{i}")
        aggs += [
            F.min(b.getField("xmin")).alias(f"{col}__xmin"),
            F.min(b.getField("ymin")).alias(f"{col}__ymin"),
            F.max(b.getField("xmax")).alias(f"{col}__xmax"),
            F.max(b.getField("ymax")).alias(f"{col}__ymax"),
        ]
        if enc in _WKB_ENCODINGS:
            g = F.col(col)
            is_point = (F.length(g) == 21) & (F.substring(g, 1, 5) == header)
            bounds.append(is_point.alias(f"__points{i}"))
            aggs.append(F.min(f"__points{i}").alias(f"{col}__points"))
    return df.select("__file", *bounds).groupBy("__file").agg(*aggs)


def _strip_scheme(p: str) -> str:
    # Spark renders local paths as file:/... (sometimes file:///...)
    if p.startswith("file://"):
        p = p[len("file://"):]
    elif p.startswith("file:"):
        p = p[len("file:"):]
    return p


def entries_dataframe(entries: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(entries, columns=MANIFEST_COLUMNS)
    df = df.astype(
        {
            "file_size": "int64",
            "record_count": "int64",
            "sequence_number": "int64",
            "snapshot_id": "int64",
            # nullable: unassigned until the commit allocates the block
            # (row lineage); Int64 keeps ids exact past 2^53
            "first_row_id": "Int64",
        }
    )
    return ensure_flat_stats(df)


# -- flattened stats columns ------------------------------------------------
#
# Planning at 10^6-file scale must not JSON-parse per entry (SURVEY §4.3:
# pruning = columnar filter over the manifest).  The JSON stats maps stay
# (back-compat + metadata tables), but each referenced column also gets
# native parquet columns the vectorized evaluators read directly:
#   lo__<col> / hi__<col>  — min/max (numbers, strings, bools)
#   nu__<col>              — null count (float64; NaN = unknown)
#   bb__<col>__{x0,y0,x1,y1} — geometry bbox corners (float64; NaN = none)
#   pt__<col>              — point-only flag (float64 1/0; NaN = unknown)
# Old manifests are upgraded transparently on read (once, cached).

_FLAT_MARKER = "__flat"


def _stat_array(vals: list):
    """Column for a flattened min/max stat list.

    BIGINT stats MUST stay integral end-to-end: a float64 column rounds
    any |v| > 2^53, and the pruning evaluators then compare the rounded
    bound exactly against the un-rounded predicate literal — a file
    whose true max is 48831927308626283 gets hi=...280.0, fails
    ``hi >= 48831927308626283``, and its rows silently vanish from the
    scan.  The reference round-trips bounds through typed buffers and
    never a double (api/.../types/Conversions.java:123-126); the pandas
    analogue is the nullable Int64 dtype, which `pd.Series([int, None])`
    does NOT infer (it promotes to float64).
    """
    nn = [v for v in vals if v is not None]
    if nn and all(isinstance(v, int) and not isinstance(v, bool) for v in nn):
        return pd.array(vals, dtype="Int64")
    return pd.Series(vals, dtype="object" if any(isinstance(v, str) for v in nn) else None)


def concat_entries(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """Precision-preserving replacement for ``pd.concat`` on manifest
    entry frames.

    Plain ``pd.concat`` finds a common dtype per column; when one frame
    lacks a stat column (typical: the empty prior-entries frame on first
    append) the fill is float64 NaN and an Int64 stats column gets
    promoted to Float64 — the exact 2^53 rounding this module exists to
    prevent.  Here integer stat columns are re-anchored to Int64 before
    the concat so the union stays exact.
    """
    frames = [f for f in frames if f is not None]
    nonempty = [f for f in frames if len(f)]
    if not nonempty:
        return frames[0] if frames else entries_dataframe([])
    if len(nonempty) == 1:
        return nonempty[0].reset_index(drop=True)
    all_cols: list[str] = []
    for f in nonempty:
        for c in f.columns:
            if c not in all_cols:
                all_cols.append(c)
    data: dict[str, pd.Series] = {}
    for c in all_cols:
        parts = []
        any_int = False
        all_int_or_missing = True
        for f in nonempty:
            if c in f.columns:
                s = f[c]
                dt = str(s.dtype)
                if dt in ("Int64", "int64"):
                    any_int = True
                elif not _is_all_na(s):
                    all_int_or_missing = False
                parts.append(s)
            else:
                parts.append(pd.Series([None] * len(f), dtype="object"))
        if any_int and all_int_or_missing:
            parts = [p.astype("Int64") for p in parts]
        data[c] = pd.concat(parts, ignore_index=True)
    return pd.DataFrame(data)


def _is_all_na(s: pd.Series) -> bool:
    return bool(s.isna().all())


def ensure_flat_stats(df: pd.DataFrame) -> pd.DataFrame:
    if _FLAT_MARKER in df.columns or df.empty:
        if df.empty and _FLAT_MARKER not in df.columns:
            df = df.copy()
            df[_FLAT_MARKER] = pd.Series([], dtype=bool)
        return df
    lowers = [json.loads(s) if s else {} for s in df["lower"]]
    uppers = [json.loads(s) if s else {} for s in df["upper"]]
    nullss = [json.loads(s) if s else {} for s in df["nulls"]]
    nanss = (
        # entries from writers without nan harvesting (posdel/eqdel,
        # legacy) hold None/NaN here, not a JSON string
        [json.loads(s) if isinstance(s, str) and s else {} for s in df["nans"]]
        if "nans" in df.columns
        else [{} for _ in lowers]
    )
    bboxes = [json.loads(s) if s else {} for s in df["bbox"]]
    pointss = (
        # delete entries and manifests older than the flag hold no JSON
        [json.loads(s) if isinstance(s, str) and s else {} for s in df["points"]]
        if "points" in df.columns
        else [{} for _ in lowers]
    )
    cols: set[str] = set()
    for d in lowers:
        cols.update(d)
    for d in uppers:
        cols.update(d)
    for d in nullss:
        cols.update(d)
    nan_cols: set[str] = set()
    for d in nanss:
        nan_cols.update(d)
    geo_cols: set[str] = set()
    for d in bboxes:
        geo_cols.update(d)
    flat: dict[str, object] = {}
    for c in sorted(cols):
        flat[f"lo__{c}"] = _stat_array([d.get(c) for d in lowers])
        flat[f"hi__{c}"] = _stat_array([d.get(c) for d in uppers])
        flat[f"nu__{c}"] = pd.array(
            [d.get(c) for d in nullss], dtype="float64"
        )
    for c in sorted(nan_cols):
        # NaN-count stat (float64; NaN = unknown — e.g. legacy manifests
        # written before nan harvesting)
        flat[f"na__{c}"] = pd.array([d.get(c) for d in nanss], dtype="float64")
    for c in sorted(geo_cols):
        vals = [d.get(c) for d in bboxes]
        for i, corner in enumerate(("x0", "y0", "x1", "y1")):
            flat[f"bb__{c}__{corner}"] = pd.array(
                [None if v is None else v[i] for v in vals], dtype="float64"
            )
    for c in sorted({c for d in pointss for c in d}):
        flat[f"pt__{c}"] = pd.array([d.get(c) for d in pointss], dtype="float64")
    out = df.copy()
    for k, v in flat.items():
        out[k] = v
    out[_FLAT_MARKER] = True
    return out


def manifest_bounds(df: pd.DataFrame) -> dict:
    """Whole-manifest column bounds — the analogue of the reference's
    manifest-list partition summaries (core/.../ManifestGroup.java:251-264):
    stored on the snapshot so a scan can skip reading the manifest
    entirely when the predicate cannot match its overall range."""
    data = df[df.content == "data"]
    if data.empty:
        return {}
    out: dict = {}
    for c in data.columns:
        if c.startswith("lo__"):
            col = c[4:]
            lo = data[c].dropna()
            hi = data[f"hi__{col}"].dropna() if f"hi__{col}" in data else lo
            # bounds are only usable when every file contributed stats —
            # a file with missing stats could hold anything
            if len(lo) == len(data) and len(hi) == len(data):
                try:
                    mn, mx = lo.min(), hi.max()
                except TypeError:
                    continue
                # JSON-safe plain Python scalars (numpy types don't dump)
                mn = mn.item() if hasattr(mn, "item") else mn
                mx = mx.item() if hasattr(mx, "item") else mx
                out[col] = [mn, mx]
    # merged geometry bbox per geo column (reference manifest-list
    # partition summaries carry the geo field bounds the same way):
    # usable only when EVERY data file recorded a bbox for the column
    import json as _json

    # non-geo tables: every bbox cell is empty — skip the JSON pass
    if not data["bbox"].map(lambda s: bool(s) and s != "{}").any():
        return out
    # A column's merged bbox is emitted only when EVERY data file
    # contributed a non-null bbox for it — tracked as a contribution
    # count compared against len(data) at the end, which is
    # order-independent: a file with an empty bbox ({} from a path
    # mismatch or a non-harvested import) simply never increments the
    # count, regardless of whether it appears before or after the first
    # file that mentions the column.
    boxes: dict[str, list] = {}
    contributed: dict[str, int] = {}
    for s in data["bbox"]:
        d = _json.loads(s) if isinstance(s, str) and s else {}
        for col, bb in d.items():
            if bb is None:
                continue
            contributed[col] = contributed.get(col, 0) + 1
            cur = boxes.get(col)
            boxes[col] = (
                list(bb)
                if cur is None
                else [
                    min(cur[0], bb[0]), min(cur[1], bb[1]),
                    max(cur[2], bb[2]), max(cur[3], bb[3]),
                ]
            )
    n_files = len(data)
    for col, bb in boxes.items():
        if contributed.get(col, 0) == n_files:
            out[f"__bbox__{col}"] = [float(v) for v in bb]
    return out


def write_manifest(df: pd.DataFrame, path: str) -> None:
    from iceberg_geo_poc_spark.table.fileio import io_for

    fio = io_for(path)
    if fio.is_posix:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        df.to_parquet(path, index=False)
        return
    import io as _io

    buf = _io.BytesIO()
    df.to_parquet(buf, index=False)
    fio.write_bytes(path, buf.getvalue())


def _read_manifest_parquet(path: str) -> pd.DataFrame:
    """Parquet → pandas preserving integer stat columns exactly.

    Default ``pd.read_parquet`` converts an int64 column containing
    nulls to float64 — re-introducing the 2^53 rounding that
    ``_stat_array`` prevents at write time.  Map every integer parquet
    column to pandas nullable Int64 instead (the manifest schema's int
    columns — file_size/record_count/sequence_number/snapshot_id and
    the lo__/hi__ stats of integer table columns — all stay exact)."""
    import pyarrow as pa

    from iceberg_geo_poc_spark.table.fileio import io_for

    fio = io_for(path)
    if fio.is_posix:
        tbl = pq.read_table(path)
    else:
        if not fio.exists(path):
            raise FileNotFoundError(path)
        with fio.open_input(path) as f:
            tbl = pq.read_table(f)
    return tbl.to_pandas(
        types_mapper=lambda t: pd.Int64Dtype() if pa.types.is_integer(t) else None
    )


_MANIFEST_CACHE: "dict[str, pd.DataFrame]" = {}
_MANIFEST_CACHE_MAX = 64


def read_manifest(path: str) -> pd.DataFrame:
    """Manifest read with a small driver-side cache.

    Manifest files are immutable once written (one `snap-<id>.parquet`
    per snapshot, never rewritten in place), so caching by path alone is
    safe; this removes repeated parquet decode from the planning hot
    path (the reference caches manifests in its ManifestFiles cache the
    same way)."""
    hit = _MANIFEST_CACHE.get(path)
    if hit is not None:
        return hit
    df = ensure_flat_stats(_read_manifest_parquet(path))
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
        _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    _MANIFEST_CACHE[path] = df
    return df


def file_stats_of(row) -> FileStats:
    """FileStats view of one manifest entry (pandas row)."""
    bbox_raw = json.loads(row.bbox) if row.bbox else {}
    nans_raw = getattr(row, "nans", None)
    return FileStats(
        record_count=int(row.record_count),
        lower=json.loads(row.lower) if row.lower else {},
        upper=json.loads(row.upper) if row.upper else {},
        nulls=json.loads(row.nulls) if row.nulls else {},
        bbox={k: tuple(v) if v else None for k, v in bbox_raw.items()},
        nans=json.loads(nans_raw) if isinstance(nans_raw, str) and nans_raw else {},
    )


def read_snapshot_entries(location: str, snap) -> pd.DataFrame:
    """Union of a snapshot's manifests (one or many) as one entries
    frame — the single accessor every consumer goes through so the
    manifest-list layout is invisible above this line."""
    frames = [
        read_manifest(os.path.join(location, rel))
        for rel in snap.manifest_list()
    ]
    return frames[0] if len(frames) == 1 else concat_entries(frames)


def merge_bounds(bounds_list: list[dict]) -> dict:
    """Union of per-manifest column bounds.  A column missing from ANY
    contributing bounds dict is dropped entirely — missing means "some
    file lacked stats", and a partial union would claim a range the
    data can escape."""
    bounds_list = [b for b in bounds_list if b is not None]
    if not bounds_list:
        return {}
    common = set(bounds_list[0])
    for b in bounds_list[1:]:
        common &= set(b)
    out = {}
    for col in common:
        if col.startswith("__bbox__"):
            bbs = [b[col] for b in bounds_list]
            out[col] = [
                min(bb[0] for bb in bbs), min(bb[1] for bb in bbs),
                max(bb[2] for bb in bbs), max(bb[3] for bb in bbs),
            ]
            continue
        los = [b[col][0] for b in bounds_list]
        his = [b[col][1] for b in bounds_list]
        try:
            out[col] = [min(los), max(his)]
        except TypeError:
            continue
    return out


# ------------------------------------------------------------- metrics modes
# Reference parity: core/src/main/java/org/apache/iceberg/MetricsModes.java
# (None/Counts/Truncate(n)/Full) and the string upper-bound increment of
# api/src/main/java/org/apache/iceberg/util/UnicodeUtil.java
# (truncateStringMax).  Our default is FULL — unlike the reference's
# truncate(16) — because this engine answers MIN/MAX aggregates from
# manifest bounds (stats_agg.py) and exact string bounds keep that fast
# path total; the property surface is identical, so a user can dial any
# table down to the reference posture.

METRICS_DEFAULT_PROP = "write.metadata.metrics.default"
METRICS_COL_PROP = "write.metadata.metrics.column."

_SURROGATE_LO, _SURROGATE_HI = 0xD800, 0xDFFF


def parse_metrics_mode(s: str):
    """'none' | 'counts' | 'full' | 'truncate(N)' -> mode tuple."""
    s = (s or "full").strip().lower()
    if s in ("none", "counts", "full"):
        return (s, None)
    if s.startswith("truncate(") and s.endswith(")"):
        n = int(s[len("truncate("):-1])
        if n <= 0:
            raise ValueError(f"truncate length must be positive: {s!r}")
        return ("truncate", n)
    raise ValueError(f"unsupported metrics mode {s!r}")


def metrics_mode_for(properties: dict, column: str):
    """Effective mode for one column: per-column override, else default."""
    per_col = properties.get(METRICS_COL_PROP + column)
    if per_col is not None:
        return parse_metrics_mode(per_col)
    return parse_metrics_mode(properties.get(METRICS_DEFAULT_PROP, "full"))


def truncate_string_min(v: str, n: int) -> str:
    """Prefix truncation — always a valid (possibly smaller) lower bound."""
    return v if len(v) <= n else v[:n]


def truncate_string_max(v: str, n: int) -> str | None:
    """Truncate to ``n`` code points and increment so the result stays an
    UPPER bound (UnicodeUtil.truncateStringMax): walk back from the last
    kept char looking for one that can be incremented (skipping into the
    surrogate range jumps to U+E000); if every kept char is U+10FFFF no
    valid bound exists -> None (bound dropped, column stops pruning)."""
    if len(v) <= n:
        return v
    chars = list(v[:n])
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i]) + 1
        if _SURROGATE_LO <= cp <= _SURROGATE_HI:
            cp = _SURROGATE_HI + 1
        if cp <= 0x10FFFF:
            return "".join(chars[:i]) + chr(cp)
        # carry: this position cannot grow, drop it and increment left
    return None


def apply_metrics_modes(
    lower: dict, upper: dict, nulls: dict, properties: dict, string_cols: set
) -> tuple[dict, dict, dict]:
    """Apply per-column metrics modes to one file's harvested stats.

    none   -> no metrics at all (bounds AND null counts dropped);
    counts -> null counts only;
    truncate(n) -> string bounds truncated (lower = prefix, upper =
    incremented prefix or dropped); numeric/date bounds stay exact —
    truncation is a string-width concern (same as the reference, where
    numeric bound buffers are fixed-width).  Pruning stays SOUND under
    truncation because bounds only ever widen."""
    lo2: dict = {}
    hi2: dict = {}
    nu2: dict = {}
    for c in dict.fromkeys([*lower, *upper, *nulls]):
        mode, n = metrics_mode_for(properties, c)
        if mode == "none":
            continue
        if c in nulls:
            nu2[c] = nulls[c]
        if mode == "counts":
            continue
        lo, hi = lower.get(c), upper.get(c)
        if mode == "truncate" and c in string_cols:
            if isinstance(lo, str):
                lo = truncate_string_min(lo, n)
            if isinstance(hi, str):
                hi = truncate_string_max(hi, n)
        if lo is not None:
            lo2[c] = lo
        if hi is not None:
            hi2[c] = hi
    return lo2, hi2, nu2
