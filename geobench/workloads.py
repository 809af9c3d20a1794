"""Seeded inputs, ground truth and the closed-loop workloads.

Every input is drawn with numpy from ``(seed, stream, index)``, so one
seed always yields the same points, batches, windows and zones; the
table sees only the generated rows.  Expected answers come from the same
arrays: a window count is a box test over the live points and a zone
count is the L1-ball test that defines a diamond.

Each workload is one client on one driver thread (a closed loop: the
next operation starts when the previous one has returned).  A *round*
is the workload's unit of user-visible work, and its latency is what
the round metrics of run.py report:

- geo_query: one window count plus one per-zone count (zone join);
- geo_mixed: one append plus one window count on the table it changed;
  every third round is followed by a Hilbert compaction and a snapshot
  expiry, which are timed as their own operations.

Set-up builds the workload's base table ``SETUP_BUILDS`` times from the
same seeded rows, each build between two probes; the median build is the
set-up metric of run.py.  The first build of a process runs cold (first
Spark write, first Python workers) and is the largest of the three.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf

from iceberg_geo_poc_spark.geo import box
from iceberg_geo_poc_spark.geo import spatial_join as SJ
from iceberg_geo_poc_spark.geo.functions import st_diamond, st_point
from iceberg_geo_poc_spark.table import E
from iceberg_geo_poc_spark.table import maintenance as MT

XMIN, YMIN, XMAX, YMAX = -180.0, -90.0, 180.0, 90.0
SCHEMA = "id BIGINT, x DOUBLE, y DOUBLE, geom BINARY"

# input streams of the seed
S_HOTSPOTS, S_BASE, S_BATCH, S_WINDOW, S_ZONES = range(1, 6)

QUERY_BASE_ROWS = 100_000
QUERY_BASE_FILES = 16
MIXED_BASE_ROWS = 50_000
MIXED_BASE_FILES = 4
# timed base-table builds of the set-up, the first of them cold
SETUP_BUILDS = 3
MIXED_BATCH = 5_000
MIXED_WINDOWS_PER_ROUND = 1
MIXED_ROUNDS_PER_MAINTENANCE = 3
# base files of geo_mixed are larger than this, micro-batch files smaller,
# so compaction picks up exactly the recent small files
MIXED_COMPACT_TARGET = 256 * 1024
QUERY_WARMUP_ROUNDS = 1
# rewrite_data_files compacts only groups of two or more small files
MIXED_WARMUP_ROUNDS = 2
PROBE_WARMUP = 1


class Inputs:
    """Seeded generator of points, windows and zones.

    The seed moves things, it does not resize them: hot spots share one
    width and sit one to a cell of a 4 x 3 grid, at least 20 degrees
    apart, so none doubles up with another; window sizes and zone radii
    follow fixed schedules.  Every seed asks for about the same work and
    runs of different seeds are comparable."""

    GRID = (4, 3)
    HOTSPOTS = GRID[0] * GRID[1]
    SIGMA = 1.5
    # window half-widths in degrees: two decades, so about four decades
    # of selectivity
    HALF_WIDTHS = (0.1, 0.3, 1.0, 3.0, 10.0)
    # L1 radii of the diamond zones of one join
    ZONE_RADII = np.linspace(0.2, 1.2, 12)

    def __init__(self, seed: int):
        self.seed = seed
        rng = self.rng(S_HOTSPOTS)
        rows = self.GRID[1]
        # 80 x 50 degree cells, centres jittered to 10 degrees off the edge
        col, row = np.divmod(np.arange(self.HOTSPOTS), rows)
        self.centers = np.column_stack(
            [
                -120 + 80 * col + rng.uniform(-30, 30, self.HOTSPOTS),
                -50 + 50 * row + rng.uniform(-15, 15, self.HOTSPOTS),
            ]
        )

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])

    def points(self, rng, n: int, clustered: float) -> tuple[np.ndarray, np.ndarray]:
        """``clustered`` of the points around hot spots, the rest uniform."""
        k = rng.integers(self.HOTSPOTS, size=n)
        hot = rng.random(n) < clustered
        x = np.where(
            hot,
            self.centers[k, 0] + rng.normal(0, self.SIGMA, n),
            rng.uniform(XMIN, XMAX, n),
        )
        y = np.where(
            hot,
            self.centers[k, 1] + rng.normal(0, self.SIGMA, n),
            rng.uniform(YMIN, YMAX, n),
        )
        return np.clip(x, XMIN, XMAX), np.clip(y, YMIN, YMAX)

    def window(self, index: int) -> tuple[float, float, float, float]:
        """Window ``index``: near hot spot ``index % 12``, half-width
        ``HALF_WIDTHS[index % 5]``."""
        rng = self.rng(S_WINDOW, index)
        k = index % self.HOTSPOTS
        cx, cy = self.centers[k] + rng.normal(0, self.SIGMA, 2)
        hw = self.HALF_WIDTHS[index % len(self.HALF_WIDTHS)]
        hh = hw * rng.uniform(0.5, 2.0)
        return (
            max(cx - hw, XMIN), max(cy - hh, YMIN),
            min(cx + hw, XMAX), min(cy + hh, YMAX),
        )

    def zones(self, index: int) -> pd.DataFrame:
        """Diamonds scattered around hot spot ``index % 12``.  Every set
        has the same radii (``ZONE_RADII``, shuffled), so the join's grid
        cell and work do not depend on the seed."""
        rng = self.rng(S_ZONES, index)
        c = self.centers[index % self.HOTSPOTS]
        n = len(self.ZONE_RADII)
        return pd.DataFrame(
            {
                "zid": np.arange(n, dtype=np.int64),
                "cx": c[0] + rng.uniform(-2.5, 2.5, n),
                "cy": c[1] + rng.uniform(-2.5, 2.5, n),
                "r": rng.permutation(self.ZONE_RADII),
            }
        )


class Live:
    """The rows a table should hold, for ground truth."""

    def __init__(self):
        self.x = np.empty(0)
        self.y = np.empty(0)

    @property
    def n(self) -> int:
        return len(self.x)

    def add(self, x: np.ndarray, y: np.ndarray) -> None:
        self.x = np.concatenate([self.x, x])
        self.y = np.concatenate([self.y, y])

    def window_count(self, w) -> int:
        x0, y0, x1, y1 = w
        x, y = self.x, self.y
        return int(np.count_nonzero((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)))

    def zone_counts(self, zones: pd.DataFrame) -> dict[int, int]:
        x, y = self.x, self.y
        out = {}
        for z in zones.itertuples():
            n = int(np.count_nonzero(np.abs(x - z.cx) + np.abs(y - z.cy) <= z.r))
            if n:
                out[int(z.zid)] = n
        return out


class Probe:
    """Fixed Spark work that calls no package code: build a DataFrame
    that sends 100k rows through a pandas UDF into a sum, and collect
    it.  That is the plan building over py4j, the job scheduling and
    the Python-worker round trip that also dominate the table ops.
    Timed before every round, it tracks how fast the host runs right
    now; latencies divided by its median stay comparable across the
    minutes-long speed drifts of a shared machine."""

    ROWS = 100_000

    def __init__(self, spark):
        @pandas_udf("double")
        def scale(v: pd.Series) -> pd.Series:
            return v * 0.5

        self.spark = spark
        self.scale = scale
        self.parts = spark.sparkContext.defaultParallelism
        self.want = (self.ROWS - 1) * self.ROWS / 4
        self.times: list[float] = []

    def __call__(self) -> float:
        t0 = time.perf_counter()
        df = self.spark.range(0, self.ROWS, 1, self.parts).select(
            self.scale(F.col("id").cast("double")).alias("y")
        )
        got = df.agg(F.sum("y").alias("s")).collect()[0]["s"]
        dt = time.perf_counter() - t0
        if got != self.want:
            raise WrongAnswer(f"probe sum: got {got!r}, want {self.want!r}")
        self.times.append(dt)
        return dt


class WrongAnswer(Exception):
    pass


def _check(got, want, what: str) -> None:
    if got != want:
        raise WrongAnswer(f"{what}: got {got!r}, want {want!r}")


class Workload:
    """Shared machinery: the table, timed and checked ops, the loop."""

    name = ""
    table = ""
    base_rows = 0
    base_files = 0

    def __init__(self, spark, catalog, seed: int, tracer=None):
        self.spark = spark
        self.cat = catalog
        self.inputs = Inputs(seed)
        self.tracer = tracer
        self.probe = Probe(spark)
        self.live = Live()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_times: dict[str, list[float]] = {}
        self.warmup_times: dict[str, list[float]] = {}
        self.round_times: list[float] = []
        self.traced_round: list[bool] = []
        self.build_times: list[float] = []
        self.build_probes: list[float] = []
        self.storage = 0.0
        # loop wall time without the probes
        self.loop_s = 0.0
        self._next_id = 0
        self._batches = 0
        self._windows = 0
        self._zone_sets = 0

    # -- inputs ---------------------------------------------------------------

    def create(self, files_per_write: int) -> None:
        self.cat.create_table(
            self.table,
            SCHEMA,
            geometry_columns={"geom": "wkb"},
            properties={"write.range-partitions": str(files_per_write)},
        )
        self.cat.set_write_order(self.table, ["hilbert(geom)"])

    def frame(self, x: np.ndarray, y: np.ndarray):
        ids = np.arange(self._next_id, self._next_id + len(x), dtype=np.int64)
        self._next_id += len(x)
        pdf = pd.DataFrame({"id": ids, "x": x, "y": y})
        return self.spark.createDataFrame(pdf).select(
            "id", "x", "y", st_point("x", "y").alias("geom")
        )

    def next_batch(self, n: int, clustered: float):
        x, y = self.inputs.points(self.inputs.rng(S_BATCH, self._batches), n, clustered)
        self._batches += 1
        return x, y

    def zones_frame(self):
        zones = self.inputs.zones(self._zone_sets)
        self._zone_sets += 1
        df = self.spark.createDataFrame(zones).select(
            "zid", "cx", "cy", "r", st_diamond("cx", "cy", "r").alias("zgeom")
        )
        return zones, df

    # -- timed, checked operations ----------------------------------------------

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def _attempt(self, kind: str, fn) -> None:
        """An op that raises or answers wrongly counts as failed; the run
        goes on."""
        self.attempted += 1
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            self.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])

    def run_op(self, kind: str, fn) -> float:
        """Run one API-level operation; returns its wall time, taken
        before the tracer's post-op bookkeeping."""
        t0 = time.perf_counter()
        with self.tracer.op(kind) if self.tracer else nullcontext():
            self._attempt(kind, fn)
            dt = time.perf_counter() - t0
        self.op_times.setdefault(kind, []).append(dt)
        return dt

    def append(self, x, y) -> float:
        df = self.frame(x, y)

        def op():
            snap = self.cat.load_table(self.table).append(df)
            _check(int(snap.summary["total-records"]), self.live.n + len(x), "total-records")

        dt = self.run_op("append", op)
        self.live.add(x, y)
        return dt

    def window(self) -> float:
        w = self.inputs.window(self._windows)
        self._windows += 1
        want = self.live.window_count(w)

        def op():
            scan = self.cat.load_table(self.table).scan(where=E.st_intersects("geom", box(*w)))
            scan.files()
            counted = scan.to_df().agg(F.count(F.lit(1)).alias("n"))
            with self._span("scan.exec"):
                got = counted.collect()[0]["n"]
            if self.tracer:
                self.tracer.plan(counted, "window")
            _check(got, want, f"window {w}")

        dt = self.run_op("window", op)
        self._note_scan(want)
        return dt

    def zone_join(self) -> float:
        zones, zones_df = self.zones_frame()
        want = self.live.zone_counts(zones)
        cell = float(2 * zones.r.mean())
        w = (
            float((zones.cx - zones.r).min()), float((zones.cy - zones.r).min()),
            float((zones.cx + zones.r).max()), float((zones.cy + zones.r).max()),
        )

        def op():
            scan = self.cat.load_table(self.table).scan(where=E.st_intersects("geom", box(*w)))
            scan.files()
            joined = SJ.grid_spatial_join(
                scan.to_df(),
                zones_df,
                "geom",
                "zgeom",
                cell_size=cell,
                left_bounds=("x", "y", "x", "y"),
                right_bounds=("cx - r", "cy - r", "cx + r", "cy + r"),
            )
            per_zone = joined.groupBy("zid").count()
            with self._span("spatial_join.exec"):
                rows = per_zone.collect()
            if self.tracer:
                self.tracer.plan(per_zone, "zone_join")
            _check({int(r["zid"]): int(r["count"]) for r in rows}, want, "zone counts")

        dt = self.run_op("zone_join", op)
        self._note_scan(sum(want.values()))
        return dt

    def maintain(self) -> float:
        """Hilbert compaction of the small files, then snapshot expiry."""
        traced = self.tracing
        before = live_files(self.cat.load_table(self.table)) if traced else {}
        out = {}

        def check_rows(what: str) -> None:
            snap = self.cat.load_table(self.table).current_snapshot()
            _check(int(snap.summary["total-records"]), self.live.n, f"total-records after {what}")

        def compact():
            out["rewrite"] = MT.rewrite_data_files(
                self.cat.load_table(self.table),
                strategy="hilbert",
                hilbert_column="geom",
                target_file_size=MIXED_COMPACT_TARGET,
            )
            check_rows("compaction")

        def expire():
            out["expire"] = MT.expire_snapshots(self.cat.load_table(self.table), keep_last=1)
            check_rows("expiry")

        dt = self.run_op("compact", compact)
        if traced and "rewrite" in out:
            gone = set(before) - set(live_files(self.cat.load_table(self.table)))
            self.tracer.note(
                files_rewritten=out["rewrite"].rewritten_files,
                bytes_rewritten=sum(before[p] for p in gone),
                live_bytes=sum(before.values()),
            )
        dt += self.run_op("expire", expire)
        if traced and "expire" in out:
            self.tracer.note(files_deleted=out["expire"].get("deleted_files", 0))
        return dt

    def _note_scan(self, rows_returned: int) -> None:
        """Table size and answer size for the traced scan ratios."""
        if self.tracing and self.tracer.ops:
            files = live_files(self.cat.load_table(self.table))
            self.tracer.note(live_bytes=sum(files.values()), rows_returned=rows_returned)

    # -- set-up, the loop and the end of a run ------------------------------------

    def build(self) -> float:
        """(Re)build the table from the seeded base rows: create it with
        its Hilbert write order and append the rows.  Returns the wall
        time of the build; dropping an earlier build is not timed."""
        if self.cat.table_exists(self.table):
            self.cat.drop_table(self.table)
        self._next_id = 0
        self.live = Live()
        t0 = time.perf_counter()
        x, y = self.inputs.points(self.inputs.rng(S_BASE), self.base_rows, 0.7)
        self.create(self.base_files)
        self.append(x, y)
        return time.perf_counter() - t0

    def set_up_table(self) -> None:
        """The probe's warm-up, then ``SETUP_BUILDS`` timed builds, each
        between two probes."""
        for _ in range(PROBE_WARMUP):
            self.probe()
        self.probe.times = []
        self.probe()
        for _ in range(SETUP_BUILDS):
            self.build_times.append(self.build())
            self.probe()
        self.build_probes = self.probe.times

    def loop(self, deadline: float, unit: int = 1, after_unit=None) -> None:
        """Closed loop of units of ``unit`` rounds (then ``after_unit``),
        each round preceded by a probe and the loop closed by one.  A
        unit starts only while more
        than half a unit's mean duration is left before ``deadline``, so
        the loop length stays close to the budget whatever the unit
        length.  In a traced run every other round runs with tracing
        off, which gives the tracing overhead.  Storage is taken after
        the first unit, untimed, so it does not depend on how many units
        the host completes."""
        self.warmup_times = self.op_times
        self.op_times, self.round_times, self.traced_round = {}, [], []
        self.probe.times = []
        t0 = time.perf_counter()
        units = 0
        while True:
            for _ in range(unit):
                self.probe()
                traced = self.tracer is None or len(self.round_times) % 2 == 0
                if self.tracer is not None:
                    self.tracer.enabled = traced
                self.round_times.append(self.round())
                self.traced_round.append(traced)
            if self.tracer is not None:
                self.tracer.enabled = True
            if after_unit is not None:
                after_unit()
            units += 1
            if units == 1:
                t = time.perf_counter()
                self.storage = self.storage_bytes_per_row()
                t0 += time.perf_counter() - t
            now = time.perf_counter()
            if now + (now - t0) / units / 2 >= deadline:
                break
        self.probe()
        self.loop_s = time.perf_counter() - t0 - sum(self.probe.times)

    def verify(self) -> None:
        """Untimed end-of-run check: the whole table reads back."""

        def op():
            t = self.cat.load_table(self.table)
            got = t.scan().to_df().agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
            _check(got, self.live.n, "row count")

        self._attempt("verify", op)

    def storage_bytes_per_row(self) -> float:
        """Bytes under the table location (data and metadata) per live row."""
        total = 0
        for root, _dirs, files in os.walk(self.cat.load_table(self.table).location):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total / self.live.n


def live_files(table) -> dict[str, int]:
    """Live data files of a table's current snapshot and their sizes."""
    return {p: os.path.getsize(p) for p in table.scan().files()}


class GeoQuery(Workload):
    name = "geo_query"
    table = "points"
    base_rows = QUERY_BASE_ROWS
    base_files = QUERY_BASE_FILES

    def setup(self) -> None:
        self.set_up_table()
        for _ in range(QUERY_WARMUP_ROUNDS):
            self.round()

    def round(self) -> float:
        return self.window() + self.zone_join()

    def run(self, deadline: float) -> None:
        self.loop(deadline)


class GeoMixed(Workload):
    name = "geo_mixed"
    table = "mixed"
    base_rows = MIXED_BASE_ROWS
    base_files = MIXED_BASE_FILES

    def setup(self) -> None:
        self.set_up_table()
        # micro-batches are small: one file each
        self.cat.alter_table_properties(self.table, set_props={"write.range-partitions": "1"})
        # warm-up rounds and a compaction, so the timed compactions run warm
        for _ in range(MIXED_WARMUP_ROUNDS):
            self.round()
        self.maintain()

    def round(self) -> float:
        # scattered points: every micro-batch file spans the whole domain
        dt = self.append(*self.next_batch(MIXED_BATCH, clustered=0.0))
        for _ in range(MIXED_WINDOWS_PER_ROUND):
            dt += self.window()
        return dt

    def run(self, deadline: float) -> None:
        self.loop(deadline, unit=MIXED_ROUNDS_PER_MAINTENANCE, after_unit=self.maintain)


WORKLOADS = {w.name: w for w in (GeoQuery, GeoMixed)}
