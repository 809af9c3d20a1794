"""In-memory span tracer for the geo-lakehouse benchmark.

Spans are recorded from the benchmark's own files only: ``install``
replaces module and class attributes that the package looks up at call
time (``M.compute_bboxes``, ``MD.write_new_metadata``, ``Table.append``,
...) with timing wrappers, and ``uninstall`` puts the originals back.
No package code changes.

A span is ``(name, start, end, parent, op)``.  Each benchmark operation
runs under ``Tracer.op``, which opens a root span, tags the operation's
Spark jobs with a job group, and, once the operation has returned,
counts its jobs and tasks through ``statusTracker`` and walks the
executed plans the operation handed over for their Python-UDF and scan
SQL metrics.  That bookkeeping runs after the root span closes, so it is
outside the operation's wall time; ``Tracer.enabled = False`` turns the
wrappers into pass-throughs, which is how the traced run measures its
own overhead.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

from iceberg_geo_poc_spark.geo import spatial_join as SJ
from iceberg_geo_poc_spark.table import maintenance as MT
from iceberg_geo_poc_spark.table import manifest as M
from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table import reporting as RPT
from iceberg_geo_poc_spark.table import vector_eval as V
from iceberg_geo_poc_spark.table.catalog import Catalog
from iceberg_geo_poc_spark.table.table import Table, TableScan

# (owner, attribute, span name).  Module attributes cover both the
# package's own ``M.f(...)`` call sites and the benchmark's calls.
WRAPPED = [
    (Catalog, "load_table", "catalog.load_table"),
    (MD, "read_metadata", "metadata.read_metadata"),
    (MD, "write_new_metadata", "metadata.write_new_metadata"),
    (M, "harvest_stats", "manifest.harvest_stats"),
    (M, "compute_bboxes", "manifest.compute_bboxes"),
    (M, "compute_nan_counts", "manifest.compute_nan_counts"),
    (M, "write_manifest", "manifest.write_manifest"),
    (M, "read_manifest", "manifest.read_manifest"),
    (V, "might_match", "vector_eval.might_match"),
    (V, "all_match", "vector_eval.all_match"),
    (V, "manifest_might_match", "vector_eval.manifest_might_match"),
    (Table, "append", "table.append"),
    (Table, "scan", "table.scan"),
    (TableScan, "files", "scan.files"),
    (TableScan, "to_df", "scan.to_df"),
    (MT, "rewrite_data_files", "maintenance.rewrite_data_files"),
    (MT, "expire_snapshots", "maintenance.expire_snapshots"),
    (SJ, "grid_spatial_join", "spatial_join.grid_spatial_join"),
]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = True
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._originals: list[tuple] = []
        self.reporter = RPT.InMemoryMetricsReporter()

    # -- wrappers ---------------------------------------------------------

    def install(self) -> None:
        RPT.register_metrics_reporter("", self.reporter)
        for owner, attr, name in WRAPPED:
            orig = getattr(owner, attr)
            self._originals.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()
        RPT.unregister_metrics_reporter(self.reporter)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer._op is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "metadata.write_new_metadata":
                meta = args[0]
                path = os.path.join(MD.metadata_dir(meta.location), f"v{out}.metadata.json")
                tracer._op["metadata_json_bytes"] += os.path.getsize(path)
            elif name == "manifest.write_manifest":
                tracer._op["manifest_bytes"] += os.path.getsize(args[1])
            return out

        return wrapper

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Time a block as a child of the innermost open span.  Outside
        an op, or with tracing disabled, this records nothing."""
        if not self.enabled or self._op is None:
            yield
            return
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "op": self._op["id"],
            }
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextmanager
    def op(self, kind: str):
        """One benchmark operation: a root span plus a Spark job group.
        The body may call ``plan(df, role)`` to hand over the DataFrame
        whose action it ran; the plan is walked after the op ends."""
        if not self.enabled:
            yield self
            return
        op_id = len(self.ops)
        group = f"geobench-op-{op_id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        self._op = {
            "id": op_id,
            "kind": kind,
            "plans": [],
            "metadata_json_bytes": 0,
            "manifest_bytes": 0,
            "reports_before": len(self.reporter.reports),
        }
        try:
            with self.span(f"op.{kind}"):
                yield self
        finally:
            op, self._op = self._op, None
            sc.setJobGroup("geobench-idle", "between ops")
            self._finish(op, group)

    def plan(self, df, role: str) -> None:
        if self._op is not None:
            self._op["plans"].append((role, df))

    # -- post-op bookkeeping (outside the op's wall time) ------------------

    def _finish(self, op: dict, group: str) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st is not None else 0
        reports = self.reporter.reports[op.pop("reports_before"):]
        scans = [r for r in reports if isinstance(r, RPT.ScanReport)]
        commits = [r for r in reports if isinstance(r, RPT.CommitReport)]
        record = {
            "id": op["id"],
            "kind": op["kind"],
            "spark_jobs": jobs,
            "spark_tasks": tasks,
            "metadata_json_bytes": op["metadata_json_bytes"],
            "manifest_bytes": op["manifest_bytes"],
            "scan_reports": [
                {
                    "planning_ms": r.planning_duration_ms,
                    "total_files": r.total_data_files,
                    "result_files": r.result_data_files,
                    "result_bytes": r.result_file_size_bytes,
                }
                for r in scans
            ],
            "commit_attempts": sum(r.attempts for r in commits),
            "commits": len(commits),
            "plans": [
                dict(role=role, **plan_metrics(df._jdf.queryExecution().executedPlan()))
                for role, df in op["plans"]
            ],
        }
        self.ops.append(record)

    def note(self, **values) -> None:
        """Attach facts the benchmark measured after an op (with tracing
        bookkeeping, outside its wall time) to that op's record."""
        self.ops[-1].update(values)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)


# -- executed-plan walk -----------------------------------------------------

def _children(node) -> list:
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return [node.executedPlan()]
    if "QueryStage" in name:
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_metrics(root) -> dict:
    """Sum the SQL metrics an optimization would move, from an executed
    (post-AQE) physical plan: rows read by file scans, and rows, bytes
    and time of the Python UDF nodes.  ``join_rows_in`` counts the rows
    into UDF nodes above a join: the spatial join's exact predicate, as
    opposed to a scan's residual filter."""
    acc = {
        "scan_rows": 0,
        "join_rows_in": 0,
        "kernel_rows_in": 0,
        "kernel_python_ms": 0.0,
        "kernel_arrow_bytes": 0,
    }

    def walk(node) -> bool:
        """Returns whether the subtree holds a join."""
        name = node.nodeName()
        has_join = False
        for child in _children(node):
            has_join = walk(child) or has_join
        if name.startswith(("Scan ", "FileScan")):
            acc["scan_rows"] += _metrics(node).get("numOutputRows", 0)
        elif "EvalPython" in name:
            ms = _metrics(node)
            rows = ms.get("pythonNumRowsReceived", 0)
            acc["kernel_rows_in"] += rows
            if has_join:
                acc["join_rows_in"] += rows
            acc["kernel_python_ms"] += ms.get("pythonTotalTime", 0)
            acc["kernel_arrow_bytes"] += ms.get("pythonDataSent", 0) + ms.get(
                "pythonDataReceived", 0
            )
        return has_join or "Join" in name

    walk(root)
    return acc


# -- per-layer metrics ------------------------------------------------------

PER_LAYER = {
    "session.start_ms": "ms",
    "catalog.load_ms": "ms",
    "metadata.read_ms": "ms",
    "metadata.read_calls": "count",
    "metadata.write_ms": "ms",
    "metadata.json_bytes": "B",
    "metadata.commit_attempts": "count",
    "manifest.bbox_ms": "ms",
    "manifest.bbox_jobs": "count",
    "manifest.footer_stats_ms": "ms",
    "manifest.nan_count_ms": "ms",
    "manifest.write_ms": "ms",
    "manifest.write_bytes": "B",
    "manifest.read_calls": "count",
    "manifest.read_ms": "ms",
    "vector_eval.prune_ms": "ms",
    "scan.plan_ms": "ms",
    "scan.report_plan_ms": "ms",
    "scan.build_ms": "ms",
    "scan.exec_ms": "ms",
    "scan.files_kept_ratio": "ratio",
    "scan.bytes_kept_ratio": "ratio",
    "scan.rows_read_per_row_returned": "ratio",
    "append.self_ms": "ms",
    "append.spark_jobs": "count",
    "append.spark_tasks": "count",
    "maintenance.rewrite_ms": "ms",
    "maintenance.files_rewritten": "count",
    "maintenance.bytes_rewritten_per_live_byte": "ratio",
    "maintenance.expire_ms": "ms",
    "maintenance.files_deleted": "count",
    "geo.kernel_rows_in": "count",
    "geo.kernel_python_ms": "ms",
    "geo.kernel_arrow_bytes": "B",
    "spatial_join.build_ms": "ms",
    "spatial_join.exec_ms": "ms",
    "spatial_join.candidates_per_match": "ratio",
    "spark.jobs_per_append": "count",
    "spark.jobs_per_window": "count",
    "spark.jobs_per_zone_join": "count",
    "spark.jobs_per_compact": "count",
    "spark.jobs_per_expire": "count",
    "trace.coverage_min": "ratio",
    "trace.overhead_ratio": "ratio",
}

# span name behind each per-op timing metric
_TIMED = {
    "catalog.load_ms": "catalog.load_table",
    "metadata.read_ms": "metadata.read_metadata",
    "metadata.write_ms": "metadata.write_new_metadata",
    "manifest.bbox_ms": "manifest.compute_bboxes",
    "manifest.footer_stats_ms": "manifest.harvest_stats",
    "manifest.nan_count_ms": "manifest.compute_nan_counts",
    "manifest.write_ms": "manifest.write_manifest",
    "manifest.read_ms": "manifest.read_manifest",
    "vector_eval.prune_ms": "vector_eval.",
    "scan.plan_ms": "scan.files",
    "scan.build_ms": "scan.to_df",
    "scan.exec_ms": "scan.exec",
    "maintenance.rewrite_ms": "maintenance.rewrite_data_files",
    "maintenance.expire_ms": "maintenance.expire_snapshots",
    "spatial_join.build_ms": "spatial_join.grid_spatial_join",
    "spatial_join.exec_ms": "spatial_join.exec",
}
_COUNTED = {
    "metadata.read_calls": "metadata.read_metadata",
    "manifest.bbox_jobs": "manifest.compute_bboxes",
    "manifest.read_calls": "manifest.read_manifest",
}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def span_times(spans: list[dict]) -> tuple[list[float], list[float]]:
    """(duration, self time) per span; self time is the duration minus
    the part covered by child spans."""
    dur = [s["end"] - s["start"] for s in spans]
    covered = [0.0] * len(spans)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            covered[s["parent"]] += dur[i]
    return dur, [d - c for d, c in zip(dur, covered)]


def layer_metrics(tracer: Tracer, workload, session_start_s: float) -> dict:
    """Per-layer metrics of the traced ops of the timed loop.

    A timing or call count is the mean per op that touched the layer
    (0 when no op did), taking a span only where no enclosing span has
    the same name, so recursive calls are not counted twice."""
    ops = tracer.ops
    op_ids = {o["id"] for o in ops}
    spans = tracer.spans
    dur, self_t = span_times(spans)
    keep = [i for i, s in enumerate(spans) if s["op"] in op_ids]

    def outermost(i: int, prefix: str) -> bool:
        p = spans[i]["parent"]
        while p is not None:
            if spans[p]["name"].startswith(prefix):
                return False
            p = spans[p]["parent"]
        return True

    def per_op(prefix: str, value) -> float:
        by_op: dict[int, float] = {}
        for i in keep:
            if spans[i]["name"].startswith(prefix) and outermost(i, prefix):
                by_op[spans[i]["op"]] = by_op.get(spans[i]["op"], 0.0) + value(i)
        return _ratio(sum(by_op.values()), len(by_op))

    out: dict[str, float] = {"session.start_ms": session_start_s * 1e3}
    for metric, prefix in _TIMED.items():
        out[metric] = per_op(prefix, lambda i: dur[i] * 1e3)
    for metric, prefix in _COUNTED.items():
        out[metric] = per_op(prefix, lambda i: 1.0)

    kinds: dict[str, list[dict]] = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o)

    def mean(kind: str, key) -> float:
        vals = [key(o) for o in kinds.get(kind, [])]
        return _ratio(sum(vals), len(vals))

    def total(kind_list, key) -> float:
        return sum(key(o) for k in kind_list for o in kinds.get(k, []))

    n_meta_writes = sum(1 for i in keep if spans[i]["name"] == "metadata.write_new_metadata")
    n_manifest_writes = sum(1 for i in keep if spans[i]["name"] == "manifest.write_manifest")
    out["metadata.json_bytes"] = _ratio(sum(o["metadata_json_bytes"] for o in ops), n_meta_writes)
    out["metadata.commit_attempts"] = _ratio(
        sum(o["commit_attempts"] for o in ops), sum(o["commits"] for o in ops)
    )
    out["manifest.write_bytes"] = _ratio(sum(o["manifest_bytes"] for o in ops), n_manifest_writes)
    out["append.self_ms"] = per_op("table.append", lambda i: self_t[i] * 1e3)
    out["append.spark_jobs"] = mean("append", lambda o: o["spark_jobs"])
    out["append.spark_tasks"] = mean("append", lambda o: o["spark_tasks"])

    queries = ("window", "zone_join")
    reports = [r for k in queries for o in kinds.get(k, []) for r in o["scan_reports"]]
    out["scan.report_plan_ms"] = _ratio(sum(r["planning_ms"] for r in reports), len(reports))
    out["scan.files_kept_ratio"] = _ratio(
        sum(r["result_files"] for r in reports), sum(r["total_files"] for r in reports)
    )
    out["scan.bytes_kept_ratio"] = _ratio(
        sum(r["result_bytes"] for r in reports),
        total(queries, lambda o: o.get("live_bytes", 0) * len(o["scan_reports"])),
    )
    out["scan.rows_read_per_row_returned"] = _ratio(
        total(["window"], lambda o: sum(p["scan_rows"] for p in o["plans"])),
        total(["window"], lambda o: o.get("rows_returned", 0)),
    )

    out["maintenance.files_rewritten"] = mean("compact", lambda o: o.get("files_rewritten", 0))
    out["maintenance.bytes_rewritten_per_live_byte"] = _ratio(
        total(["compact"], lambda o: o.get("bytes_rewritten", 0)),
        total(["compact"], lambda o: o.get("live_bytes", 0)),
    )
    out["maintenance.files_deleted"] = mean("expire", lambda o: o.get("files_deleted", 0))

    planned = [o for k in queries for o in kinds.get(k, [])]
    for metric, key in (
        ("geo.kernel_rows_in", "kernel_rows_in"),
        ("geo.kernel_python_ms", "kernel_python_ms"),
        ("geo.kernel_arrow_bytes", "kernel_arrow_bytes"),
    ):
        out[metric] = _ratio(sum(p[key] for o in planned for p in o["plans"]), len(planned))
    out["spatial_join.candidates_per_match"] = _ratio(
        total(["zone_join"], lambda o: sum(p["join_rows_in"] for p in o["plans"])),
        total(["zone_join"], lambda o: o.get("rows_returned", 0)),
    )
    for kind in ("append", "window", "zone_join", "compact", "expire"):
        out[f"spark.jobs_per_{kind}"] = mean(kind, lambda o: o["spark_jobs"])

    # share of each op kind's wall time covered by layer spans
    roots = [i for i in keep if spans[i]["parent"] is None]
    coverage = {}
    for i in roots:
        kind = spans[i]["name"]
        wall, cov = coverage.get(kind, (0.0, 0.0))
        coverage[kind] = (wall + dur[i], cov + dur[i] - self_t[i])
    out["trace.coverage_min"] = min((c / w for w, c in coverage.values()), default=0.0)
    traced = [t for t, on in zip(workload.round_times, workload.traced_round) if on]
    untraced = [t for t, on in zip(workload.round_times, workload.traced_round) if not on]
    out["trace.overhead_ratio"] = (
        statistics.median(traced) / statistics.median(untraced) - 1
        if traced and untraced
        else 0.0
    )
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER.items()}
