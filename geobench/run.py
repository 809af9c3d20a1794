"""Geo-lakehouse benchmark: pruned window and zone queries, and
micro-batch appends mixed with compaction.

Usage, from the root of the repository:

    python3 geobench/run.py --workload geo_query --seed 1 --seconds 18 --trace 0

``--workload`` is geo_query or geo_mixed (see
workloads.py for what each does and why).  The run starts a
``local[nproc]`` Spark session, sets up the workload (warm-up, seeded
data, base table), then runs its closed loop for ``--seconds`` and checks
every answer against ground truth computed from the same seeded arrays.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics, latencies relative to a fixed
probe (workloads.Probe); with ``--trace 1`` the layer
wrappers of tracer.py are installed and the metrics are the per-layer
ones (every other round then runs untraced, which gives the tracing
overhead).  The line before it is a ``{"detail": ...}`` object with the
seed, nproc, PySpark version, source revision and absolute times.
Scratch files go under ``.geobench_work/`` in the repository root.
METRICS.md maps each layer metric to the end-to-end metric it moves.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
PACKAGE = "iceberg_geo_poc_spark"
WORKLOAD_NAMES = ("geo_query", "geo_mixed")

END_TO_END = {
    "setup_s": "s",
    "round_mean_probes": "probes",
    "round_cost_probes": "probes",
    "storage_bytes_per_row": "B/row",
    "driver_peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> int:
    """local[nproc], workers that can import the package, scratch inside
    the checkout.  Returns the core count used."""
    n = nproc()
    asked = os.environ.get("SPARK_GRAFT_CPUS")
    if asked is not None and int(asked) > n:
        raise SystemExit(
            f"SPARK_GRAFT_CPUS={asked} exceeds the {n} available cores; "
            "unset it or lower it"
        )
    cpus = int(asked) if asked else n
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # the JVM's temp files too; no hsperfdata file under /tmp
            "PYSPARK_SUBMIT_ARGS": (
                f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} '
                '-XX:-UsePerfData" pyspark-shell'
            ),
            # Python UDF workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    return cpus


def source_revision() -> str:
    """The git commit when there is one, else (in an exported tree
    without ``.git``) a digest of the package's Python sources."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def probe_seconds(times: list[float], probes: list[float]) -> list[float]:
    """Each time over the mean of the probes just before and after it:
    seconds on a host whose probe takes exactly one second."""
    return [t * 2 / (probes[i] + probes[i + 1]) for i, t in enumerate(times)]


def op_stats(times: list[float]) -> dict:
    s = sorted(times)
    n = len(s)
    out = {"n": n, "p50_s": statistics.median(s), "max_s": s[-1]}
    if n >= 11:
        # the tail: the highest sample with at least ten samples beyond it
        out["tail_s"] = s[n - 11]
        out["tail_pct"] = 100 * (n - 10) / n
    return out


def main(argv=None) -> int:
    args = parse_args(argv)

    import pyspark

    from iceberg_geo_poc_spark.session import get_spark
    from iceberg_geo_poc_spark.table import Catalog

    import tracer as tracing
    from workloads import WORKLOADS

    base = os.path.join(ROOT, ".geobench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = pin_environment(work)

    t0 = time.perf_counter()
    spark = get_spark(f"geobench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = None
    try:
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracer.install()
        catalog = Catalog(os.path.join(work, "warehouse"), spark)
        wl = WORKLOADS[args.workload](spark, catalog, args.seed, tracer)
        wl.setup()
        setup_wall_s = time.perf_counter() - T_PROCESS
        n_setup_ops = len(tracer.ops) if tracer else 0
        wl.run(time.perf_counter() + args.seconds)
        wl.verify()
        rss = peak_rss_mb([os.getpid()])
        jvm_rss = peak_rss_mb([jvm_pid])
        if tracer is not None:
            tracer.uninstall()
            tracer.ops = tracer.ops[n_setup_ops:]
            trace_dir = os.path.join(base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(
                os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed},
            )
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    rounds = wl.round_times
    probes = wl.probe.times
    build_probes = probe_seconds(wl.build_times, wl.build_probes)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "spark_cores": cpus,
        "pyspark": pyspark.__version__,
        "revision": source_revision(),
        "session_start_s": session_start_s,
        "setup_wall_s": setup_wall_s,
        "build_s": [round(t, 4) for t in wl.build_times],
        "build_probe_s": [round(t, 4) for t in wl.build_probes],
        "rounds": op_stats(rounds),
        "round_s": [round(t, 4) for t in rounds],
        "rounds_per_s": len(rounds) / wl.loop_s,
        "probe": op_stats(probes),
        "probe_s": [round(t, 4) for t in probes],
        "ops": {k: op_stats(v) for k, v in wl.op_times.items()},
        "setup_ops_s": wl.warmup_times,
        "loop_s": wl.loop_s,
        "jvm_peak_rss_mb": jvm_rss,
        "live_rows": wl.live.n,
        "error_rate": wl.failed / wl.attempted,
        "errors": wl.errors[:5],
    }
    if args.trace:
        metrics = tracing.layer_metrics(tracer, wl, session_start_s)
    else:
        values = {
            "setup_s": statistics.median(build_probes),
            # with three to five rounds a run, the mean is steadier than
            # the median
            "round_mean_probes": statistics.mean(probe_seconds(rounds, probes)),
            "round_cost_probes": wl.loop_s / len(rounds) / statistics.median(probes),
            "storage_bytes_per_row": wl.storage,
            "driver_peak_rss_mb": rss,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": wl.failed == 0,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
