"""The benchmark's own tests: seeded inputs, the output contract, and the
wiring guard that keeps every layer of the traced run alive.

Run from the repository root:

    python3 -m pytest geobench/ -q

The traced tests start the benchmark as a subprocess (one short run per
workload, about a minute each) and read the spans it writes under
``.geobench_work/traces/``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from workloads import Inputs, Live  # noqa: E402

# span names each workload must record (the layers it exercises)
EXPECTED_SPANS = {
    "geo_query": {
        "catalog.load_table",
        "metadata.read_metadata",
        "manifest.read_manifest",
        "vector_eval.might_match",
        "vector_eval.all_match",
        "table.scan",
        "scan.files",
        "scan.to_df",
        "scan.exec",
        "spatial_join.grid_spatial_join",
        "spatial_join.exec",
    },
    "geo_mixed": {
        "catalog.load_table",
        "metadata.read_metadata",
        "metadata.write_new_metadata",
        "manifest.harvest_stats",
        "manifest.compute_bboxes",
        "manifest.compute_nan_counts",
        "manifest.write_manifest",
        "manifest.read_manifest",
        "vector_eval.might_match",
        "vector_eval.all_match",
        "vector_eval.manifest_might_match",
        "table.append",
        "table.scan",
        "scan.files",
        "scan.to_df",
        "scan.exec",
        "maintenance.rewrite_data_files",
        "maintenance.expire_snapshots",
    },
}


def run_bench(workload: str, seed: int, trace: int, seconds: float = 1):
    return subprocess.run(
        [
            sys.executable, os.path.join(ROOT, "geobench", "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- no Spark ------------------------------------------------------------------


def test_inputs_are_a_function_of_the_seed():
    a, b, c = Inputs(7), Inputs(7), Inputs(8)
    xa, ya = a.points(a.rng(3, 0), 1000, 0.7)
    xb, yb = b.points(b.rng(3, 0), 1000, 0.7)
    xc, _ = c.points(c.rng(3, 0), 1000, 0.7)
    assert np.array_equal(xa, xb) and np.array_equal(ya, yb)
    assert not np.array_equal(xa, xc)
    assert a.window(5) == b.window(5)
    assert a.zones(2).equals(b.zones(2))


def test_ground_truth_counts():
    live = Live()
    live.add(np.array([0.0, 1.0, 2.0, 5.0]), np.array([0.0, 1.0, 2.0, 5.0]))
    live.add(np.array([1.5]), np.array([0.0]))
    assert live.n == 5
    assert live.window_count((0.0, 0.0, 2.0, 2.0)) == 4  # closed box
    zones = Inputs(1).zones(0).iloc[:1].assign(cx=1.0, cy=0.0, r=1.0)
    # |dx| + |dy| <= r: (0,0), (1,1) on the boundary, (1.5,0) inside
    assert live.zone_counts(zones) == {0: 3}


def test_metric_names_match_benchmark_json():
    import run
    import tracer

    spec = benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == tracer.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(EXPECTED_SPANS)


# -- traced runs ---------------------------------------------------------------


@pytest.fixture(scope="module", params=list(EXPECTED_SPANS))
def traced(request):
    workload = request.param
    out = run_bench(workload, 3, 1)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".geobench_work", "traces", f"{workload}-3.json")) as f:
        dump = json.load(f)
    return workload, result, dump


def test_traced_run_is_correct_and_reports_every_layer_metric(traced):
    _workload, result, _dump = traced
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in benchmark_json()["per_layer"]}


def test_every_wrapped_layer_records_spans(traced):
    """A renamed function, or a package call site that stops going
    through the module attribute, would silently zero a layer."""
    workload, _result, dump = traced
    op_ids = {o["id"] for o in dump["ops"]}
    seen = {s["name"] for s in dump["spans"] if s["op"] in op_ids}
    missing = EXPECTED_SPANS[workload] - seen
    assert not missing, f"{workload}: no spans for {sorted(missing)}"


def test_layer_spans_cover_each_op_type(traced):
    """Per op type, the layer spans account for at least 90% of the op's
    wall time."""
    import tracer

    workload, _result, dump = traced
    spans = dump["spans"]
    dur, self_t = tracer.span_times(spans)
    op_ids = {o["id"] for o in dump["ops"]}
    wall: dict[str, float] = {}
    covered: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s["op"] in op_ids and s["parent"] is None:
            wall[s["name"]] = wall.get(s["name"], 0.0) + dur[i]
            covered[s["name"]] = covered.get(s["name"], 0.0) + dur[i] - self_t[i]
    assert wall
    for kind in wall:
        assert covered[kind] / wall[kind] >= 0.9, (workload, kind, covered[kind] / wall[kind])
