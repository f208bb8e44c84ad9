"""Smoke test of the benchmark itself: every workload, tiny inputs.

Runs ``run.py --smoke`` for each workload, untraced and traced, and
checks the result line: outputs correct, and every metric the
benchmark defines printed with its unit. Each case starts its own
Spark JVM, so the whole file takes a few minutes.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

# the metric names README.md documents, by where they are printed
DOC_E2E = {"setup_s", "latency_p50_s"}
DOC_TRACED = {
    "rows_per_s", "native_pipeline_s", "shuffle_pipeline_s", "udf_pipeline_s",
    "sink_pipeline_s", "cycle_s", "probe_batch_s", "failed_ratio",
    "session.get_spark_s", "session.first_job_s", "session.peak_rss_mb",
    "source.build_s", "stage.build_s", "terminal.s", "terminal.jobs",
    "terminal.stages", "terminal.tasks", "errors.quarantined",
    "future.submit_s", "future.wait_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.python_eval_s", "spark.empty_task_ratio", "driver_s",
    "index.write_s", "index.append_s", "index.gates_s", "index.retrain_s",
    "index.probe_s", "index.bytes_written", "index.files",
} | {
    f"index.{op}.{k}"
    for op in ("write", "append", "gates", "retrain", "probe")
    for k in ("jobs", "stages", "tasks")
}


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["batch_etl", "index_cycle"])
def test_workload_prints_every_metric(workload, trace):
    res = _bench(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    want = run.LAYER if trace else run.E2E
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    assert (DOC_TRACED if trace else DOC_E2E) <= set(want)
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    """Outside a checkout (no pippin_spark next to it) the benchmark
    exits non-zero and prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(HERE, name)).read())
    out = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "batch_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_benchmark_json_matches_the_runner():
    """BENCHMARK.json declares exactly the metrics run.py prints."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER
    assert {w["name"] for w in spec["workloads"]} == {"batch_etl", "index_cycle"}


def test_self_times_sum_to_the_root_wall():
    import tracing

    spans = [
        {"id": 1, "parent": None, "name": "workload", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "pipeline", "start": 1.0, "end": 9.0},
        {"id": 3, "parent": 2, "name": "terminal", "start": 2.0, "end": 5.0},
        {"id": 4, "parent": 2, "name": "terminal", "start": 5.0, "end": 8.0},
    ]
    assert tracing.union_length([(2.0, 5.0), (4.0, 8.0), (9.0, 9.5)]) == 6.5
    self_s = tracing.self_times(spans)
    assert self_s == {"workload": 2.0, "pipeline": 2.0, "terminal": 6.0}
    assert sum(self_s.values()) == 10.0
