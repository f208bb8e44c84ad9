"""pippin_spark benchmark: one command, two workloads, checked outputs.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 10 --trace 0

Workloads: batch_etl and index_cycle (see workloads.py and README.md).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
spans, status-tracker counts and the Spark event log and prints the
per-layer metrics. ``--smoke`` uses tiny inputs. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (inputs, sinks, the index, event logs, Spark
scratch space) lives under ``.perfbench_tmp/`` in the checkout and is
removed at the end; traced runs keep their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4

E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
}

LAYER = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "session.peak_rss_mb": "MB",
    "source.build_s": "s",
    "stage.build_s": "s",
    "terminal.s": "s",
    "terminal.jobs": "count",
    "terminal.stages": "count",
    "terminal.tasks": "count",
    "errors.quarantined": "count",
    "future.submit_s": "s",
    "future.wait_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.python_eval_s": "s",
    "spark.empty_task_ratio": "ratio",
    "driver_s": "s",
    **{f"index.{op}_s": "s" for op in ("write", "append", "gates", "retrain", "probe")},
    **{
        f"index.{op}.{k}": "count"
        for op in ("write", "append", "gates", "retrain", "probe")
        for k in ("jobs", "stages", "tasks")
    },
    "index.bytes_written": "B",
    "index.files": "count",
    "index.recall_at_5": "ratio",
    "rows_per_s": "1/s",
    "native_pipeline_s": "s",
    "shuffle_pipeline_s": "s",
    "udf_pipeline_s": "s",
    "sink_pipeline_s": "s",
    "slice_pipeline_s": "s",
    "cycle_s": "s",
    "probe_batch_s": "s",
    "failed_ratio": "ratio",
    "trace.wall_s": "s",
    "trace.blocking_self_s": "s",
    "trace.tracer_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.latency_p50_s": "s",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f}s]: {msg}", file=sys.stderr, flush=True)


def configure_env(work: str, event_log: str | None) -> None:
    """Point every scratch location of Python, the JVM and Spark at
    ``work`` and pass Spark conf at launch (``get_spark`` has no conf
    hook; these keys are ones it does not set)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers unpickle the benchmark's UDFs by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            }
        )
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    # every JVM, the spark-submit launcher's included: no /tmp writes
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_spark():
    """get_spark() and the first trivial job, timed separately."""
    from pippin_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def traced_metrics(run, root, m: dict, log_dir: str, peak_mb: float, spans_file: str) -> dict:
    """Add the per-layer metrics of a traced run to ``m``."""
    import tracing

    tr = run.tracer
    spans = tr.spans
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def per_pipeline(name: str) -> float:
        sums = [
            sum(c["end"] - c["start"] for c in by_parent.get(p["id"], []) if c["name"] == name)
            for p in spans
            if p["name"] == "pipeline"
        ]
        sums = [x for x in sums if x > 0]
        return statistics.median(sums) if sums else 0.0

    def median_span(name: str) -> float:
        d = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return statistics.median(d) if d else 0.0

    path = tracing.self_times(spans)
    for name, secs in sorted(path.items(), key=lambda kv: -kv[1]):
        log(f"self time: {name:12s} {secs:9.3f} s")
    rows = run.counts.get("terminal", [])
    m.update(
        {
            "session.peak_rss_mb": peak_mb,
            "source.build_s": per_pipeline("source"),
            "stage.build_s": per_pipeline("stage_build"),
            "terminal.s": per_pipeline("terminal"),
            "future.submit_s": median_span("submit"),
            "future.wait_s": median_span("wait"),
            "trace.wall_s": root["end"] - root["start"],
            "trace.blocking_self_s": sum(path.values()),
            "trace.tracer_s": tr.overhead_s,
            "trace.ops_per_s": m["ops_per_s"],
            "trace.latency_p50_s": m["latency_p50_s"],
        }
    )
    for k in ("jobs", "stages", "tasks"):
        m[f"terminal.{k}"] = sum(r[k] for r in rows) / len(rows) if rows else 0.0
    m.update(tracing.engine_metrics(tracing.read_event_log(log_dir), run.op_groups))
    os.makedirs(os.path.dirname(spans_file), exist_ok=True)
    tr.write(spans_file)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["batch_etl", "index_cycle"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pippin_spark", "__init__.py")):
        log(f"no pippin_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    if args.workload is None:
        ap.error("--workload is required")

    work = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        configure_env(work, event_log)
        spark, get_s, first_s = start_spark()
        log(f"setup {get_s + first_s:.2f} s")

        import tracing
        import workloads

        tracer = tracing.Tracer(bool(args.trace))
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer, args.smoke, log)
        m, root = workloads.WORKLOADS[args.workload](run)
        log("workload done")
        m.update(
            {
                "setup_s": get_s + first_s,
                "session.get_spark_s": get_s,
                "session.first_job_s": first_s,
                "failed_ratio": run.failed / max(1, run.attempted),
            }
        )
        for f in run.failures:
            log(f"FAILED {f}")
        if args.trace:
            peak = tracing.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
            stop_spark(spark)  # flushes the event log
            spark = None
            spans_file = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl")
            m = traced_metrics(run, root, m, event_log, peak, spans_file)
        wanted = LAYER if args.trace else E2E
        metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in wanted.items()}
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        log("spark stopped")
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
