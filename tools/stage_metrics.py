"""Per-stage runtime metrics for one declared query — the profiling
arm of SCALING.md (VERDICT r7 #1: put spill/GC evidence under the
graph ops' superlinear top decade instead of an asserted explanation).

Runs ``ENTRY_QUERIES[name]`` once at the given sf_dir with Spark event
logging enabled, then parses the event log's SparkListenerStageCompleted
records and prints one JSON line per stage (executor-run time, GC time,
shuffle read/write bytes, memory/disk spill bytes, peak execution
memory) plus a totals line. The event log is the same instrumentation a
real cluster's history server records — no UI needed, works in
local mode.

Usage: python tools/stage_metrics.py <query> [sf_dir]
       PIPPIN_DRIVER_MEM=16g ... for the big replicas
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    log_dir = tempfile.mkdtemp(prefix="pippin_eventlog_")

    from pippin_spark.session import get_spark

    spark = get_spark(
        f"pippin-stage-metrics-{name}",
        cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # Spark 4 zstd-compresses event logs by default; keep them
            # plain so the parse below needs no codec
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pippin_spark.entry_queries import ENTRY_QUERIES

    t0 = time.perf_counter()
    ENTRY_QUERIES[name](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    wall = time.perf_counter() - t0
    spark.stop()  # flushes the event log

    stages = []
    # Spark 4 writes a rolling event-log DIRECTORY (eventlog_v2_<app>/
    # events_1_... files + an empty appstatus_ marker); walk it
    files = [
        f
        for f in glob.glob(f"{log_dir}/**", recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    ]
    for f in files:
        for line in open(f, errors="replace"):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") != "SparkListenerStageCompleted":
                continue
            si = ev["Stage Info"]
            acc = {
                a["Name"]: a.get("Value", 0)
                for a in si.get("Accumulables", [])
            }
            stages.append(
                {
                    "stage": si["Stage ID"],
                    "name": si.get("Stage Name", "")[:60],
                    "tasks": si.get("Number of Tasks"),
                    "run_ms": acc.get("internal.metrics.executorRunTime", 0),
                    "gc_ms": acc.get("internal.metrics.jvmGCTime", 0),
                    "cpu_ms": int(acc.get("internal.metrics.executorCpuTime", 0))
                    // 1_000_000,
                    "spill_mem_b": acc.get("internal.metrics.memoryBytesSpilled", 0),
                    "spill_disk_b": acc.get("internal.metrics.diskBytesSpilled", 0),
                    "shuf_read_b": acc.get(
                        "internal.metrics.shuffle.read.remoteBytesRead", 0
                    )
                    + acc.get("internal.metrics.shuffle.read.localBytesRead", 0),
                    "shuf_write_b": acc.get(
                        "internal.metrics.shuffle.write.bytesWritten", 0
                    ),
                    "peak_mem_b": acc.get(
                        "internal.metrics.peakExecutionMemory", 0
                    ),
                }
            )
    stages.sort(key=lambda s: -s["run_ms"])
    tot = {
        k: sum(s[k] for s in stages)
        for k in (
            "run_ms", "gc_ms", "cpu_ms", "spill_mem_b", "spill_disk_b",
            "shuf_read_b", "shuf_write_b",
        )
    }
    for s in stages[:12]:
        print(json.dumps(s, separators=(",", ":")))
    import shutil

    shutil.rmtree(log_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "query": name,
                "sf_dir": sf_dir,
                "wall_s": round(wall, 2),
                "n_stages": len(stages),
                **tot,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
