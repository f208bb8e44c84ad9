"""Spans, Spark job counts and event-log parsing for the traced run.

Spans are recorded by the benchmark around its calls into the public
``pippin_spark`` API: workload -> pipeline or cycle -> source build,
stage build, terminal, future submit/wait, index call. They stay in
memory and are written out once, at the end of the run.

Job, stage and task counts come from Spark's status tracker, per job
group: a pipeline's own ``group_id``, or a group the benchmark sets
around an index call. Engine metrics (executor time, GC, shuffle,
spill, Python evaluation, empty tasks, job intervals) come from the
Spark event log, which the benchmark enables through Spark conf at
launch. The record layout follows ``tools/stage_metrics.py``.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
import uuid
from collections import defaultdict
from typing import Optional


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch.

    The benchmark makes one call at a time from one thread, so spans
    nest strictly and the innermost open span is the parent."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block, as a child of the innermost
        open span."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "run": self.run_id,
            "attrs": attrs,
        }
        self._open.append(rec)
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            self._open.pop()
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    def counts(self, sc, group: str) -> dict:
        """Jobs, stages and completed tasks of one job group, from the
        status tracker. Timed as tracer overhead."""
        t0 = time.perf_counter()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numCompletedTasks if si is not None else 0
        self.overhead_s += time.perf_counter() - t0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec, default=str) + "\n")


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict:
    """Self time per span name: each span's wall time minus the union
    of its children's. Calls are sequential, so every span lies on the
    blocking path and the self times sum to the root span's wall time."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
    return dict(out)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PYTHON_NODES = ("EvalPython", "InPandas", "InArrow", "PythonRDD", "PythonUDF")


def read_event_log(log_dir: str) -> dict:
    """Parse every event-log file under ``log_dir`` into jobs, stages
    and tasks (plain dicts keyed by id)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    files = [
        f
        for f in glob.glob(f"{log_dir}/**", recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    ]
    for f in files:
        with open(f, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    acc = {a["Name"]: a.get("Value", 0) for a in si.get("Accumulables", [])}
                    scopes = " ".join(str(r.get("Scope", "")) + str(r.get("Name", "")) for r in si.get("RDD Info", []))
                    stages[si["Stage ID"]] = {
                        "run_ms": int(acc.get("internal.metrics.executorRunTime", 0)),
                        "python": any(tag in scopes for tag in _PYTHON_NODES),
                    }
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    out_rows = [
                        int(a.get("Update", 0) or 0)
                        for a in info.get("Accumulables", [])
                        if a.get("Name") == "number of output rows"
                    ]
                    read = (tm.get("Input Metrics") or {}).get("Records Read", 0) + (
                        tm.get("Shuffle Read Metrics") or {}
                    ).get("Total Records Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_ms": tm.get("Executor Run Time", 0),
                            "cpu_ns": tm.get("Executor CPU Time", 0),
                            "gc_ms": tm.get("JVM GC Time", 0),
                            "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "empty": read == 0 and max(out_rows, default=0) == 0,
                        }
                    )
    for sid, jid in stage_job.items():
        if sid in stages:
            stages[sid]["job"] = jid
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "stage_job": stage_job}


def engine_metrics(log: dict, op_groups: list[tuple[float, float, str]]) -> dict:
    """Engine totals for the jobs of the measured operations, per
    operation. ``op_groups`` holds one (start, end, job group) per
    measured operation; ``driver_s`` is each operation's wall time minus
    the union of its jobs' active intervals."""
    groups = {g for _, _, g in op_groups}
    job_ids = {j for j, info in log["jobs"].items() if info["group"] in groups}
    tasks = [t for t in log["tasks"] if log["stage_job"].get(t["stage"]) in job_ids]
    py_stages = {s for s, info in log["stages"].items() if info["python"] and info.get("job") in job_ids}
    driver = 0.0
    for start, end, grp in op_groups:
        ivs = [
            (max(start, j["start"]), min(end, j["end"] or end))
            for j in log["jobs"].values()
            if j["group"] == grp
        ]
        driver += (end - start) - union_length((s, e) for s, e in ivs if e > s)
    ops = max(1, len(op_groups))
    return {
        "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0 / ops,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / ops,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0 / ops,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / ops,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / ops,
        "spark.spill_bytes": sum(t["spill"] for t in tasks) / ops,
        "spark.python_eval_s": sum(t["run_ms"] for t in tasks if t["stage"] in py_stages) / 1000.0 / ops,
        "spark.empty_task_ratio": (sum(t["empty"] for t in tasks) / len(tasks)) if tasks else 0.0,
        "driver_s": driver / ops,
    }


def peak_rss_mb(jvm_pid: Optional[int]) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0
