"""The two benchmark workloads.

Each workload generates its seeded inputs, measures for at least the
requested number of seconds (and at least a minimum amount of work),
checks every output against a reference that does not use
``pippin_spark``, and returns a flat dict of metric values.

- batch_etl: four sync pipelines in turn over one large token parquet,
  where executor, codegen, shuffle and Arrow work dominate, then the F1
  canonical pipeline on a small ``from_slice`` input with an async
  terminal, where per-pipeline fixed cost dominates (driver-side Python
  and Catalyst, job scheduling, task fan-out on a tiny frame).
- index_cycle: one IVF-PQ maintenance cycle (write, shifted append,
  both drift gates, codebook retrain) and then probe batches. Multi-job,
  driver-coordinated, many corpus passes.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

import f1
import inputs
from pippin_spark import Pipeline
from pippin_spark.functions import safe_cast
from pippin_spark.operators import similarity as SIM

ERROR_LIMIT = 10_000  # PipelineConfig.error_collect_limit default

# (full size, smoke size)
BATCH_TOKENS = (2_000_000, 20_000)
BATCH_MIN_ROUNDS = 1
SLICE_TOKENS = (1_000, 100)
INDEX_VECTORS = (50_000, 4_000)
INDEX_QUERY_BATCHES = 16
# the first probe batches after the retrain run cold: on a 4-core box
# the first reads 30-80% above the steady time and the next two up to 35%.
# Warm-up batches are checked and counted as operations but left out of
# the probe latency median, which takes the batches after them
INDEX_WARMUP_PROBES = 3
INDEX_MIN_PROBES = 7
# recall@5 of every probe batch must reach this; at the benchmark's
# introduction the lowest of three batches read 0.60-0.77; with ten
# batches per run the lowest read 0.57-0.72 over seeds 1-15 and 21-30
RECALL_FLOOR = 0.5
# ann_index_pq_drift err_ratio above which the PQ gate counts as fired
# (the threshold the repository's maintenance tests use)
PQ_GATE = 2.0


class Run:
    """State of one benchmark run: session, scratch dir, tracer, and
    the attempted/failed operation tally."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, smoke: bool, log) -> None:
        self.log = log
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.smoke = smoke
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_groups: list[tuple[float, float, str]] = []  # for engine metrics
        self.counts: dict[str, list[dict]] = {}

    def size(self, pair):
        return pair[1] if self.smoke else pair[0]

    def record(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}")

    def op_done(self, start: float, group: str, label: str) -> None:
        """Traced: remember a measured operation's interval and job
        group, and its status-tracker counts under ``label``."""
        if not self.tracer.enabled:
            return
        self.op_groups.append((start, time.time(), group))
        self.counts.setdefault(label, []).append(self.tracer.counts(self.sc, group))

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, "perfbench", True)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def _mean_counts(run: Run, label: str) -> dict:
    rows = run.counts.get(label, [])
    return {k: (sum(r[k] for r in rows) / len(rows) if rows else 0.0) for k in ("jobs", "stages", "tasks")}


# ---------------------------------------------------------------------------
# batch_etl
# ---------------------------------------------------------------------------


def _parsed(run: Run, path: str, on_error):
    tr = run.tracer
    with tr.span("source"):
        st = Pipeline.from_parquet(run.spark, path)
    with tr.span("stage_build"):
        return st.map_with_error(lambda c: safe_cast(c, "int"), on_error=on_error)


def _native_chain(st):
    return st.filter(lambda x: x % 2 != 0).map(lambda x: x * 2).map(lambda x: F.array(x, x)).flat_map()


def _batch_native(run, path, out, errs):
    st = _parsed(run, path, errs.append)
    with run.tracer.span("stage_build"):
        st = _native_chain(st)
    with run.tracer.span("terminal"):
        return st.pipeline.group_id, st.sum()


def _batch_shuffle(run, path, out, errs):
    st = _parsed(run, path, errs.append)
    with run.tracer.span("stage_build"):
        grouped = st.group_by(lambda x: F.pmod(x, F.lit(inputs.KEYS)))
        agg = grouped.agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        keys = st.map(lambda x: F.pmod(x, F.lit(inputs.KEYS)))
    group = st.pipeline.group_id
    with run.tracer.span("terminal"):
        # GroupedStage.agg returns a DataFrame; its action runs under the
        # pipeline's own job group so the counts stay per pipeline
        run.set_group(group)
        try:
            row = agg.agg(
                F.count(F.lit(1)), F.sum("n"), F.sum("s"), F.sum(F.col("n") * F.col("n"))
            ).collect()[0]
        finally:
            run.clear_group()
    with run.tracer.span("terminal"):
        distinct = keys.distinct_count()
    return group, (tuple(int(x) for x in row), int(distinct))


def _batch_udf(run, path, out, errs):
    st = _parsed(run, path, errs.append)
    with run.tracer.span("stage_build"):
        st = st.map(lambda s: s * 0.5, return_type=T.DoubleType(), pandas=True)
    with run.tracer.span("terminal"):
        return st.pipeline.group_id, st.avg()


def _batch_sink(run, path, out, errs):
    st = _parsed(run, path, errs.append)
    with run.tracer.span("stage_build"):
        st = _native_chain(st)
    with run.tracer.span("terminal"):
        st.to_parquet(out)
    return st.pipeline.group_id, None


def _batch_slice(run, tokens, out, errs):
    tr = run.tracer
    with tr.span("source"):
        st = Pipeline.from_slice(run.spark, tokens)
    with tr.span("stage_build"):
        st = f1.chain(st, errs.append)
    with tr.span("submit"):
        fut = st.sum_async()
    with tr.span("wait"):
        return st.pipeline.group_id, fut.get()


BATCH_KINDS = (
    ("native", _batch_native),
    ("shuffle", _batch_shuffle),
    ("udf", _batch_udf),
    ("sink", _batch_sink),
    ("slice", _batch_slice),
)


def _batch_check(kind: str, result, n_err: int, expected: dict, run: Run, out: str):
    if kind == "slice":
        want = (expected["slice_sum"], expected["slice_errors"])
        return (result, n_err) == want, f"(sum, error callbacks) {(result, n_err)} != {want}"
    if n_err != expected["errors"]:
        return False, f"{n_err} error callbacks, expected {expected['errors']}"
    if kind == "native":
        return result == expected["native"], f"{result} != {expected['native']}"
    if kind == "shuffle":
        want = (expected["groups"], expected["distinct_keys"])
        return result == want, f"{result} != {want}"
    if kind == "udf":
        ok = result is not None and abs(result - expected["udf"]) <= 1e-9 * abs(expected["udf"])
        return ok, f"{result} != {expected['udf']}"
    got = inputs.sink_readback(run.work, out)
    want = (expected["sink_rows"], expected["native"])
    return got == want, f"{got} != {want}"


def batch_etl(run: Run) -> tuple[dict, dict | None]:
    """Returns (metric values, root span or None when untraced)."""
    tr = run.tracer
    n = run.size(BATCH_TOKENS)
    path = f"{run.work}/tokens.parquet"
    t0 = time.perf_counter()
    bad = inputs.write_tokens(path, n, run.seed)
    # F1's seven seed values, then seeded F1-style tokens
    tokens = inputs.F1_VALUES + inputs.slice_tokens(np.random.default_rng(run.seed), run.size(SLICE_TOKENS))
    gen_s = time.perf_counter() - t0
    expected = inputs.batch_expected(run.work, path)
    expected["errors"] = min(bad, ERROR_LIMIT)
    slice_sum, parse_err, zero_err = inputs.f1_closed_form(tokens)
    expected["slice_sum"] = slice_sum
    expected["slice_errors"] = min(parse_err, ERROR_LIMIT) + min(zero_err, ERROR_LIMIT)
    run.log(f"inputs ready: {n} tokens in {gen_s:.2f} s")
    golden = inputs.f1_closed_form(inputs.F1_VALUES)[0]
    run.record("f1_golden", golden == inputs.F1_GOLDEN, f"closed form gives {golden} on F1")

    lat: dict[str, list[float]] = {k: [] for k, _ in BATCH_KINDS}
    quarantined: list[int] = []
    pending_checks = []
    start = time.perf_counter()
    rounds = 0
    with tr.span("workload") as root:
        while rounds < BATCH_MIN_ROUNDS or time.perf_counter() - start < run.seconds:
            for kind, fn in BATCH_KINDS:
                errs: list = []
                out = f"{run.work}/sink_{rounds}"
                wall0 = time.time()
                t = time.perf_counter()
                try:
                    with tr.span("pipeline", kind=kind):
                        group, result = fn(run, tokens if kind == "slice" else path, out, errs)
                except Exception as exc:  # an operation that raises counts as failed
                    run.record(kind, False, repr(exc))
                    continue
                lat[kind].append(time.perf_counter() - t)
                run.op_done(wall0, group, "terminal")
                if kind != "slice":
                    quarantined.append(len(errs))
                pending_checks.append((kind, result, out, len(errs)))
            rounds += 1
    wall = time.perf_counter() - start
    run.log(f"measured {sum(map(len, lat.values()))} pipelines in {wall:.2f} s: "
            + ", ".join(f"{k} {statistics.median(v):.2f} s" for k, v in lat.items() if v))

    for kind, result, out, n_err in pending_checks:
        run.record(kind, *_batch_check(kind, result, n_err, expected, run, out))

    all_lat = [x for v in lat.values() for x in v]
    parquet_lat = [x for k, v in lat.items() if k != "slice" for x in v]
    m = {
        "ops_per_s": len(all_lat) / wall,
        "latency_p50_s": statistics.median(all_lat),
        "rows_per_s": n * len(parquet_lat) / sum(parquet_lat) if parquet_lat else 0.0,
        "errors.quarantined": statistics.mean(quarantined) if quarantined else 0.0,
    }
    for kind, _ in BATCH_KINDS:
        m[f"{kind}_pipeline_s"] = statistics.median(lat[kind]) if lat[kind] else 0.0
    return m, root


# ---------------------------------------------------------------------------
# index_cycle
# ---------------------------------------------------------------------------


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return size, files


def index_cycle(run: Run) -> tuple[dict, dict | None]:
    """Returns (metric values, root span or None when untraced)."""
    tr, spark = run.tracer, run.spark
    n = run.size(INDEX_VECTORS)
    n_queries = inputs.QUERY_BATCH * INDEX_QUERY_BATCHES
    t0 = time.perf_counter()
    data = inputs.write_vectors(run.work, n, n_queries, run.seed)
    gen_s = time.perf_counter() - t0
    truth = inputs.exact_top5(data["vectors"], data["queries"])
    run.log(f"inputs ready: {n} vectors in {gen_s:.2f} s")
    path = f"{run.work}/index"
    w = run.work
    steps = (
        ("write", lambda: SIM.ann_index_write(
            spark.read.parquet(f"{w}/base"), "embedding", "vec_id", path,
            num_cells=inputs.CELLS, train_iters=3, layout="cells", pq=(inputs.PQ_M, inputs.PQ_K, 2))),
        ("append", lambda: SIM.ann_index_append(
            spark, path, spark.read.parquet(f"{w}/shifted"), "embedding", "vec_id")),
        ("gates", lambda: (
            SIM.ann_index_pq_drift(spark, path).collect()[0]["err_ratio"],
            SIM.ann_index_drift(spark, path).agg(F.max("drift")).collect()[0][0])),
        ("retrain", lambda: SIM.ann_index_retrain_codebooks(spark, path, train_iters=2)),
    )

    step_s: dict[str, float] = {}
    probe_s: list[float] = []
    probes: list[tuple[int, list]] = []
    gate = None
    cycle_ok = True

    def call(name: str, i: int, fn):
        group = f"perfbench-{tr.run_id}-{name}-{i}"
        wall0 = time.time()
        t = time.perf_counter()
        run.set_group(group)
        try:
            with tr.span(name):
                out = fn()
        finally:
            run.clear_group()
        dt = time.perf_counter() - t
        run.op_done(wall0, group, f"index.{name}")
        return dt, out

    start = time.perf_counter()
    with tr.span("workload") as root:
        with tr.span("cycle"):
            for name, fn in steps:
                try:
                    step_s[name], out = call(name, 0, fn)
                except Exception as exc:  # an operation that raises counts as failed
                    run.record(name, False, repr(exc))
                    cycle_ok = False
                    break
                if name == "gates":
                    gate = out
        cycle_s = time.perf_counter() - start
        i = 0
        while cycle_ok and (
            i < INDEX_WARMUP_PROBES + INDEX_MIN_PROBES or time.perf_counter() - start < run.seconds
        ):
            b = i % INDEX_QUERY_BATCHES
            frame = spark.read.parquet(f"{w}/queries").filter(F.col("batch") == b)
            try:
                dt, rows = call("probe", i, lambda: SIM.ivfpq_topk_prebuilt(
                    spark, path, frame, "embedding", "query_id", k=5, nprobe=4).collect())
            except Exception as exc:  # an operation that raises counts as failed
                run.record("probe", False, repr(exc))
                i += 1
                continue
            probe_s.append(dt)
            probes.append((b, rows))
            i += 1
    wall = time.perf_counter() - start
    run.log(f"cycle {cycle_s:.2f} s ({', '.join(f'{k} {v:.2f}' for k, v in step_s.items())}), "
            f"{len(probe_s)} probe batches in {wall - cycle_s:.2f} s: "
            + " ".join(f"{x:.2f}" for x in probe_s))

    if cycle_ok:
        run.record("write", True)
        count = inputs.index_row_count(run.work, path)
        run.record("append", count == n, f"{count} rows in the index, {n} written")
        run.record("gates", gate[0] is not None and gate[0] > PQ_GATE, f"PQ gate err_ratio {gate[0]}")
        run.record("retrain", True)
    recalls = []
    for b, rows in probes:
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
        qids = range(b * inputs.QUERY_BATCH, (b + 1) * inputs.QUERY_BATCH)
        rec = float(np.mean([len(got.get(q, set()) & set(truth[q].tolist())) / 5 for q in qids]))
        recalls.append(rec)
        run.record("probe", rec >= RECALL_FLOOR, f"recall@5 {rec:.3f} < {RECALL_FLOOR}")
    if recalls and gate:
        run.log(f"recall@5 min {min(recalls):.3f} over {len(recalls)} batches; PQ gate err_ratio {gate[0]}")

    size, files = _dir_size(path) if os.path.isdir(path) else (0, 0)
    ops = len(step_s) + len(probe_s)
    warm = probe_s[INDEX_WARMUP_PROBES:]
    probe_p50 = statistics.median(warm) if warm else 0.0
    m = {
        "ops_per_s": ops / wall,
        "latency_p50_s": probe_p50,
        "cycle_s": cycle_s,
        "probe_batch_s": probe_p50,
        "index.recall_at_5": min(recalls) if recalls else 0.0,
        "index.bytes_written": size,
        "index.files": files,
    }
    for name in ("write", "append", "gates", "retrain"):
        m[f"index.{name}_s"] = step_s.get(name, 0.0)
    m["index.probe_s"] = probe_p50
    for name in ("write", "append", "gates", "retrain", "probe"):
        for k, v in _mean_counts(run, f"index.{name}").items():
            m[f"index.{name}.{k}"] = v
    return m, root


WORKLOADS = {"batch_etl": batch_etl, "index_cycle": index_cycle}
