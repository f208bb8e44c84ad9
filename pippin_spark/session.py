"""SparkSession factory tuned for the engine.

Defaults chosen for 100 TB-scale habits even when testing on local[N]:
AQE on (runtime re-planning, skew-join splitting), Arrow on (every
pandas-UDF boundary is Arrow-batched), UTC session timezone (determinism
vs the DuckDB oracle), and a shuffle-partition count sized to the local
core count — on a real cluster this is overridden by
spark.sql.adaptive.coalescePartitions anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pippin-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session. ``extra_conf`` entries are applied after
    the defaults (and so override them) — e.g. event logging for
    tools/stage_metrics.py."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces DOWN from initialPartitionNum; leaving it at
        # shuffle.partitions (= core count here) caps every post-shuffle
        # stage at 32 partitions, which at 100x data puts multi-GB
        # partitions through single tasks (measured: the triangle wedge
        # join at the 100x replica crawled/spilled at 32, runs clean when
        # AQE can keep more). High initial + advisory-size coalescing is
        # the canonical AQE deployment shape: small SFs coalesce back to
        # a handful of partitions, big data keeps enough. Explicit
        # repartition()/repartitionByRange() calls (ranked_sort) are
        # user-specified and unaffected.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("PIPPIN_INITIAL_PARTITIONS", "512"),
        )
        # without this, AQE partition coalescing is DISABLED inside
        # persist()/cache() subtrees (Spark pins cached-plan output
        # partitioning by default), so every cached operator (triangle
        # edges/oriented, dedup_clusters, pagerank checkpoints) would
        # run its shuffles at the full initialPartitionNum even on tiny
        # inputs — measured 17 s vs 8 s on triangle_count at sf0.1
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("PIPPIN_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
