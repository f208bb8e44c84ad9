"""Physical-plan quality gates: the properties that make these queries
scale are asserted, not hoped for. Each test pins the plan shape that a
100 TB run depends on (broadcast vs shuffle join, pushdown, pruning,
single Python-UDF evaluation)."""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def count_nodes(p: str, name: str) -> int:
    # formatted mode prints each node in the tree AND in the detail
    # section; "(<id>) <Name>" detail headers count nodes exactly once
    return len(re.findall(rf"\(\d+\) {name}\b", p))


@pytest.fixture(scope="module")
def qs():
    return entry.queries()


def test_broadcast_join_is_broadcast(spark, qs):
    # small dim side must broadcast — a shuffle join here would move the
    # fact table for nothing
    p = plan(qs["join_broadcast"](spark, SF))
    assert "BroadcastHashJoin" in p


def test_q3_broadcasts_filtered_dim(spark, qs):
    p = plan(qs["q3_shipping"](spark, SF))
    assert "BroadcastHashJoin" in p


def test_filter_pushdown_reaches_scan(spark, qs):
    # filter on l_quantity must reach the parquet reader
    p = plan(qs["filter"](spark, SF))
    assert "PushedFilters: [" in p
    assert "l_quantity" in p.split("PushedFilters")[1][:200]


def test_column_pruning_q1(spark, qs):
    # Q1 touches 7 lineitem columns; the scan must not read all 16
    p = plan(qs["q1_pricing"](spark, SF))
    read = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_union_all_has_no_shuffle(spark, qs):
    p = plan(qs["set_union"](spark, SF))
    assert "Exchange" not in p


def test_semi_join_stays_semi(spark, qs):
    # left-semi must not degrade into an inner join + distinct
    p = plan(qs["join_semi"](spark, SF))
    assert "LeftSemi" in p


def test_minhash_single_udf_eval(spark):
    # regression: a filter on the UDF output column once made Catalyst
    # inline the UDF into Filter AND Project → whole sketch computed
    # twice; nondeterministic marker pins single evaluation. Exactly 2
    # Arrow stages: one fused text→signature pass over the corpus, one
    # fused pair-Jaccard pass over the candidates — each evaluated once.
    # (the declared dedup_minhash query is now a recall summary that
    # also runs the exact ground truth, so pin the raw op's plan here)
    from pippin_spark.operators.dedup import dedup_minhash_lsh

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(dedup_minhash_lsh(docs, "text", "doc_id", threshold=0.5))
    assert count_nodes(p, "ArrowEvalPython") == 2


def test_pipeline_python_stage_single_eval(spark):
    # the same barrier on pipeline stages: without it Catalyst pushes
    # each error-tagging IS NOT NULL filter through the UDF projection
    # and inlines a second UDF copy (8 nodes for the F1 chain's 4 Python
    # stages, 5 for its second error sink's 3)
    from pyspark.sql import types as T

    from pippin_spark import Pipeline
    from test_e2e_canonical import build

    stage = build(spark, on_error=lambda e: None)
    assert count_nodes(plan(stage.sum_df()), "BatchEvalPython") == 4
    # sinks in chain order: map_with_error(int), flat_map_with_error(+1)
    second = stage.pipeline._error_sinks[1].df
    assert count_nodes(plan(second), "BatchEvalPython") == 3
    halved = (
        Pipeline.from_slice(spark, [1.0, 2.0, 3.0])
        .map(lambda s: s * 0.5, return_type=T.DoubleType(), pandas=True)
        .filter(F.col("value") > 0.6)
    )
    assert count_nodes(plan(halved.df), "ArrowEvalPython") == 1
    assert sorted(r[0] for r in halved.df.collect()) == [1.0, 1.5]


def test_simhash_single_udf_eval(spark):
    # one fused text→signature Arrow stage + one mapInPandas verify
    # stage; no distinct (pairs are emitted exactly once)
    from pippin_spark.operators.dedup import dedup_simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(dedup_simhash(docs, "text", "doc_id", max_hamming=3))
    assert count_nodes(p, "ArrowEvalPython") == 1
    assert count_nodes(p, "MapInPandas") == 1


def test_asof_join_single_shuffle_per_side(spark, qs):
    # union+window as-of join: one hash-partition exchange for the
    # window (plus the two scans' repartitions at most); no join node,
    # no O(n*m) nested loop
    p = plan(qs["asof_join_events"](spark, SF))
    assert "NestedLoop" not in p
    assert "SortMergeJoin" not in p


def test_exact_dedup_shuffles_digest_not_text(spark):
    # dedup_exact_groups aggregates on the md5 digest: the partial
    # (map-side) aggregation must appear before the exchange, so only
    # (digest, id) tuples cross the wire
    from pippin_spark.operators.dedup import dedup_exact_groups

    docs = entry.queries()["dedup_exact"](spark, SF)  # warms nothing; separate df below
    df = docs.sparkSession.read.parquet(f"{SF}/documents.parquet")
    p = plan(dedup_exact_groups(df, "text", "doc_id"))
    before_exchange = p.split("Exchange hashpartitioning")[0]
    assert "partial_count" in before_exchange or "HashAggregate" in before_exchange


def test_reduce_folds_per_partition_not_globally(spark):
    # Stage.reduce native path: the per-partition fold (groupBy on
    # spark_partition_id) must appear below the final ≤P-partial fold —
    # never one global collect_list over the whole column
    from pippin_spark.pipeline import Pipeline

    stage = Pipeline.from_table(spark, SF, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("value")
    )
    p = plan(stage.reduce_df(lambda a, b: a + b))
    assert "SPARK_PARTITION_ID" in p.upper() or "__pid__" in p
    # two aggregation levels: per-partition + final
    assert count_nodes(p, "ObjectHashAggregate") + count_nodes(p, "SortAggregate") >= 2


def test_global_topk_lowers_to_take_ordered(spark, qs):
    # global top-k must be TakeOrderedAndProject (per-partition heaps),
    # not a row_number window over a single-partition exchange of the
    # full input
    from pippin_spark.operators.relational import top_k

    df = spark.read.parquet(f"{SF}/orders.parquet")
    p = plan(top_k(df, 10, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]))
    assert "TakeOrderedAndProject" in p


def test_ranked_sort_has_no_full_single_partition_exchange(spark, qs):
    # agg_sort: the only SinglePartition exchange allowed is the tiny
    # ≤P-row offsets branch; the data path must be range-partitioned
    p = plan(qs["agg_sort"](spark, SF))
    assert "rangepartitioning" in p.lower()
    # at most one SinglePartition exchange — the ≤P-row offsets window —
    # (formatted mode prints it as an "Arguments: SinglePartition" line)
    singles = len(re.findall(r"Arguments: SinglePartition", p))
    assert singles <= 1
    if singles:
        # it must sit above the per-partition count aggregate, never
        # directly above the scan of the full input
        before = p.split("Arguments: SinglePartition")[0]
        assert "HashAggregate" in before or "ObjectHashAggregate" in before


def test_q18_broadcasts_survivors_and_takes_ordered(spark, qs):
    # the HAVING survivor set must broadcast to both dim joins (the
    # fact groupBy is the only real shuffle) and the global top-100
    # must lower to TakeOrderedAndProject, never a single-partition sort
    p = plan(qs["q18_large_orders"](spark, SF))
    assert count_nodes(p, "BroadcastHashJoin") == 2
    assert "TakeOrderedAndProject" in p


def test_gopher_filter_is_udf_free_scan(spark, qs):
    # quality gate must fuse into the scan: no Python evaluation, no
    # shuffle anywhere in the plan
    p = plan(qs["text_gopher_filter"](spark, SF))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Exchange" not in p


def test_sample_balance_broadcasts_counts(spark, qs):
    # the strata-count side is tiny and must broadcast; the corpus scan
    # must not shuffle
    p = plan(qs["sample_balance_lang"](spark, SF))
    assert "BroadcastHashJoin" in p


def test_bucketed_join_has_no_exchange(spark, qs):
    # the whole point of bucketing: with broadcast off, the fact-fact
    # join must be a sort-merge join over bucketed scans with no
    # shuffle on either side (the groupBy after it is the only one)
    from pippin_spark.operators import relational as REL

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        qs["bucketed_join_pricing"](spark, SF)  # ensure tables exist
        j = REL.co_located_join(
            spark,
            "pippin_bkt_sf0_001_lineitem",
            "pippin_bkt_sf0_001_orders",
            "l_orderkey",
            "o_orderkey",
        )
        p = plan(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q4_exists_decorrelates_to_semi_join(spark, qs):
    # the EXISTS subquery must decorrelate to a (left-)semi join — a
    # correlated per-row subquery execution would be O(n) queries
    p = plan(qs["q4_order_priority"](spark, SF))
    assert "LeftSemi" in p


def test_ranked_sort_counts_branch_reads_persisted_mids(spark, qs):
    # ranked_sort correctness hinges on both consumers (offsets branch
    # and output join) observing the SAME materialized mid values. The
    # pre-round-8 shape relied on ReusedExchange of the range shuffle —
    # which desynced when ranked_sort sat under a further exchange
    # (pack_stream_offsets compositions at sf0.1 produced block-shifted
    # ranks). The fix persists the id'd frame; both branches must read
    # it as InMemoryTableScans and no spark_partition_id projection may
    # read a live exchange.
    try:
        df = qs["agg_sort"](spark, SF)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        final = p.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final
        # the output join must read the persisted mids (the offsets
        # branch ran inside the already-materialized broadcast stage,
        # which the executed-plan string does not re-print)
        assert len(re.findall(r"InMemoryTableScan", final)) >= 1, final
        assert "SPARK_PARTITION_ID()" not in final
    finally:
        spark.catalog.clearCache()


def test_round3_plan_shapes(spark, qs):
    # one sweep of the round-3 additions' load-bearing plan properties
    def p(name):
        return plan(qs[name](spark, SF))

    # mixture + chunking: scan-fused, no shuffle anywhere
    assert "Exchange" not in p("sample_mixture_docs")
    assert "Exchange" not in p("doc_chunks")
    # winsorize: the per-type bounds must broadcast back, never shuffle
    # the fact side for the join
    wz = p("winsorize_events")
    assert "BroadcastHashJoin" in wz and "SortMergeJoin" not in wz
    # batch embedding: exactly one Arrow crossing
    assert count_nodes(p("embed_documents"), "MapInPandas") == 1
    # kNN: one grouped-Arrow candidate stage; the re-rank joins are
    # AQE-broadcastable (no pre-planned sort-merge)
    knn = p("knn_join_labels")
    assert count_nodes(knn, "FlatMapGroupsInPandas") == 1
    # line dedup: digest-keyed aggregation with map-side partials —
    # assert the partial-aggregate marker specifically (every aggregate
    # plan contains SOME HashAggregate, so that alone pins nothing)
    dl = p("dedup_lines_docs")
    assert "partial_" in dl


def test_tpch_completion_plan_shapes(spark, qs):
    def p(name):
        return plan(qs[name](spark, SF))

    # Q6: every predicate reaches the parquet scan; no joins at all
    q6 = p("q6_forecast_revenue")
    assert "PushedFilters: [" in q6
    pushed = q6.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    assert "Join" not in q6
    # Q8: seven-table star — every dim broadcasts; the only sort-merge
    # candidate is the fact⋈orders edge (AQE may broadcast it too)
    q8 = p("q8_market_share")
    assert count_nodes(q8, "BroadcastHashJoin") >= 6
    # Q13: orders aggregate BEFORE the customer join — the fact side
    # shrinks to per-custkey counts before any join
    q13 = p("q13_customer_distribution")
    first_join = min(
        [q13.find("SortMergeJoin"), q13.find("BroadcastHashJoin")],
        key=lambda i: i if i >= 0 else 10**9,
    )
    assert "HashAggregate" in q13[:first_join] if first_join > 0 else True
    # Q17: the correlated AVG compiles to a broadcast per-part stats
    # join (plus the part-filter broadcast) — never a re-shuffle of lp
    assert count_nodes(p("q17_small_quantity"), "BroadcastHashJoin") >= 2
    # Q21: EXISTS/NOT EXISTS pair became co-partitioned aggregates —
    # no nested-loop anywhere
    assert "NestedLoop" not in p("q21_sole_fault_supplier")
    # Q22: dormancy is an anti-join, the scalar average a 1-row
    # broadcast nested loop
    q22 = p("q22_dormant_customers")
    assert "LeftAnti" in q22


def test_round3_batch2_plan_shapes(spark, qs):
    def p(name):
        return plan(qs[name](spark, SF))

    # profile: ONE scan feeding the multi-distinct Expand — never a
    # scan per column
    prof = p("profile_orders")
    assert count_nodes(prof, "Scan parquet") == 1
    assert count_nodes(prof, "Expand") >= 1
    # deterministic mode: window runs on the keyed aggregate — no
    # single-partition exchange anywhere
    assert "Arguments: SinglePartition" not in p("agg_mode_status")
    # cumulative distinct users: the only single-partition window is
    # above the per-day aggregate (≤ #days rows)
    rdu = p("running_distinct_users")
    singles = len(re.findall(r"Arguments: SinglePartition", rdu))
    assert singles <= 1
    if singles:
        assert "HashAggregate" in rdu.split("Arguments: SinglePartition")[0]
    # pagerank: three join rounds, all JVM-side — no Python evaluation
    pr = p("pagerank_trade_graph")
    assert "BatchEvalPython" not in pr and "ArrowEvalPython" not in pr
    assert "NestedLoop" not in pr
    # sources: the roundtrips actually read their format back
    assert "orc" in p("source_from_orc").lower()
    assert "binaryFile".lower() in p("source_binary_files").lower()


def test_round3_batch5_plan_shapes(spark, qs):
    def p(name):
        return plan(qs[name](spark, SF))

    # the SHUFFLE_HASH hint must actually produce a shuffled hash join
    # (no sort on either side, no broadcast despite the small side)
    jsh = p("join_shuffle_hash")
    assert "ShuffledHashJoin" in jsh
    assert "SortMergeJoin" not in jsh
    # tolerance as-of join: same single-shuffle union+window plan as
    # the base as-of — no join node appears
    tol = p("asof_join_tolerance")
    assert "SortMergeJoin" not in tol and "NestedLoop" not in tol
    # text normalization is scan-fused: no UDF, no exchange
    tuc = p("text_unicode_clean")
    assert "Exchange" not in tuc
    assert "ArrowEvalPython" not in tuc and "BatchEvalPython" not in tuc
    # argmax: one aggregate pass, no window, no join
    agm = p("agg_argmax")
    assert count_nodes(agm, "Window") == 0 and "Join" not in agm


def test_round3_late_batch_plan_shapes(spark, qs):
    def p(name):
        return plan(qs[name](spark, SF))

    # expectation suite: every rule in ONE aggregate over one scan
    exp = p("expect_orders")
    assert count_nodes(exp, "Scan parquet") == 1
    # LOCF imputation: one keyed window, no join, no Python
    locf = p("impute_locf_events")
    assert "Join" not in locf and "EvalPython" not in locf
    # BM25: text never shuffles — no Exchange may carry the text
    # column (only (doc, term) count tuples cross the wire)
    bm = p("bm25_topk")
    for frag in bm.split("Exchange")[1:]:
        assert "text#" not in frag.splitlines()[0]
    # snapshot diff: exactly one join (full outer), classified in a
    # post-join projection, then a tiny aggregate
    sd = p("snapshot_diff_orders")
    assert (
        count_nodes(sd, "SortMergeJoin")
        + count_nodes(sd, "BroadcastHashJoin")
        + count_nodes(sd, "ShuffledHashJoin")
        == 1
    )
    # ordered history: aggregate-then-sort, never a per-row window
    hist = p("user_event_history")
    assert count_nodes(hist, "Window") == 0
    # TWAP: one keyed window + one aggregate, no join
    tw = p("twap_events")
    assert "Join" not in tw
    # per-source cap: rank<=N must push down as WindowGroupLimit on
    # BOTH sides of the exchange (map-side per-partition heaps, then
    # the final per-key limit) — never a full sort of each group
    cap = p("cap_docs_per_source")
    assert count_nodes(cap, "WindowGroupLimit") == 2


def test_partition_pruning_on_hive_sink(spark, qs):
    # a filter on the partition column of a hive-partitioned table
    # must prune at PLANNING time (PartitionFilters on the scan), not
    # read-and-discard — the 100 TB contract of partitioned layouts
    qs["sink_partitioned_parquet"](spark, SF)  # materializes the sink
    import os

    tag = os.path.basename(SF.rstrip("/"))
    path = f"/tmp/pippin_sink_{tag}/orders_by_priority"
    back = spark.read.parquet(path).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    p = plan(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m is not None and "o_orderpriority" in m.group(1)


def test_dynamic_partition_pruning_kicks_in(spark):
    # joining a partitioned fact with a filtered dim must inject a
    # dynamicpruning subquery on the fact scan: only the partitions
    # the dim filter selects are read at runtime
    import os

    tag = os.path.basename(SF.rstrip("/"))
    path = f"/tmp/pippin_dpp_{tag}/orders_by_status"
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    fact = spark.read.parquet(path)
    # the dim must come from a real source WITH a selective filter —
    # DPP only plans a pruning subquery when the build side has a
    # predicate worth pushing across the join
    dim = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderstatus").alias("st"),
            F.col("o_orderpriority").alias("prio"),
        )
        .distinct()
    )
    joined = fact.join(dim, fact["o_orderstatus"] == dim["st"]).groupBy(
        "prio"
    ).count()
    p = plan(joined)
    assert "dynamicpruning" in p.lower(), p[:2000]


def test_cbo_stats_enable_broadcast(spark):
    # cost-based optimization surface: ANALYZE TABLE COMPUTE STATISTICS
    # records sizeInBytes in the catalog, and a table KNOWN to be small
    # then broadcasts without any hint — the stats-driven half of join
    # planning (hints and AQE cover the other paths)
    import uuid

    t = f"pippin_stats_{uuid.uuid4().hex[:8]}"
    spark.read.parquet(f"{SF}/nation.parquet").write.saveAsTable(t)
    try:
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
        desc = spark.sql(f"DESCRIBE EXTENDED {t}").collect()
        stats_row = [r for r in desc if r["col_name"] == "Statistics"]
        assert stats_row and "bytes" in stats_row[0]["data_type"]
        big = spark.read.parquet(f"{SF}/customer.parquet")
        j = big.join(
            spark.table(t), big["c_nationkey"] == F.col("n_nationkey")
        )
        assert "BroadcastHashJoin" in plan(j)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_aqe_skew_join_splits_hot_partition(spark):
    # the 100 TB celebrity-key story: one key carrying most of the
    # rows must be SPLIT by AQE's skew-join handling at runtime, not
    # processed by one straggler task. Thresholds are lowered so the
    # effect is observable at test scale; the assertion is on the
    # executed (adaptive) plan's skew markers.
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # coalescing first would merge the small partitions into the
        # skew-detection median; column pruning would shrink the hot
        # partition below threshold (hence the pad columns survive
        # into the aggregate below)
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(0, 200_000).select(
            (F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("rpad"),
        )
        j = hot.join(right, "k").agg(
            F.sum(F.length("pad")).alias("s"),
            F.sum(F.length("rpad")).alias("r"),
        )
        j.collect()
        p = j._jdf.queryExecution().executedPlan().toString()
        final = p.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:3000]
        assert "AQEShuffleRead skewed" in final
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_tolerance_edges(spark):
    # exactly-at-tolerance matches survive; one tick beyond nulls out;
    # left rows with no prior right row stay null
    from pippin_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 50, "c")], "k long, t long, tag string"
    )
    right = spark.createDataFrame(
        [(1, 70, 7.0), (1, 189, 9.0)], "k long, t long, v double"
    )
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t",
        right_cols=["v"], tolerance=30,
    )
    got = {r["tag"]: r["v"] for r in out.collect()}
    # a: t=100, latest right at 70, distance 30 == tolerance -> kept
    # b: t=200, latest right at 189, distance 11 -> kept
    # c: no right rows for k=2 -> null
    assert got == {"a": 7.0, "b": 9.0, "c": None}
    out2 = asof_join(
        left, right, on="k", left_ts="t", right_ts="t",
        right_cols=["v"], tolerance=29,
    )
    got2 = {r["tag"]: r["v"] for r in out2.collect()}
    assert got2 == {"a": None, "b": 9.0, "c": None}
    # regression (review finding): an in-band right row whose VALUE is
    # null must not let an out-of-band older value pass the tolerance
    # gate — staleness binds to the value's own timestamp
    left3 = spark.createDataFrame([(1, 12, "x")], "k long, t long, tag string")
    right3 = spark.createDataFrame(
        [(1, 0, 5.0), (1, 10, None)], "k long, t long, v double"
    )
    out3 = asof_join(
        left3, right3, on="k", left_ts="t", right_ts="t",
        right_cols=["v"], tolerance=5,
    )
    assert out3.collect()[0]["v"] is None


def test_bloom_prefilter_plan_shape(spark, qs):
    # the explicit runtime filter must be pure codegen: no Python eval
    # anywhere, the one-row bitmap arrives by broadcast, and the fact
    # scan reads only the 3 projected columns
    p = plan(qs["join_bloom_prefilter"](spark, SF))
    assert "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "ShuffledHashJoin" in p  # the exact join the bloom feeds
    schemas = re.findall(r"ReadSchema: (\S+)", p)
    li = [s for s in schemas if "l_extendedprice" in s]
    # fact scan projects exactly the 3 used columns — no full-row read
    assert li and all(s.count(":") == 3 for s in li)


def test_lm_score_plan_shape(spark, qs):
    # the LM lookup must ride broadcast joins (the token stream never
    # shuffles for it), and bigram generation must be the narrow
    # array-zip — no per-doc Window over the exploded token stream
    p = plan(qs["text_lm_score"](spark, SF))
    assert count_nodes(p, "Window") == 0
    assert p.count("BroadcastHashJoin") >= 2
    assert "EvalPython" not in p


def test_span_stats_plan_shape(spark, qs):
    # window extraction must be narrow (sequence/explode — no Window
    # node, no Python), and every shuffle key is the span digest or the
    # doc id — never the raw 40-char span text
    p = plan(qs["dedup_span_stats"](spark, SF))
    assert count_nodes(p, "Window") == 0
    assert "EvalPython" not in p
    for m in re.findall(r"hashpartitioning\(([^,]+)", p):
        assert m.strip().split("#")[0] in {"__id__", "__h__"}, m


def test_winnowing_plan_shape(spark, qs):
    # fingerprinting must stay embarrassingly parallel: the ONLY
    # exchange allowed is the ensure_parallelism round-robin (a no-op
    # at scale where scan splits abound) — never a hash/range shuffle,
    # never a Window; the sliding-min is ONE Arrow stage, not an
    # interpreted HOF and not row-at-a-time Python
    p = plan(qs["dedup_winnowing"](spark, SF))
    parts = re.findall(r"Arguments: ([A-Za-z]+Partitioning)", p)
    assert all(k == "RoundRobinPartitioning" for k in parts), parts
    assert count_nodes(p, "Window") == 0
    assert count_nodes(p, "ArrowEvalPython") == 1
    assert "BatchEvalPython" not in p


def test_set_join_no_cartesian(spark, qs):
    # PPJoin candidates come from prefix equi-joins only — a cartesian
    # or nested-loop anywhere means the prefix filter fell over
    p = plan(qs["set_join_jaccard_docs"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_fuzzy_join_short_regime_is_blocked(spark, qs):
    # Ed-Join: the short-string regime must NOT be an unconditioned
    # all-pairs product. The alphabet-bounded ultra bucket may appear
    # as a BroadcastNestedLoopJoin, but only WITH a join condition
    p = plan(qs["fuzzy_join_qgram_parts"](spark, SF))
    assert "CartesianProduct" not in p
    for m in re.finditer(r"\(\d+\) BroadcastNestedLoopJoin\n((?:.+\n)+?)\n", p):
        assert "Join condition: None" not in m.group(1)


def test_pagerank_reuses_cached_edges(spark, qs):
    # the Pregel rounds must read the persisted (columnar-cached)
    # edge/degree tables, not re-derive them from parquet once per
    # round — at 100 TB a per-round re-scan multiplies the whole build
    # by the round count. Round 8 moved the materialization from
    # localCheckpoint (deserialized row objects on heap; 215 s of GC
    # in that one stage at the 100x century) to the columnar cache
    # (compressed batches, 56 s vs 82 s at 100x) — the gate now pins
    # InMemoryTableScans feeding the rounds and, like the SHJ hint,
    # the shuffled-hash join replacing the edge-sorting SMJ.
    # (formatted explain re-prints each InMemoryRelation's BUILD
    # subtree under every one of its scans, so counting 'Scan parquet'
    # in the text over-counts the single physical cache build — gate
    # on the cache scans and the join strategy instead)
    try:
        p = plan(qs["pagerank_trade_graph"](spark, SF))
        assert count_nodes(p, "InMemoryTableScan") >= 4  # 3 rounds + nodes
        assert count_nodes(p, "ShuffledHashJoin") >= 3  # one per round
    finally:
        spark.catalog.clearCache()


def test_bpe_rounds_read_cached_vocab_not_corpus(spark, monkeypatch):
    # DISTRIBUTED path (the 100 TB shape; forced by zeroing the
    # local-vocab guard): each merge round must fold over the PREVIOUS
    # round's cached vocab table; the corpus itself is scanned exactly
    # once (inside the persisted word_counts) — the final sequence
    # plan may print that one stored scan inside its InMemoryRelation
    # but must not add parquet scans of its own
    from pippin_spark.operators import bpe

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    try:
        monkeypatch.setattr(bpe, "_LOCAL_VOCAB_MAX", 0)
        _, seq = bpe._train(docs, "text", 2)
        p = plan(seq)
        assert count_nodes(p, "InMemoryTableScan") >= 1
        assert count_nodes(p, "Scan parquet") <= 1
        # LOCAL path (every local run): the returned vocab is a
        # driver-built Arrow table — pure JVM scan, no Python worker,
        # no corpus re-scan
        monkeypatch.undo()
        _, seq_local = bpe._train(docs, "text", 2)
        pl = plan(seq_local)
        assert count_nodes(pl, "Scan parquet") == 0
        assert "BatchEvalPython" not in pl
    finally:
        spark.catalog.clearCache()


def test_partsupp_tpch_shapes(spark, qs):
    # Q9: the dim chain (part, derived partsupp, supplier, nation)
    # must broadcast — the only join allowed to move fact-sized data
    # is lineitem⋈orders on orderkey
    p = plan(qs["q9_product_profit"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 4
    assert count_nodes(p, "SortMergeJoin") + count_nodes(
        p, "ShuffledHashJoin"
    ) <= 1
    # the partsupp derivation must be scan-side: the 'red' part filter
    # reaches a parquet scan (pruned BEFORE the 4x explode)
    assert "PushedFilters" in p
    # Q2: correlated-min decorrelates to a broadcast join back; the
    # only single-partition branches are the 1-row supplier count and
    # the <=100-row TakeOrdered rank
    p2 = plan(qs["q2_min_cost_supplier"](spark, SF))
    assert "TakeOrderedAndProject" in p2
    from pippin_spark import plans as P

    P.assert_scale_shape(qs["q2_min_cost_supplier"](spark, SF), max_single_partition=2)


def test_pq_scan_is_one_arrow_pass(spark, qs):
    # the PQ encode + ADC scan must be a single Arrow crossing (codes
    # never materialize as a column, tables ride in the closure) with
    # no row-at-a-time Python anywhere in the query
    p = plan(qs["ann_topk_pq"](spark, SF))
    assert count_nodes(p, "MapInPandas") == 1
    assert "BatchEvalPython" not in p


def test_plans_module_stats_and_guard(spark, qs):
    from pippin_spark import plans as P

    df = qs["q3_shipping"](spark, SF)
    stats = P.plan_stats(df)
    assert stats["broadcast_joins"] >= 1 and stats["row_udfs"] == 0
    # digest is stable for the same plan and sensitive to shape
    assert P.plan_digest(df) == P.plan_digest(df)
    # q3 funnels only through TakeOrdered (no SinglePartition exchange
    # of the input) — the guard passes at its documented bound
    P.assert_scale_shape(df, max_single_partition=1)
    # a deliberate full-input single-partition window must trip it
    import pytest as _pt
    from pyspark.sql import Window, functions as F

    bad = (
        spark.range(100)
        .withColumn("rn", F.row_number().over(Window.orderBy("id")))
    )
    with _pt.raises(AssertionError, match="SinglePartition"):
        P.assert_scale_shape(bad, max_single_partition=0)


def test_shuffle_order_ranks_without_full_single_partition(spark, qs):
    # the global training-shuffle rank must come from ranked_sort's
    # range exchange, never a single-partition window over the corpus
    p = plan(qs["shuffle_order_docs"](spark, SF))
    assert "rangepartitioning" in p.lower()
    singles = len(re.findall(r"Arguments: SinglePartition", p))
    assert singles <= 1
    if singles:
        before = p.split("Arguments: SinglePartition")[0]
        assert "HashAggregate" in before or "ObjectHashAggregate" in before


def test_shuffle_order_epochs_plan_reuses_ranked_sort_shape(spark, qs):
    # each epoch branch is its own ranked_sort range-exchange; the only
    # SinglePartition exchanges allowed are the two <=P-row offset
    # aggregates (one per epoch), never the corpus itself
    p = plan(qs["shuffle_order_epochs"](spark, SF))
    assert "rangepartitioning" in p.lower()
    singles = re.findall(r"Arguments: SinglePartition", p)
    assert len(singles) <= 2
    for chunk in p.split("Arguments: SinglePartition")[:-1]:
        assert "HashAggregate" in chunk or "ObjectHashAggregate" in chunk


def test_curriculum_order_plan_reuses_ranked_sort_shape(spark, qs):
    # curriculum rank = ranked_sort range-exchange over (decile, md5);
    # singles allowed only for the 1-row decile-bounds aggregate (which
    # plans once per ranked_sort consumer branch, so twice) and the
    # <=P-row offset aggregate — each must sit above an aggregate, so
    # the corpus itself never single-partitions
    p = plan(qs["curriculum_order_docs"](spark, SF))
    assert "rangepartitioning" in p.lower()
    singles = p.split("Arguments: SinglePartition")[:-1]
    assert len(singles) <= 3
    for chunk in singles:
        assert "HashAggregate" in chunk or "ObjectHashAggregate" in chunk


def test_round6_plan_shapes(spark, qs):
    def p(name):
        return plan(qs[name](spark, SF))

    # hard-negative mining: ONE Arrow candidate stage (never the
    # interpreted HOF evaluator over anchors x corpus), anchors and
    # candidate ids broadcast into the exact re-rank, no row UDFs
    hn = p("hard_negative_mining")
    assert count_nodes(hn, "MapInPandas") == 1
    assert count_nodes(hn, "BatchEvalPython") == 0
    assert "BroadcastExchange" in hn
    # mixture weights: the sum-of-isqrt side is a 1-row broadcast; the
    # only SinglePartition exchange is that tiny aggregate
    mw = p("mixture_weights_sqrt")
    assert len(re.findall(r"Arguments: SinglePartition", mw)) <= 1
    # corpus manifest: one map-side-combined aggregate, no joins at all
    cm = p("corpus_manifest_docs")
    assert count_nodes(cm, "Exchange") == 1
    assert "Join" not in cm


def test_pack_epochs_plan_shape(spark, qs):
    # loader-feed composition: per epoch, ranked_sort's range exchange
    # feeds the bucketed two-phase prefix sum. SinglePartition allowed
    # only for the tiny aggregates (ranked_sort's <=P-row offsets and
    # pack_stream_offsets' #buckets-row prefix, one each per epoch) —
    # each must sit above an aggregate, the corpus itself never
    # single-partitions
    p = plan(qs["pack_epochs_e2e"](spark, SF))
    assert "rangepartitioning" in p.lower()
    singles = p.split("Arguments: SinglePartition")[:-1]
    assert len(singles) <= 4
    for chunk in singles:
        assert "HashAggregate" in chunk or "ObjectHashAggregate" in chunk
    # the in-bucket cumsum is persisted (two consumers; pruning defeats
    # ReuseExchange) — both the offsets join and the bucket totals must
    # read the cache, not re-derive the rank subtree
    assert "InMemoryTableScan" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_incremental_release_scan_carries_id_range_pushdown(spark, qs):
    # the restricted doc-level diff must read the snapshots through the
    # changed-bucket id ranges: the parquet scan shows pushed
    # range filters on doc_id (row groups outside every changed range
    # are skipped at the source), never an unfiltered full re-scan
    p = plan(qs["incremental_release_e2e"](spark, SF))
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    ranged = [
        f for f in pushed
        if "GreaterThanOrEqual(doc_id" in f and "LessThanOrEqual(doc_id" in f
    ]
    assert ranged, f"no id-range pushdown in any scan: {pushed[:4]}"
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_ivf_prebuilt_probe_prunes_cells_at_scan(spark, qs):
    # the prebuilt probe must read only the probed cells' row groups:
    # the assigned-table scan carries an IN-literal on cell (pushed
    # filters), and no Lloyd training / corpus assignment appears —
    # the only Arrow stage allowed is none (probe is pure JVM)
    p = plan(qs["ann_topk_ivf_prebuilt"](spark, SF))
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("In(cell" in f for f in pushed), pushed[:4]
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "MapInPandas" not in p


def test_sft_render_multiturn_zero_shuffle(spark, qs):
    # multi-turn rendering is closed-form arithmetic + string codegen
    # over an exploded bounded sequence: no exchange, no Python — the
    # per-turn offsets must NOT come from a running window
    p = plan(qs["sft_render_multiturn"](spark, SF))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Window" not in p


def test_maintained_index_probe_prunes_partitions(spark):
    # the layout='cells' (maintained) index is partitioned BY cell, so
    # the probe's IN-literal prunes whole DIRECTORIES at planning time:
    # the scan's PartitionFilters must carry cell IN (...) and the
    # partition count read must be < the total cell count
    import glob

    from pippin_spark.entry_queries import _maint_index_path, _t
    from pippin_spark.operators import similarity as SIM

    emb = _t(spark, SF, "embeddings").df
    path = _maint_index_path(SF)
    if not glob.glob(f"{path}/assigned/cell=*"):
        base = emb.filter(F.col("vec_id") % 10 < 8)
        SIM.ann_index_write(
            base, "embedding", "vec_id", path, num_cells=16,
            train_iters=3, layout="cells",
        )
    q = emb.filter(F.col("vec_id") < 5)
    probe = SIM.ivf_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=5, nprobe=4
    )
    p = plan(probe)
    part = re.findall(r"PartitionFilters: \[[^\]]*\]", p)
    assert any("cell" in f and "IN" in f.upper() for f in part), part[:4]


def test_ivfpq_prebuilt_scan_reads_codes_not_vectors(spark, qs):
    # the on-disk IVF-PQ point: the candidate scan's projection is
    # (id, codes) — the raw vector column must NOT be in the ADC
    # scan's ReadSchema (it is read back only for survivors), and the
    # probed-cell IN prunes partitions of the cells-layout index
    df = qs["ann_topk_ivfpq_prebuilt"](spark, SF)
    p = plan(df)
    reads = re.findall(r"ReadSchema: [^\n]*", p)
    code_scans = [r for r in reads if "codes" in r]
    assert code_scans, reads[:6]
    assert all("cv" not in r for r in code_scans), code_scans
    part = re.findall(r"PartitionFilters: \[[^\]]*\]", p)
    assert any("cell" in f and "IN" in f.upper() for f in part), part[:4]
