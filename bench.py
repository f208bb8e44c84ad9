"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Materialization uses the noop sink (df.write.format("noop")) so every
row/column of the result is computed without driver-side transfer —
measuring engine throughput, not collect() serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

HEADLINE = [
    # reference-parity core
    "q1_pricing",
    "agg_sum",
    "agg_group_by",
    "map_with_error",
    "flat_map",
    "agg_distinct_count",
    "agg_sort",
    "agg_as_map",
    # relational extensions
    "q3_shipping",
    "join_broadcast",
    "window_running_sum",
    "asof_join_events",
    "sessionize_events",
    "rollup_pricing",
    "cube_pricing",
    "join_semi",
    "topk_per_group",
    "agg_percentile",
    "streaming_tumbling_window",
    # LLM-data operators
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "dedup_simhash",
    "ann_topk_bruteforce",
    "text_quality",
    "text_lang_id",
    "multimodal_decode",
    "multimodal_resize",
    # round-2 additions (regressions visible from round 3 on)
    "q5_region_revenue",
    "q18_large_orders",
    "ann_topk_lsh",
    "knn_join_labels",
    "pack_sequences_docs",
    "text_gopher_filter",
    "streaming_stateful_counts",
    # round-3 additions
    "doc_chunks",
    "text_tfidf_topterms",
    "sample_mixture_docs",
    "asof_join_events_bucketed",
    "agg_hll_by_group",
    # round-3 batch 2-4 additions
    "q8_market_share",
    "q13_customer_distribution",
    "pagerank_trade_graph",
    "heavy_hitters_events",
    "running_distinct_users",
    "ewma_events",
    "streaming_stream_stream_join",
    # round-3 continuation additions
    "join_bloom_prefilter",
    "emb_random_projection",
    "multimodal_audio_chunk",
    "text_lm_score",
    "dedup_span_stats",
    "dedup_winnowing",
    "decontaminate_winnow",
    "bpe_train_merges",
    "collocations_pmi",
    "text_feature_hashing",
    "drawdown_users",
    "skyline_parts",
    "exact_median_orders",
    "cogroup_reconcile_events",
    "fuzzy_join_qgram_parts",
    "set_join_jaccard_docs",
    "benford_order_prices",
    "dedup_sorted_neighborhood",
    # round-4 additions: the heavy never-benched ops (VERDICT r3 #5)
    # + the new partsupp TPC-H profit query + the IVF-fed kNN join
    "triangle_count_parts",
    "recursive_cte_reach",
    "bm25_topk",
    "unpivot_lineitem",
    "dedup_clusters",
    "q9_product_profit",
    "knn_join_ivf",
    "ann_topk_pq",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_parts_supplier_counts",
    "q20_potential_promotion",
    "q21_sole_fault_supplier",
    "streaming_minhash_dedup",
    "diversity_kcenter",
    "agg_count_min_events",
    # round-5 additions: the remaining never-benched nontrivial ops
    # (VERDICT r4 #5) + the multi-probe IVF kNN as its OWN row
    # ("knn_join_ivf" keeps timing the nprobe=1 build so its
    # round-over-round comparison stays apples-to-apples; the declared
    # query moved to nprobe=2)
    "span_corrupt_docs",
    "fim_transform_docs",
    "pretrain_prep_e2e",
    "semantic_dedup_e2e",
    "knn_join_ivf_nprobe2",
    # round-5 session-2 additions: span-level scrub (the Lee et al.
    # rewrite) and the exact-integer quality-classifier trainer.
    # quality_classifier_score is NOT benched: its builder re-runs the
    # full training (the honest construction cost), so a bench row
    # would just re-time quality_classifier_train with a lazy
    # projection appended — the train row already carries the signal.
    "dedup_span_scrub",
    "quality_classifier_train",
    "classifier_scrub_e2e",
    "dsir_select_docs",
    "streaming_quality_gate",
    # round-6 additions
    "hard_negative_mining",
    "mixture_weights_sqrt",
    "shuffle_order_docs",
    "corpus_manifest_docs",
    "temperature_rebalance_e2e",
    "pack_bins_docs",
    # round-7 additions
    "hard_negative_ivf",
    "shuffle_order_epochs",
    "corpus_manifest_diff",
    "pack_bins_report",
    "centroid_drift_snapshots",
    "token_budget_waterfill",
    "streaming_corpus_manifest",
    "repeat_epochs_plan",
    "curriculum_order_docs",
    "dedup_cross_source_matrix",
    "corpus_changed_docs",
    # round-8 additions
    "pack_epochs_e2e",
    "incremental_release_e2e",
    "ann_topk_ivf_prebuilt",  # probe-only latency: build-if-missing
    "hard_negative_ivf_prebuilt",  # corpus-scale probe, no retrain
    "dedup_keep_best_quality",
    "quality_rank_fusion",
    "streaming_ivf_cell_route",
    "training_manifest_e2e",
    "pack_mix_report",
    "sft_render_docs",
    "eval_split_decontaminated_e2e",
    "contrastive_pairs_e2e",
    # round-9 additions
    "ann_index_maintain_e2e",
    "sft_render_multiturn",
    "contrastive_inbatch_export",
    "sft_pack_masked",
    "ann_topk_ivfpq",
    "ann_topk_ivfpq_prebuilt",  # probe-only: codes-scan + re-rank
    "ann_topk_ivfpq_residual",  # FAISS-default residual encoding
    # round-10 additions
    "sft_manifest_e2e",  # epoch-permuted loss-mask-aware packing
    "bpe_encode_docs",  # per-doc cost under the learned tokenizer
    # round-11 additions
    "ann_index_retrain_e2e",  # PQ gate fires -> codebook retrain cycle
    "pack_on_bpe_e2e",  # learned-tokenizer token-budget loader manifest
    "unigram_vocab_segments",  # unigram-LM (SentencePiece-style) induction
    "corpus_datacard",  # grouping-sets release report w/ exact dup rates
    "tokenizer_fertility",  # per-lang learned-vs-proxy tokenizer cost
    "wordpiece_train_merges",  # likelihood-gain induction (BERT builder)
    "unigram_encode_docs",  # per-doc cost under the unigram-LM tokenizer
    "bpe_encode_prebuilt",  # frozen-tokenizer encode (no training jobs)
]

# ---------------------------------------------------------------------
# Headline selection rule (VERDICT r9 #7). The suite times:
#   1. every end-to-end composition (the *_e2e rows),
#   2. every scale-critical operator (dedup/ANN/packing/streaming-
#      ingest/classifier — anything whose 100 TB story SCALING.md
#      argues), and
#   3. ONE representative per remaining operator FAMILY — queries that
#      exercise the same engine path (same exchange/window/Arrow-pass
#      plan shape) as an already-timed row add benchmark minutes
#      without adding information.
# Every DECLARED query must either be in HEADLINE or match exactly one
# named exclusion rule below; main() asserts this, so adding a query
# without deciding its benchmark status fails the next bench run.
#
# HEADLINE_VARIANT_OF maps each rule-3 exclusion to the timed row that
# answers for its plan shape (checked: every value must be in
# HEADLINE). The other three rules are categorical:
EXCLUDE_STREAM_RIG = {
    # availableNow stream rig (startup + drain, ~1 s) dominates the
    # stateless/stateful op inside; the 7 timed streaming rows cover
    # every distinct state-store shape (window agg, session, dedup
    # state, stream-stream join, foreachBatch sink, sketch state)
    "streaming_approx_users",
    "streaming_dedup",
    "streaming_dedup_within_watermark",
    "streaming_foreach_upsert",
    "streaming_join_static",
    "streaming_latest_value",
    "streaming_session_window",
    "streaming_sliding_window",
}
EXCLUDE_IO_API = {
    # IO/API surface demos: correctness-gated round-trips and catalog/
    # SQL-binding checks whose cost is the fixture write/read, not an
    # engine path the suite doesn't already time
    "source_binary_files", "source_custom_python", "source_file_lineage",
    "source_from_csv", "source_from_json", "source_from_map",
    "source_from_orc", "source_from_slice", "source_from_text",
    "source_from_xml", "source_json_corrupt", "source_orc_roundtrip",
    "source_parquet_evolved", "sink_compacted_parquet",
    "sink_csv_roundtrip", "sink_jsonl_roundtrip",
    "sink_partitioned_parquet", "sink_sorted_parquet",
    "for_each_sink_roundtrip", "catalog_ctas", "sql_query_api",
    "sql_scalar_udf", "expect_orders", "profile_orders",
}
EXCLUDE_BUILD_ONCE = {
    # build-once artifacts: their cost is measured through the probe
    # rows that consume them (ann_topk_*_prebuilt, maintain_e2e)
    "ann_index_build",
}
HEADLINE_VARIANT_OF = {
    # aggregations: same partial-agg exchange as the rep
    "agg_avg": "agg_sum", "agg_avg_complex": "agg_sum",
    "agg_sum_complex": "agg_sum", "agg_min": "agg_sum",
    "agg_max": "agg_sum", "agg_count": "agg_sum", "agg_reduce": "agg_sum",
    "async_sum": "agg_sum", "async_distinct_count": "agg_distinct_count",
    "agg_argmax": "agg_group_by", "agg_bitwise": "agg_group_by",
    "agg_conditional_bools": "agg_group_by",
    "agg_correlations": "agg_group_by", "agg_mode_status": "agg_group_by",
    "agg_stats_moments": "agg_group_by", "agg_regression": "agg_group_by",
    "agg_array_ops": "agg_group_by",
    "agg_as_slice": "agg_as_map", "agg_as_multi_map": "agg_as_map",
    "agg_distinct": "agg_distinct_count",
    "agg_approx_distinct_count": "agg_distinct_count",
    "agg_hll_datasketches": "agg_hll_by_group",
    "agg_hll_union_merge": "agg_hll_by_group",
    "agg_sort_desc": "agg_sort",
    "agg_percentile_by_group": "agg_percentile",
    "agg_percentile_disc": "agg_percentile",
    "agg_approx_percentile": "agg_percentile",
    "agg_median_pandas": "exact_median_orders",
    # map/filter transforms: narrow codegen stages
    "map_native": "map_with_error", "map_pandas_udf": "map_with_error",
    "map_with_error_mapper": "map_with_error",
    "flat_map_with_error": "flat_map",
    "flat_map_with_error_mapper": "flat_map",
    "filter": "map_with_error",
    "union_missing_columns": "flat_map",
    # window functions: one keyed window exchange
    "window_rank": "window_running_sum",
    "window_dist_rank": "window_running_sum",
    "window_percent_rank": "window_running_sum",
    "window_ntile": "window_running_sum",
    "window_lag_lead": "window_running_sum",
    "window_first_last": "window_running_sum",
    "window_range_frame": "window_running_sum",
    "window_rolling_median": "window_running_sum",
    "session_window_native": "sessionize_events",
    "sessionize_events_bucketed": "sessionize_events",
    # joins
    "join_anti": "join_semi", "join_outer_counts": "join_broadcast",
    "join_cross": "join_broadcast", "join_salted": "join_broadcast",
    "join_shuffle_hash": "join_broadcast",
    "not_in_customers": "join_semi",
    "bucketed_join_pricing": "join_broadcast",
    "range_join_price": "asof_join_events",
    "asof_join_forward_events": "asof_join_events",
    "asof_join_tolerance": "asof_join_events",
    "fuzzy_match_names": "fuzzy_join_qgram_parts",
    # set ops are distinct semi/anti joins
    "set_union": "join_semi", "set_intersect": "join_semi",
    "set_intersect_all": "join_semi", "set_except": "join_semi",
    "set_except_all": "join_semi", "user_type_setops": "join_semi",
    # TPC-H mid-range: multi-join + agg, repped by the timed quartet
    "q4_order_priority": "q18_large_orders",
    "q6_forecast_revenue": "q1_pricing",
    "q7_nation_volume": "q9_product_profit",
    "q10_returned_top_customers": "q9_product_profit",
    "q12_priority_class": "q3_shipping",
    "q14_promo_revenue": "q9_product_profit",
    "q15_top_supplier": "q9_product_profit",
    "q17_small_quantity": "q18_large_orders",
    "q19_disjunctive_revenue": "q1_pricing",
    "q22_dormant_customers": "q21_sole_fault_supplier",
    # dedup variants
    "decontaminate_docs": "decontaminate_winnow",
    "dedup_minhash_megabucket": "dedup_minhash",
    "dedup_ngram_megablock": "dedup_ngram_jaccard",
    "dedup_ngram_keep": "dedup_ngram_jaccard",
    "dedup_transitive_keep": "dedup_clusters",
    "dup_cluster_sizes": "dedup_clusters",
    "dedup_lines_docs": "dedup_exact",
    "dedup_media_bytes": "dedup_exact",
    "dedup_embedding": "semantic_dedup_e2e",
    "dedup_incremental_docs": "incremental_release_e2e",
    # embeddings / ANN
    "emb_normalize": "emb_random_projection",
    "emb_standardize": "emb_random_projection",
    "emb_quantize": "emb_random_projection",
    "emb_label_centroids": "centroid_drift_snapshots",
    "embed_documents": "emb_random_projection",
    "ann_topk_ivf": "ann_topk_ivf_prebuilt",
    "ann_topk_ivf_kmeans": "ann_topk_ivf_prebuilt",
    # text: one Arrow/codegen pass like the rep
    "text_fingerprint": "text_quality",
    "text_pii_redact": "text_quality",
    "text_repetition": "text_quality",
    "text_token_count": "text_quality",
    "text_unicode_clean": "text_quality",
    "extract_numbers_stats": "text_quality",
    "string_breadth_docs": "text_quality",
    "json_extract_props": "text_quality",
    "udtf_sentences": "text_quality",
    "text_top_bigrams": "collocations_pmi",
    "ngram_lm_counts": "collocations_pmi",
    "token_freq_spectrum": "collocations_pmi",
    "vocab_coverage": "collocations_pmi",
    "bpe_vocab_segments": "bpe_train_merges",
    "wordpiece_vocab_segments": "wordpiece_train_merges",
    # identical plan shape to bpe_encode_docs (vocab-table training +
    # the doc->word explode join), different merge literals
    "wordpiece_encode_docs": "bpe_encode_docs",
    # events / time series
    "event_transitions": "sessionize_events",
    "funnel_users": "sessionize_events",
    "gap_detect_events": "sessionize_events",
    "gap_fill_events": "sessionize_events",
    "impute_locf_events": "sessionize_events",
    "merge_intervals_events": "sessionize_events",
    "order_violations": "sessionize_events",
    "scd2_user_values": "sessionize_events",
    "retention_cohorts": "drawdown_users",
    "rollup_time_events": "rollup_pricing",
    "grouping_sets_pricing": "rollup_pricing",
    "pivot_pricing": "rollup_pricing",
    "sliding_window_events": "window_running_sum",
    "twap_events": "window_running_sum",
    "mom_revenue_growth": "window_running_sum",
    "time_bucket_events": "agg_group_by",
    "key_skew_events": "agg_group_by",
    "histogram_prices": "agg_group_by",
    "date_breadth_orders": "agg_group_by",
    "props_key_counts": "agg_group_by",
    "props_value_stats": "agg_group_by",
    "variant_props_stats": "agg_group_by",
    "target_encode_loo": "agg_group_by",
    "mad_outlier_events": "agg_percentile",
    "winsorize_events": "agg_percentile",
    "quality_quantiles_by_facet": "agg_percentile",
    "length_decile_docs": "agg_percentile",
    "user_event_history": "agg_as_map",
    # sampling / mixtures: pure-hash membership predicates
    "sample_hash_orders": "sample_mixture_docs",
    "sample_stratified_orders": "sample_mixture_docs",
    "sample_weighted_docs": "sample_mixture_docs",
    "sample_per_group_docs": "sample_mixture_docs",
    "sample_balance_lang": "sample_mixture_docs",
    "split_assign_docs": "sample_mixture_docs",
    "cap_docs_per_source": "topk_per_group",
    "nucleus_top_sources": "topk_per_group",
    "lang_rebalance_plan": "temperature_rebalance_e2e",
    "length_bucketed_batches": "pack_bins_docs",
    # quality / incremental / misc
    "quality_classifier_score": "quality_classifier_train",
    "incremental_pricing_merge": "incremental_release_e2e",
    "merge_changes_orders": "incremental_release_e2e",
    "snapshot_diff_orders": "corpus_manifest_diff",
    "zorder_parts": "agg_sort",
    "multimodal_frame_sample": "multimodal_audio_chunk",
    "streaming_trending_topk": "streaming_stateful_counts",
}


# HEADLINE rows that are bench-only parameter variants (exist only as
# raw-override entries, not declared queries)
BENCH_ONLY = {"knn_join_ivf_nprobe2"}


def check_headline_coverage(declared) -> None:
    """Assert every declared query is either timed or matched by
    exactly one named exclusion rule — in BOTH directions: a renamed
    or deleted query must not leave a stale HEADLINE name (which
    `names = [n for n in HEADLINE if n in qs]` would silently stop
    timing) or a stale exclusion entry (which would silently
    'explain' a name that no longer exists)."""
    H = set(HEADLINE)
    excl_sets = (
        EXCLUDE_STREAM_RIG, EXCLUDE_IO_API, EXCLUDE_BUILD_ONCE,
        set(HEADLINE_VARIANT_OF),
    )
    excluded = set().union(*excl_sets)
    # 'exactly one rule' must be literal (ADVICE r10): a name listed in
    # two exclusion sets would pass the union-membership checks below
    # while making the named rules ambiguous
    assert sum(len(s) for s in excl_sets) == len(excluded), (
        "exclusion sets overlap: "
        f"{sorted(n for s in excl_sets for n in s if sum(n in t for t in excl_sets) > 1)}"
    )
    D = set(declared)
    unmatched = sorted(D - H - excluded)
    assert not unmatched, f"declared but neither timed nor excluded: {unmatched}"
    both = sorted(H & excluded)
    assert not both, f"both timed and excluded: {both}"
    bad_reps = sorted(set(HEADLINE_VARIANT_OF.values()) - H)
    assert not bad_reps, f"variant representative not timed: {bad_reps}"
    stale_headline = sorted(H - D - BENCH_ONLY)
    assert not stale_headline, (
        f"HEADLINE names not declared (stale after a rename/delete?): "
        f"{stale_headline}"
    )
    stale_excl = sorted(excluded - D)
    assert not stale_excl, f"exclusion entries not declared: {stale_excl}"
    assert len(HEADLINE) == len(H), "duplicate HEADLINE entries"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pippin_spark import get_spark
    import __spark_entry__ as entry

    spark = get_spark("pippin-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    check_headline_coverage(qs)

    # warm the JVM + parquet footer caches with one cheap pass
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # warm the Python worker pool: without this, the first pandas-UDF
    # query pays the one-time fork + numpy/pandas import of `cpus`
    # worker processes inside its timing (long-running executors on a
    # real cluster keep these warm)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(v: pd.Series) -> pd.Series:
        import numpy  # noqa: F401

        return v

    spark.range(0, cpus * 4, 1, cpus * 4).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    # Per BASELINE.md's measurement protocol: discard the first (cold)
    # execution — it pays Catalyst planning + codegen compile + shuffle
    # file creation — then report the best of three warm runs (the
    # engine's steady-state throughput, what a long-running cluster job
    # sees; min-of-N is the standard noise-robust point estimate).
    # The declared sketch queries are recall summaries (they run the
    # sketch AND its exact ground truth so the driver can hash-check
    # them); the bench must keep timing the raw operator itself —
    # otherwise the headline measures the correctness harness.
    from pyspark.sql import functions as F

    from pippin_spark.operators import dedup as DEDUP
    from pippin_spark.operators import similarity as SIM
    from pippin_spark.pipeline import Pipeline

    def _raw_minhash(spark, sf_dir):
        docs = Pipeline.from_table(spark, sf_dir, "documents").df
        return DEDUP.dedup_minhash_lsh(
            docs, "text", "doc_id", n=3, num_hashes=64, bands=16, threshold=0.5
        )

    def _raw_simhash(spark, sf_dir):
        docs = Pipeline.from_table(spark, sf_dir, "documents").df
        return DEDUP.dedup_simhash(docs, "text", "doc_id", max_hamming=3)

    def _raw_ivf(spark, sf_dir):
        emb = Pipeline.from_table(spark, sf_dir, "embeddings").df
        return SIM.ivf_topk(
            emb, emb.filter(F.col("vec_id") < 5), "embedding", "vec_id",
            k=5, num_cells=16, nprobe=4,
        )

    def _raw_ivf_prebuilt(spark, sf_dir):
        # probe-only latency: the declared query also runs the exact
        # brute-force arm for its recall pin — here we time JUST the
        # prebuilt probe (build-if-missing runs once, outside the reps)
        import os

        from pippin_spark.entry_queries import _ann_index_path

        emb = Pipeline.from_table(spark, sf_dir, "embeddings").df
        path = _ann_index_path(sf_dir)
        if not os.path.exists(f"{path}/assigned"):
            SIM.ann_index_write(
                emb, "embedding", "vec_id", path, num_cells=16, train_iters=3
            )
        return SIM.ivf_topk_prebuilt(
            spark, path, emb.filter(F.col("vec_id") < 5), "embedding",
            "vec_id", k=5, nprobe=4,
        )

    def _raw_hn_prebuilt(spark, sf_dir):
        # corpus-scale hard-negative probe against the persisted
        # labeled index: every corpus vector an anchor, NO Lloyd
        # retrain / reassignment — the delta vs hard_negative_ivf's
        # row is exactly what index persistence buys a training loop
        import os

        from pippin_spark.entry_queries import _hn_index_path

        emb = Pipeline.from_table(spark, sf_dir, "embeddings").df
        path = _hn_index_path(sf_dir)
        if not os.path.exists(f"{path}/assigned"):
            SIM.ann_index_write(
                emb, "embedding", "vec_id", path, num_cells=4, train_iters=2,
                train_mode="sample", extra_cols=("label",),
            )
        return SIM.hard_negative_ivf_prebuilt(
            spark, path, "label", k=3, nprobe=2
        )

    def _raw_lsh(spark, sf_dir):
        emb = Pipeline.from_table(spark, sf_dir, "embeddings").df
        return SIM.lsh_topk(
            emb, emb.filter(F.col("vec_id") < 5), "embedding", "vec_id",
            k=5, num_tables=16, num_planes=4, dim=64,
        )

    def _raw_knn_ivf(spark, sf_dir):
        emb = Pipeline.from_table(spark, sf_dir, "embeddings").df
        return SIM.knn_join_ivf(
            emb, "embedding", "vec_id", k=3, num_cells=4, train_iters=2
        )

    def _raw_knn_ivf2(spark, sf_dir):
        emb = Pipeline.from_table(spark, sf_dir, "embeddings").df
        return SIM.knn_join_ivf(
            emb, "embedding", "vec_id", k=3, num_cells=4, train_iters=2,
            nprobe=2,
        )

    def _raw_pq(spark, sf_dir):
        emb = Pipeline.from_table(spark, sf_dir, "embeddings").df
        return SIM.pq_topk(
            emb, emb.filter(F.col("vec_id") < 5), "embedding", "vec_id",
            k=5, m=8, codebook_k=16, train_iters=2, overfetch=20,
        )

    def _raw_stream_minhash(spark, sf_dir):
        # the stream-side ingest gate alone (signature UDF -> stateless
        # stream-static join -> drain); the declared query additionally
        # recomputes the batch ground truth for its equality oracle
        import tempfile

        from pyspark.sql import functions as F

        docs = Pipeline.from_table(spark, sf_dir, "documents").df
        corpus = docs.filter(F.col("doc_id") % 10 < 8)
        store = DEDUP.text_minhash_signatures(
            corpus, "text", n=3, num_hashes=64, bands=16, include_sig=False
        ).select(
            F.col("doc_id").alias("corpus_id"),
            F.posexplode("bands").alias("b_pos", "b_hash"),
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .filter(F.col("doc_id") % 10 >= 8)
        )
        sbands = DEDUP.text_minhash_signatures(
            stream, "text", n=3, num_hashes=64, bands=16, include_sig=False
        ).select(
            F.col("doc_id").alias("stream_id"),
            F.posexplode("bands").alias("b_pos", "b_hash"),
        )
        matched = sbands.join(F.broadcast(store), ["b_pos", "b_hash"]).select(
            "stream_id", "corpus_id"
        )
        q = (
            matched.writeStream.format("memory")
            .queryName("bench_stream_minhash")
            .outputMode("append")
            .trigger(availableNow=True)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="bench_ckpt_minhash_"),
            )
            .start()
        )
        q.awaitTermination(120)
        return spark.table("bench_stream_minhash").distinct()

    def _raw_maintain(spark, sf_dir):
        # the PRODUCT maintain cycle a training pipeline repeats: base
        # build (layout='cells', full IVF-PQ since r10: codebooks +
        # per-vector codes + qerr ledger) + streamed foreachBatch
        # append (PQ-encodes against the stored codebooks) + hot-cell
        # compaction + BOTH drift gates (centroid + PQ codebook) +
        # probe. The declared query additionally rebuilds a second
        # FULL index (the fresh verification arm) and runs the
        # equality joins + file-snapshot invariants — that's the
        # correctness harness, and timing it would roughly double the
        # row (the sketch-query rule).
        from pyspark.sql import functions as F

        from pippin_spark.entry_queries import (
            _maint_index_path,
            _stream_ckpt,
            _drain,
        )

        emb = Pipeline.from_table(spark, sf_dir, "embeddings").df
        base = emb.filter(F.col("vec_id") % 10 < 8)
        path = _maint_index_path(sf_dir) + "_benchraw"
        SIM.ann_index_write(
            base, "embedding", "vec_id", path, num_cells=16,
            train_iters=3, layout="cells", pq=(8, 16, 2),
        )
        stream = (
            spark.readStream.schema(emb.schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter(F.col("vec_id") % 10 >= 8)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, _e: SIM.ann_index_append(
                    b.sparkSession, path, b, "embedding", "vec_id"
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", _stream_ckpt("bench_ckpt_maint_"))
            .start()
        )
        _drain(q)
        SIM.ann_index_compact(spark, path)
        drift = SIM.ann_index_drift(spark, path)
        pq_drift = SIM.ann_index_pq_drift(spark, path)
        probe = SIM.ivf_topk_prebuilt(
            spark, path, emb.filter(F.col("vec_id") < 5), "embedding",
            "vec_id", k=5, nprobe=4,
        )
        return (
            probe.join(
                F.broadcast(drift.agg(F.max("drift").alias("max_drift")))
            ).join(F.broadcast(pq_drift.select("err_ratio")))
        )

    def _raw_retrain(spark, sf_dir):
        # the PRODUCT retrain cycle (the PQ drift gate's maintenance
        # action): base IVF-PQ build on the clustered rig + shifted
        # flood append + both gates + codebook retrain/re-encode +
        # post-retrain in-distribution append + gate re-read + probe.
        # The declared query additionally rebuilds a fresh
        # verification arm and runs the equality joins — correctness
        # harness, excluded from the timed row (the maintain rule).
        from pyspark.sql import functions as F

        from pippin_spark.entry_queries import (
            _clustered_embeddings,
            _maint_index_path,
            _retrain_shift_flood,
        )

        emb_ids = Pipeline.from_table(spark, sf_dir, "embeddings").df
        base = _clustered_embeddings(emb_ids, salt=1)
        path = _maint_index_path(sf_dir) + "_retrain_benchraw"
        SIM.ann_index_write(
            base, "embedding", "vec_id", path, num_cells=8,
            train_iters=3, layout="cells", pq=(8, 16, 2),
        )
        flood = _retrain_shift_flood(spark, path)
        SIM.ann_index_append(spark, path, flood, "embedding", "vec_id")
        SIM.ann_index_pq_drift(spark, path).collect()
        SIM.ann_index_drift(spark, path).agg(F.max("drift")).collect()
        SIM.ann_index_retrain_codebooks(spark, path, train_iters=2)
        SIM.ann_index_append(
            spark, path,
            _clustered_embeddings(
                emb_ids.filter(F.col("vec_id") % 10 >= 8), salt=3,
                id_offset=20_000_000,
            ),
            "embedding", "vec_id",
        )
        probe = SIM.ivfpq_topk_prebuilt(
            spark, path,
            # 5 query rows: spreading them would make the probe's
            # toLocalIterator submit one job per (mostly empty) partition
            _clustered_embeddings(
                emb_ids.filter(F.col("vec_id") < 5), salt=1, spread=False
            ),
            "embedding", "vec_id", k=5, nprobe=4,
        )
        return probe.join(
            F.broadcast(
                SIM.ann_index_pq_drift(spark, path).select("err_ratio")
            )
        )

    qs = dict(qs)
    qs["ann_index_maintain_e2e"] = _raw_maintain
    qs["ann_index_retrain_e2e"] = _raw_retrain
    qs["dedup_minhash"] = _raw_minhash
    qs["streaming_minhash_dedup"] = _raw_stream_minhash
    qs["dedup_simhash"] = _raw_simhash
    qs["ann_topk_ivf"] = _raw_ivf
    qs["ann_topk_ivf_prebuilt"] = _raw_ivf_prebuilt
    qs["hard_negative_ivf_prebuilt"] = _raw_hn_prebuilt
    qs["ann_topk_lsh"] = _raw_lsh
    qs["knn_join_ivf"] = _raw_knn_ivf
    qs["knn_join_ivf_nprobe2"] = _raw_knn_ivf2
    qs["ann_topk_pq"] = _raw_pq
    # resolve the suite AFTER the raw overrides: bench-only names
    # (e.g. knn_join_ivf_nprobe2) exist only in the override dict
    names = [n for n in HEADLINE if n in qs]

    # Entries whose WORK runs inside the query builder need the builder
    # call inside the timed region — a noop re-write of the returned
    # DataFrame would measure a trivial scan of the finished result:
    # - streaming queries drain the stream (awaitTermination) before
    #   returning the memory sink;
    # - iterative/multi-pass ops run driver-coordinated actions at
    #   construction (BPE merge rounds, label-propagation rounds with
    #   localCheckpoint, k-means codebook/centroid training, the
    #   2-pass histogram median). Round 3 and earlier timed only the
    #   re-write for the batch ones (bpe_train_merges 0.18 s was a
    #   3-row literal-table write, dedup_clusters would be 0.01 s) —
    #   the r4 numbers for this set are the honest end-to-end cost and
    #   are NOT comparable to the r3 rows for the same names.
    BUILD_TIMED = {
        "streaming_tumbling_window",
        "streaming_stateful_counts",
        "streaming_stream_stream_join",
        "bpe_train_merges",
        "bpe_encode_docs",  # merge training (driver argmax rounds) at construction
        "dedup_clusters",
        "exact_median_orders",
        "pagerank_trade_graph",
        "knn_join_ivf",
        "knn_join_ivf_nprobe2",
        "ann_topk_pq",
        "ann_topk_ivfpq",  # Lloyd + codebook training at construction
        # probe-cell selection + chunk staging at construction; index
        # build runs once (build-if-missing) outside the reps
        "ann_topk_ivfpq_prebuilt",
        "ann_topk_ivfpq_residual",  # residual codebook training at construction
        "streaming_minhash_dedup",  # drains the stream in the builder
        "diversity_kcenter",  # greedy selection collects at construction
        "agg_count_min_events",  # sketch built + probed at construction
        "quality_classifier_train",  # 16 GD jobs run at construction
        "quality_classifier_score",  # trains at construction, scores lazily
        "temperature_rebalance_e2e",  # weights collected at construction
        "hard_negative_mining",  # anchors collected at construction
        "contrastive_pairs_e2e",  # both arms collect anchors at construction
        "contrastive_inbatch_export",  # anchor matrix collects at construction
        "classifier_scrub_e2e",  # trains + selects the median threshold
        "dsir_select_docs",  # scores cached + kth threshold at construction
        "streaming_quality_gate",  # trains + drains the stream in the builder
        "hard_negative_ivf",  # Lloyd sample training collects at construction
        "token_budget_waterfill",  # domain aggregation + fold at construction
        "repeat_epochs_plan",  # same waterfill fold at construction
        "streaming_corpus_manifest",  # drains the stream in the builder
        "pack_bins_docs",  # shard count derived via count() at construction
        "pack_bins_report",  # same derived shard count at construction
        # probe-cell selection collects at construction; the index
        # build itself runs once (build-if-missing), so reps time the
        # honest probe-only path: read index -> select cells -> score
        "ann_topk_ivf_prebuilt",
        # centroid table collects at construction (probe-cell setup);
        # index build runs once outside the reps (build-if-missing)
        "hard_negative_ivf_prebuilt",
        "incremental_release_e2e",  # changed-bucket ranges collect at construction
        "streaming_ivf_cell_route",  # drains the stream in the builder
        "training_manifest_e2e",  # waterfill fold + budget collect at construction
        # full maintain cycle (base build + streamed append + compact
        # + fresh-arm rebuild + drift) runs in the builder
        "ann_index_maintain_e2e",
        # full retrain cycle (base build + flood append + both gates +
        # codebook retrain/re-encode + post append) runs in the builder
        "ann_index_retrain_e2e",
        # BPE merge training (one 1-row action per round) + budget
        # collect + waterfill fold all run at construction
        "pack_on_bpe_e2e",
        # seed/cost collects + the EM recount collect run at
        # construction
        "unigram_vocab_segments",
        # BPE merge training (driver argmax rounds) at construction —
        # same reason as bpe_encode_docs, which it composes
        "tokenizer_fertility",
        # WordPiece merge training (driver argmax rounds) at
        # construction
        "wordpiece_train_merges",
        # unigram seed/cost collects + EM recount run at construction
        "unigram_encode_docs",
        # merge-table read (driver-sized collect) at construction;
        # artifact build runs once (build-if-missing) outside the reps
        "bpe_encode_prebuilt",
    }

    timings: dict[str, float] = {}
    for name in names:
        if name in BUILD_TIMED:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
        else:
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "headline-suite wall-clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    full_line = json.dumps(full, separators=(",", ":"))
    spark.stop()
    # The driver records only the LAST ~2000 chars of stdout
    # (BENCH_r04.json: "tail" is exactly 2000 chars and the single
    # JSON line, grown past that, arrived head-cut — "parsed": null).
    # Output discipline so any tail window holds a parseable headline:
    #  1. the complete contract line is printed FIRST (full-log
    #     consumers) and written to BENCH_LOCAL.json (committed, the
    #     per-query record for round-over-round comparison);
    #  2. the LAST line is a compact headline guaranteed to fit the
    #     tail budget: same metric/value/unit/sf, plus as many
    #     per-query rows as fit, most expensive first (regressions
    #     live in the big rows) — "queries_total"/"queries_shown"/
    #     "full_in" flag the truncation explicitly.
    print(full_line, flush=True)
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
            f.write(full_line + "\n")
        # append-only committed history (VERDICT r8 "What's wrong" #2):
        # BENCH_rN.json truncates to its 2000-char stdout-tail budget
        # and BENCH_LOCAL.json is overwritten per run — the history
        # file keeps every full per-query map immutable in-repo, so
        # cross-round comparisons never depend on a mutable file. Each
        # line self-describes via host/cpus (box-drift normalization
        # picks controls per line).
        import platform

        hist = dict(full)
        hist["cpus"] = cpus
        hist["host"] = platform.node()
        with open(os.path.join(here, "BENCH_HISTORY.jsonl"), "a") as f:
            f.write(json.dumps(hist, separators=(",", ":")) + "\n")
    except OSError:
        pass  # read-only checkout: the printed full line still has it
    budget = 1800
    compact = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "queries_total": len(timings),
        "queries_shown": 0,
        "full_in": "BENCH_LOCAL.json",
        "queries": {},
    }
    for name, t in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        compact["queries"][name] = t
        compact["queries_shown"] = len(compact["queries"])
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][name]
            compact["queries_shown"] = len(compact["queries"])
            break
    print(json.dumps(compact, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    sys.exit(main())
