"""Aggregates every module's SPARK_QUERIES / ORACLES into the single
dictionaries the driver contract (__spark_entry__.py) exposes.

Ordering matters: the driver's correctness run walks ``queries()`` in
registration order under a 50-entry budget, so ``_PRIORITY`` is a
rotation schedule: each round front-loads (a) everything no driver
round has ever witnessed, (b) everything modified since the last driver
run, (c) the block longest unwitnessed. Round-16 window (50), executing
the round-15 verdict's task #3: the first 11 are the r15-restructured
queries the r15 window rotation left unwitnessed (sim16, q4-q6, st3,
dd2, dd14, snk1/2/4/5 — their post-optimization code has only builder
gates so far); then the 13 never-witnessed build-round additions (pt9,
sim27, dd29, st22/23, tx35/36, w11-w13, ts4, ev32/33 — q6 is in the
lead group); then the 8 paths this optimization round touched
(a9/j2 unpivoted child resolution, dd8 shared-pair edges, q1/q3 narrow
parse frame, dd17/dd21/dd13 shared-frame readers); the remaining 18
slots are ``tools/window_coverage.py``'s oldest-witness-first ranking
(the r10 block sim7 + tx8-tx12 the r15 docstring promised, then the
r11 block through set2_party_nation_overlap).
m2b_kmeans_elbow_curve and m3_kmeans_clusters stay PAST-window forever
at #51/#52, directly behind the window: they are rows-only by design
(fit-dependent KMeans outputs; pytest-pinned goldens + hash-matched
certificate twins m2/m3b carry their correctness), so a fresh driver
row would still read ``err: no_oracle`` — their expected terminal state
is documented in tools/check.py and the README (round-12 verdict task
#2). After #52 the remainder keeps the prior rotation's order (itself
oldest-witness-first with ties in prior relative order), so future
rotations fall out of the same sort. Unlisted names keep module order
after the prioritized block, so a new query is never silently dropped;
any query added this round joins past-window, is exact-bit gated
locally at all three scales instead, and leads the next window as
rotation category (a) — the dd27/ts2 convention.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_PRIORITY = (
    "sim16_ann_comparison", "q5_sql_antipatterns", "q4_template_runtime",
    "q6_template_novelty", "st3_stateful_user_stats", "dd2_ngram_jaccard_pairs",
    "dd14_containment_pairs", "snk1_curated_export", "snk2_incremental_export",
    "snk4_shard_export", "snk5_jsonl_export", "pt9_depth_time_profile",
    "sim27_margin_recall_profile", "dd29_component_length_spread", "st22_streaming_trigram_motifs",
    "st23_streaming_depth_survival", "tx35_langid_confusion", "tx36_packing_frontier",
    "w12_arrival_burstiness", "w13_start_level_runtime", "ts4_footprint_runtime_corr",
    "ev32_trigram_motifs", "ev33_session_depth_survival", "w11_overcap_residency",
    "a9_join_audit_rollup", "j2_join_children", "dd8_neardup_components",
    "q3_features_rollup", "q1_sql_features", "dd17_dedup_comparison",
    "dd21_lsh_band_sensitivity", "dd13_component_keep_best", "sim7_embedding_quantize",
    "tx8_benchmark_contamination", "tx9_sequence_packing", "tx10_blocklist_policy",
    "tx11_repetition_stats", "tx12_mixture_sample", "dd26_repeated_substrings",
    "ev30_session_type_affinity", "st19_streaming_type_affinity", "sim26_metric_choice_audit",
    "tx13_boilerplate_stats", "tx14_vocab_coverage", "tx15_pipeline_funnel",
    "tx16_bigram_logprob", "a20_workload_cube", "a21_runtime_deciles",
    "a22_operator_cooccurrence", "set2_party_nation_overlap", "m2b_kmeans_elbow_curve",
    "m3_kmeans_clusters", "w1_concurrency_sweep", "ts3_query_memory_footprint",
    "st21_streaming_memory_skew", "tx34_split_packing_leakage", "ev31_hll_distinct_certificate",
    "w10_memory_demand_sweep", "dd24_cross_source_dup_matrix", "sim24_label_confusion",
    "ev27_session_survival", "st16_streaming_session_survival", "tx31_split_leakage_audit",
    "ev28_return_gaps", "sim25_centroid_margin", "a34_operator_lift",
    "st17_streaming_return_gaps", "snk6_compaction_export", "pt8_plan_shape_profile",
    "ev29_weekly_value_drift", "st18_streaming_value_drift", "mm7_frame_budget",
    "a35_scan_selectivity", "snk7_streaming_exactly_once", "m3b_kmeans_certificate",
    "dd18_effective_dataset", "dd19_soft_dedup_weights", "dd20_component_size_spectrum",
    "dd22_dup_quality_profile", "tx23_training_manifest", "dd3_minhash_lsh_pairs",
    "dd25_text_embedding_agreement", "tx32_decontamination_impact", "a36_straggler_census",
    "ev3_sessionize", "m0_cluster_features", "w4_cluster_utilization",
    "dd9_semantic_components", "dd10_incremental_dedup", "ev9_retention_cohorts",
    "ev10_funnel_conversion", "ev11_sessionize_salted", "ev12_anomaly_zscore",
    "ev13_rate_alerts", "ev14_kmv_distinct", "ev15_disorder_profile",
    "ev16_seasonality_heatmap", "tpch_q14", "sim1_brute_force_topk",
    "sim2_lsh_topk", "sim4_ivf_topk", "sim6_range_search",
    "sim8_knn_label_assign", "sim9_lsh_recall", "sim10_ivf_recall",
    "sim12_quantize_recall", "ev18_funnel_latency", "dd11_bloom_prefilter",
    "sim11_pq_assign", "mm4_multimodal_packing", "ev17_cms_heavy_hitters",
    "pt4_plan_fingerprints", "st8_streaming_cms", "dd12_winnow_neardup",
    "tx17_zipf_spectrum", "sim13_ivfpq_topk", "st9_streaming_kmv",
    "ev19_event_transitions", "tx18_token_entropy", "a23_runtime_drift",
    "ev20_cadence_profile", "tx19_dsir_importance", "st10_streaming_transitions",
    "tx20_ngram_novelty", "a24_cost_model_fit", "mm5_modality_mixture",
    "sim14_cell_balanced_sample", "ev21_user_concentration", "st11_streaming_bloom",
    "dd15_dup_span_coverage", "dd16_minhash_calibration", "o4_topn_orders",
    "set1_union_party_nations", "dd27_lsh_curve_advisor", "tx33_curation_funnel",
    "w2b_nation_revenue_share", "w3_top_customers_per_nation", "x1_region_nation_grid",
    "a1_op_time_by_name", "a2_codegen_sink_totals", "a3_join_counts",
    "a4_distinct_scan_tables", "sim15_ivfpq_rerank", "tx21_quality_sweep",
    "st12_streaming_rate_alerts", "ev22_funnel_window_sweep", "w5_concurrency_percentiles",
    "a19_operator_time_quantiles_sketch", "sim5_vectorized_topk", "pt2_plan_paths",
    "pt3_critical_path", "pt5_critical_hotspots", "a5_scan_size_per_query",
    "a6_workload_distributions", "a10_preagg_reduction", "a11_preagg_reduction_hist",
    "a13_avg_time_pct_per_operator", "a14_abs_time_pct_per_operator", "a15_rollup_by_sql_type",
    "a16_counter_consistency", "a17_query_num_hosts", "dd1_exact_dedup",
    "dd4_simhash_signatures", "dd6_simhash_neardup", "f1_pp_size_roundtrip",
    "f2_pp_number_roundtrip", "f3_pp_time_roundtrip", "f4_bit_reinterpret",
    "p5_operator_skew", "pt1_plan_edges", "sim3_label_centroids",
    "tx1_token_stats", "sim17_filtered_topk", "tx22_perplexity_buckets",
    "ev23_rate_cusum", "mm6_frame_fp_neardup", "w6_tail_latency_attribution",
    "ts1_memory_ramp", "dd28_advisor_calibration", "pt6_shape_runtime_drift",
    "ev24_periodicity_acf", "sim18_diverse_topk", "a26_cardinality_qerror",
    "st13_streaming_cusum", "w7_plan_overhead_quantiles", "a27_host_load_balance",
    "plt1_metric_histograms", "plt2_metric_bars", "sim19_hard_negatives",
    "snk3_ann_index_export", "a28_memory_reservation", "tx24_vocab_growth",
    "tx25_shard_manifest", "sim20_nprobe_sweep", "ev25_gap_fill_audit",
    "tx26_source_overlap", "st14_streaming_gap_detect", "a29_shuffle_amplification",
    "tx27_source_divergence", "a30_capacity_trend", "st15_streaming_shard_manifest",
    "sim21_recall_at_k_curve", "tx28_bpe_merge_candidates", "a25_cost_model_outliers",
    "m2_kmeans_elbow", "w8_concurrency_mass", "pt7_plan_motifs",
    "a31_table_affinity", "dd23_shingle_hotspot_audit", "sim22_ivf_upsert_audit",
    "a32_version_regression", "sim23_pq_cell_distortion", "a33_join_strategy_advice",
    "ev26_watermark_whatif", "tpch_q1", "tx2_quality_score",
    "tx3_language_id", "tx4_winnow_fingerprints", "w2_time_share_per_query",
    "a18_operator_time_quantiles", "dd5_embedding_neardup", "dd7_norm_dedup_keep_best",
    "ev1_tumbling_hourly", "ing6_time_series", "ts2_memory_skew",
    "st20_streaming_time_series", "tx30_mixture_temperature_recipe", "tpch_q2",
    "tpch_q3", "tpch_q4", "tpch_q5",
    "tpch_q6", "tpch_q7", "tpch_q8",
    "tpch_q9", "tpch_q10", "tpch_q11",
    "tpch_q12", "tpch_q13", "tpch_q15",
    "tpch_q16", "tpch_q17", "tpch_q18",
    "tpch_q19", "tpch_q20", "tpch_q21",
    "tpch_q22", "w9_serial_replay_whatif", "ev2_sliding_hourly",
    "ev4_json_props_stats", "ev5_asof_join", "ev6_range_join",
    "ev7_hypertable_rollup", "ev8_windowed_topk", "mm1_image_features",
    "mm2_frame_samples", "mm3_audio_stats", "tx5_stratified_split",
    "tx6_unigram_logprob", "tx7_tfidf_top_terms", "ing1_parsed_operators",
    "ing2_parsed_fragments", "ing3_parsed_queries", "ing4_delete_by_tag",
    "ing5_ingest_health", "st1_streaming_tumbling", "st2_streaming_sessions",
    "st4_streaming_dedup", "st5_streaming_anomaly", "st6_streaming_ingest",
    "st7_streaming_interval_join",
)


# Every module that defines SPARK_QUERIES / ORACLES, in registration
# order. Imported unconditionally: a module that fails to import fails
# the registry loudly instead of dropping its query family
# (tests/test_registry.py checks this tuple against the package).
_MODULES = (
    "impala_workload_analyzer_spark.operators.workload_stats",
    "impala_workload_analyzer_spark.operators.join_audit",
    "impala_workload_analyzer_spark.operators.preagg",
    "impala_workload_analyzer_spark.operators.concurrency",
    "impala_workload_analyzer_spark.operators.consistency",
    "impala_workload_analyzer_spark.operators.time_share",
    "impala_workload_analyzer_spark.tpch",
    "impala_workload_analyzer_spark.tpch_full",
    "impala_workload_analyzer_spark.functions.unit_queries",
    "impala_workload_analyzer_spark.functions.bitcast",
    "impala_workload_analyzer_spark.pipeline.dedup",
    "impala_workload_analyzer_spark.pipeline.text",
    "impala_workload_analyzer_spark.pipeline.similarity",
    "impala_workload_analyzer_spark.pipeline.events_analytics",
    "impala_workload_analyzer_spark.pipeline.multimodal",
    "impala_workload_analyzer_spark.streaming.stream_queries",
    "impala_workload_analyzer_spark.ml.clustering",
    "impala_workload_analyzer_spark.sources.profiles",
    "impala_workload_analyzer_spark.sources.time_series_queries",
    "impala_workload_analyzer_spark.sql_introspect.queries",
    "impala_workload_analyzer_spark.plans.draw_plan",
)


def _collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for dotted in _MODULES:
        mod = importlib.import_module(dotted)
        for name, fn in getattr(mod, "SPARK_QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name: {name}")
            queries[name] = fn
        oracles.update(getattr(mod, "ORACLES", {}))
    ordered: dict[str, QueryFn] = {}
    for name in _PRIORITY:
        if name in queries:
            ordered[name] = queries[name]
    for name, fn in queries.items():  # anything unlisted keeps module order
        if name not in ordered:
            ordered[name] = fn
    return ordered, oracles


def all_queries() -> dict[str, QueryFn]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]
