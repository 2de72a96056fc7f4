"""Physical-plan contracts: the optimizations we rely on at scale must
actually appear in the plans (broadcast joins, pushed filters, pruned
schemas). Guards against regressions that stay correct but stop scaling."""

from __future__ import annotations

import __spark_entry__ as entrymod


def _plan(spark, sf_dir, name: str) -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_q6_filters_reach_the_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q6")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: the 16-column lineitem scan must read only what Q6 needs
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_q1_is_whole_stage_codegen(spark, sf_dir):
    # under AQE the codegen stages exist only in the EXECUTED plan
    df = entrymod.queries()["tpch_q1"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "*(" in executed  # '*(n)' marks WholeStageCodegen stages


def test_q4_uses_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q4")
    assert "LeftSemi" in plan


def test_q22_uses_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q22")
    assert "LeftAnti" in plan


def test_pt2_conserves_every_operator(spark, sf_dir):
    # the partition-local tree walk must emit each operator exactly once;
    # a co-location break (query spanning partitions) silently drops rows
    from impala_workload_analyzer_spark.corpus import corpus_operators

    pt2 = entrymod.queries()["pt2_plan_paths"](spark, sf_dir)
    assert pt2.count() == corpus_operators(spark, sf_dir).count()


def test_plan_walks_follow_pt1_edges(spark):
    # an operator whose parent_id names an operator in ANOTHER fragment is
    # no pt1 edge (and no root), so neither pt2 nor pt8 may reach it
    from impala_workload_analyzer_spark.plans.draw_plan import _paths_over, _shapes_over

    # (id, fragment_id, parent_id, exchange_id of its fragment, name)
    ops = [(0, 0, None, None, "AGGREGATE"), (1, 0, 0, None, "HASH JOIN"),
           (2, 0, 1, None, "EXCHANGE"), (3, 1, None, 2, "SCAN HDFS"),
           (4, 1, 3, 2, "SCAN HDFS"), (5, 1, 1, 2, "SCAN HDFS"),
           (6, 1, 99, 2, "SCAN HDFS")]
    nodes = spark.createDataFrame(
        [("q", *op) for op in ops],
        "query_id string, id bigint, fragment_id bigint, parent_id bigint, "
        "exchange_id bigint, name string",
    ).coalesce(1)
    # pt1's edges: 0>1, 1>2 (same fragment), 2>3 (EXCHANGE), 3>4; op 5's
    # parent is in fragment 0 and op 6's parent does not exist
    reach = {0, 1, 2, 3, 4}

    assert {r["id"] for r in _paths_over(nodes).collect()} == reach
    (shape,) = _shapes_over(nodes).collect()
    assert (shape["n_nodes"], shape["n_edges"]) == (len(reach), 4)


def test_plan_node_frame_is_evicted_with_the_session_frames(spark, sf_dir):
    # the shared pt2/pt3/pt5 node frame is session state like every other
    # persisted intermediate: evicting the session frames must unpersist it
    from impala_workload_analyzer_spark.cache_util import evict_session_frames
    from impala_workload_analyzer_spark.plans.draw_plan import _colocated_nodes

    def cached(df) -> bool:  # a fresh Dataset re-resolves the cache lookup
        plan = df.select("*")._jdf.queryExecution().withCachedData()  # noqa: SLF001
        return "InMemoryRelation" in plan.toString()

    nodes = _colocated_nodes(spark, sf_dir, "name")
    assert cached(nodes)
    evict_session_frames()
    assert not cached(nodes)


def test_q2_correlated_min_is_all_broadcast(spark, sf_dir):
    # every dim (part slice, EU suppliers, per-part min) is broadcast;
    # the only non-broadcast work is the partsupp distinct
    plan = _plan(spark, sf_dir, "tpch_q2")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_q19_disjunction_reaches_both_scans(spark, sf_dir):
    # Catalyst must extract per-side residuals of the OR-of-ANDs and push
    # them into the parquet readers — the point of the q19 shape
    plan = _plan(spark, sf_dir, "tpch_q19")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in ln and "Or(" in ln for ln in pushed), pushed
    assert any("p_brand" in ln and "Or(" in ln for ln in pushed), pushed


def test_q21_semi_anti_self_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q21")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    # the two lineitem self-probes are the only sort-merge joins
    assert plan.count("SortMergeJoin") <= 2, plan


def test_sim7_is_zero_shuffle_single_scan(spark, sf_dir):
    """int8 quantization must stay a pure projection: no exchange at all,
    one parquet scan (higher-order-function lambdas evaluate outside
    whole-stage codegen in Spark, so no codegen claim here)."""
    plan = _plan(spark, sf_dir, "sim7_embedding_quantize")
    assert "Exchange" not in plan, plan
    assert "Output [2]: [vec_id" in plan, plan  # scan pruned to 2 columns


def test_ev11_shuffle_budget(spark, sf_dir):
    """Salted sessionization pays exactly its documented price: the
    (user, day) event shuffle plus the summary-sized merge shuffle —
    never a third full-data exchange."""
    plan = _plan(spark, sf_dir, "ev11_sessionize_salted")
    shuffles = [ln for ln in plan.splitlines()
                if ln.strip().startswith("(") and "Exchange" in ln
                and "Reused" not in ln]
    assert len(shuffles) <= 2, plan


def test_ev9_single_full_data_shuffle(spark, sf_dir):
    """Retention cohorts: the user-keyed agg is the only full-data
    shuffle; everything after operates on per-user/per-cohort volumes
    and the sizes side joins via broadcast."""
    plan = _plan(spark, sf_dir, "ev9_retention_cohorts")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ev10_funnel_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ev10_funnel_conversion")
    assert "CartesianProduct" not in plan, plan


def test_tx10_single_shuffle_pruned_scan(spark, sf_dir):
    """Blocklist policy: the banned-term membership tests fold into the
    projection, so the only exchange is the source rollup; the scan reads
    just (text, source)."""
    plan = _plan(spark, sf_dir, "tx10_blocklist_policy")
    shuffles = [ln for ln in plan.splitlines()
                if ln.strip().startswith("(") and "Exchange" in ln
                and "Reused" not in ln]
    assert len(shuffles) <= 1, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read_schema and "doc_id" not in read_schema, read_schema


def test_tx12_single_shuffle(spark, sf_dir):
    """Mixture sampling is projection + one grouped agg: the rate CASE and
    hash bucket must not introduce extra exchanges."""
    plan = _plan(spark, sf_dir, "tx12_mixture_sample")
    shuffles = [ln for ln in plan.splitlines()
                if ln.strip().startswith("(") and "Exchange" in ln
                and "Reused" not in ln]
    assert len(shuffles) <= 1, plan


def test_ev12_broadcasts_stats_no_event_shuffle(spark, sf_dir):
    """Anomaly scan: the 5-row per-type stats join back by broadcast; the
    event stream itself is never exchanged (the only shuffle is the tiny
    stats agg)."""
    plan = _plan(spark, sf_dir, "ev12_anomaly_zscore")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sim11_codebook_broadcast_vecid_shuffles_only(spark, sf_dir):
    """PQ assignment: the codebook side must broadcast (it is _PQ_SUBS x
    _PQ_CODES rows at any corpus size); the only exchanges are the two
    vec_id-keyed aggs — a full-corpus SortMergeJoin here would mean the
    codebook stopped broadcasting."""
    plan = _plan(spark, sf_dir, "sim11_pq_assign")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    shuffles = [ln for ln in plan.splitlines()
                if ln.strip().startswith("(") and "Exchange" in ln
                and "Reused" not in ln and "broadcast" not in ln.lower()]
    assert len(shuffles) <= 2, plan


def test_tx16_model_dims_broadcast(spark, sf_dir):
    """Bigram LM scoring: the c2/c1/V model tables join back to the
    bigram stream via broadcast — the stream itself shuffles only for
    the model-building aggs and the final per-doc agg."""
    plan = _plan(spark, sf_dir, "tx16_bigram_logprob")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_ev17_sketch_broadcasts_to_probe(spark, sf_dir):
    """CMS: the finished sketch (D x W cells, constant size) must join
    the probe side via broadcast — a sort-merge join here would mean the
    sketch is being treated as data-sized."""
    plan = _plan(spark, sf_dir, "ev17_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dd11_positives_only_shuffle_join(spark, sf_dir):
    """Bloom pre-screen scale contract: the m-bit filter side broadcasts,
    but the digest-keyed join against the seen index must be a SHUFFLE
    join (the index is data-sized at 100 TB — a broadcast there is the
    OOM the pre-screen exists to avoid), and only the bloom-positive
    branch reaches it (the negative branch carries a literal null
    is_dup, no join)."""
    plan = _plan(spark, sf_dir, "dd11_bloom_prefilter")
    assert "ShuffledHashJoin" in plan, plan
    # no BroadcastHashJoin node may key on the digest column
    for block in plan.split("\n\n"):
        if "BroadcastHashJoin" in block and "keys" in block:
            assert "digest" not in block, block


def test_mm4_takes_shard_local_plan(spark, sf_dir):
    """Multimodal packing: the doc-media join broadcasts at fixture
    scale and packing stays shard-local — no global sort over samples
    (the only Sort allowed is inside the shard-partitioned window)."""
    plan = _plan(spark, sf_dir, "mm4_multimodal_packing")
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    shuffles = [ln for ln in plan.splitlines()
                if ln.strip().startswith("(") and "Exchange" in ln
                and "Reused" not in ln and "broadcast" not in ln.lower()]
    assert len(shuffles) <= 2, plan


def test_ev19_shuffle_budget(spark, sf_dir):
    """Transition matrix: the user-keyed lead() window is the only
    full-data exchange; the count agg and normalizing window operate on
    type-cardinality² rows. No join in the plan at all."""
    plan = _plan(spark, sf_dir, "ev19_event_transitions")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    shuffles = [ln for ln in plan.splitlines()
                if ln.strip().startswith("(") and "Exchange" in ln
                and "Reused" not in ln]
    assert len(shuffles) <= 3, plan


def test_ev20_reuses_user_partitioning(spark, sf_dir):
    """Cadence profile: the per-user agg must reuse the lead() window's
    user_id partitioning — one full-data exchange total (plus at most
    one tiny post-agg exchange)."""
    plan = _plan(spark, sf_dir, "ev20_cadence_profile")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    shuffles = [ln for ln in plan.splitlines()
                if ln.strip().startswith("(") and "Exchange" in ln
                and "Reused" not in ln]
    assert len(shuffles) <= 2, plan


def test_sim13_broadcasts_index_sides(spark, sf_dir):
    """IVF-PQ search: centroids, codebook, probes, and the ADC lookup
    tables are all constant-size and must broadcast; the only allowed
    sort-merge joins are the corpus-sized code joins keyed by vec_id
    (which CANNOT broadcast at scale)."""
    plan = _plan(spark, sf_dir, "sim13_ivfpq_topk")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("SortMergeJoin") <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_tx18_two_doc_keyed_shuffles(spark, sf_dir):
    """Token entropy: explode -> (doc, word) count -> per-doc agg is at
    most two exchanges; no join anywhere."""
    plan = _plan(spark, sf_dir, "tx18_token_entropy")
    assert "Join" not in plan, plan
    shuffles = [ln for ln in plan.splitlines()
                if ln.strip().startswith("(") and "Exchange" in ln
                and "Reused" not in ln]
    assert len(shuffles) <= 2, plan


def test_a23_broadcasts_bounds(spark, sf_dir):
    """Runtime drift: the 2-value bounds row joins back via broadcast;
    the only real shuffle is the (cluster, sql_type) agg."""
    plan = _plan(spark, sf_dir, "a23_runtime_drift")
    assert "SortMergeJoin" not in plan, plan
    assert "Broadcast" in plan, plan


def test_sim14_two_phase_windows(spark, sf_dir):
    """sim14's per-cell top-K must run as the salted two-phase cut: a
    window partitioned by (cell, salt) feeding one partitioned by cell —
    never a single global-cell sort of the whole corpus — with the
    centroid side broadcast into the assignment."""
    plan = _plan(spark, sf_dir, "sim14_cell_balanced_sample")
    assert plan.count("Window") >= 2, plan
    assert "salt" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ev21_no_global_user_sort(spark, sf_dir):
    """ev21 derives NTILE deciles from the count histogram: the only
    single-partition window runs over DISTINCT COUNT VALUES (tiny), and
    the per-user rows are never globally sorted — no Window node may
    consume the full per-user output, and the decile grid must arrive
    broadcast."""
    import re

    plan = _plan(spark, sf_dir, "ev21_user_concentration")
    # exactly two Window NODES: the histogram prefix-sum and the 10-row
    # cum-share — and neither may be an NTILE over per-user rows
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
    assert "ntile" not in plan.lower(), plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_st11_bounded_groupby_state(spark, sf_dir):
    """st11's streaming aggregation keys on the filter bit — the plan's
    stateful aggregate must group by 'bit' only (state bounded at m
    rows), with no digest-keyed dedup state anywhere."""
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        _stream_docs,
    )
    from impala_workload_analyzer_spark.pipeline.dedup import (
        _BLOOM_K,
        _BLOOM_M,
        _INCR_SPLIT,
        _SPARK_H,
    )
    from pyspark.sql import functions as F

    docs = _stream_docs(spark, sf_dir)
    bucket = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    seen = docs.filter(bucket < _INCR_SPLIT).withColumn("digest", F.md5("text"))

    def bits(i):
        seeded = "CONCAT('%d:', digest)" % i
        return F.expr(f"CAST({_SPARK_H.format(x=seeded)} % {_BLOOM_M} AS INT)")

    agg = (
        seen.select(
            F.explode(F.array(*[bits(i) for i in range(_BLOOM_K)])).alias("bit")
        )
        .groupBy("bit")
        .agg(F.count("*").alias("n_hashes"))
    )
    assert agg.isStreaming
    txt = agg._jdf.queryExecution().logical().toString()  # noqa: SLF001
    assert "Deduplicate" not in txt, txt
    agg_lines = [ln for ln in txt.splitlines() if "Aggregate" in ln]
    assert agg_lines and all("digest" not in ln for ln in agg_lines), txt


def test_sim17_prefilters_and_broadcasts_the_query_batch(spark, sf_dir):
    # the label predicate must be an equi-join key with the fixed query
    # batch broadcast — pre-filtered ANN, no cartesian scoring
    plan = _plan(spark, sf_dir, "sim17_filtered_topk")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mm6_joins_on_chunk_fingerprints_only(spark, sf_dir):
    # the candidate join must be the fp-keyed equi-join (shuffle or
    # broadcast hash), never a cartesian all-pairs comparison
    plan = _plan(spark, sf_dir, "mm6_frame_fp_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan


def test_w6_broadcasts_the_cluster_cutoffs(spark, sf_dir):
    # the cluster-cardinality threshold table joins back by broadcast;
    # the operator stream must not sort-merge against it
    plan = _plan(spark, sf_dir, "w6_tail_latency_attribution")
    assert "BroadcastHashJoin" in plan, plan


def test_ev23_is_two_windows_no_join(spark, sf_dir):
    # the CUSUM prefix form is windows over pre-aggregated hourly rows:
    # no join anywhere in the plan
    plan = _plan(spark, sf_dir, "ev23_rate_cusum")
    assert "Join" not in plan, plan


def test_a28_runs_exchange_free_on_bucketed_scans(spark, sf_dir):
    # the memory report's groupBy, window rank, and queries join are all
    # keyed by query_id — the bucketed corpus layout must satisfy every
    # one without a shuffle exchange
    plan = _plan(spark, sf_dir, "a28_memory_reservation")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SelectedBucketsCount" in plan


def test_a29_is_one_grouped_pass(spark, sf_dir):
    # shuffle-amplification is a single conditional aggregation over the
    # bucketed operator scan — no join, at most the bucketed-scan reuse
    plan = _plan(spark, sf_dir, "a29_shuffle_amplification")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_tx25_is_one_shuffle_no_join(spark, sf_dir):
    # the shard manifest must stay a single hash-keyed aggregation:
    # one exchange (the shard groupBy; distinct-count partials may split
    # it into two stages of the SAME key), zero joins
    plan = _plan(spark, sf_dir, "tx25_shard_manifest")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_sim20_broadcasts_the_sweep_frames(spark, sf_dir):
    # the nprobe sweep's size/grid/total frames are batch-sized and must
    # broadcast; the only sort-merge joins allowed are the ones the
    # brute-force truth ranking already owns
    plan = _plan(spark, sf_dir, "sim20_nprobe_sweep")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_ev25_collapses_events_before_the_grid(spark, sf_dir):
    # the gap audit's only events-sized op is the distinct (type, hour)
    # projection; everything downstream (grid, anti-join, islands) runs
    # on collapsed rows — the events scan must read only the two columns
    plan = _plan(spark, sf_dir, "ev25_gap_fill_audit")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "ts" in read_schema and "event_type" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_tx26_overlap_joins_on_the_token_key(spark, sf_dir):
    # the intersection self-join must be a token-keyed equi-join (output
    # bounded by vocab x sources^2), never a cartesian product
    plan = _plan(spark, sf_dir, "tx26_source_overlap")
    assert "CartesianProduct" not in plan, plan


def test_a30_prunes_the_queries_projection(spark, sf_dir):
    # the trend fit touches only (cluster, start_time); the corpus scan
    # must not drag the full 20+-column queries row through the shuffle
    plan = _plan(spark, sf_dir, "a30_capacity_trend")
    assert "CartesianProduct" not in plan
    assert "impala_version" not in plan


def test_q5_reuses_q4_template_shuffle_shape(spark, sf_dir):
    # the lint report adds exactly one template-keyed aggregation after
    # the query_id join — same contract as q4
    plan = _plan(spark, sf_dir, "q5_sql_antipatterns")
    assert plan.count("Exchange hashpartitioning(parameterized_stmt") <= 1, plan


def _executed_plan(spark, sf_dir, name: str) -> str:
    """The AQE-finalized physical plan: PLANS.md's codegen column reads
    'n' for explain-time plans because '*(n)' stage markers exist only
    after execution, so the codegen contract must run the query."""
    df = entrymod.queries()[name](spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def test_bench_heavy_hitters_run_whole_stage_codegen(spark, sf_dir):
    """The five most expensive DataFrame bench queries must keep their
    hot expressions inside WholeStageCodegen stages in the EXECUTED
    plan — an accidental codegen-breaking expression (python UDF, an
    unsupported type) would stay correct but fall back to interpreted
    row-at-a-time evaluation and never survive 100 TB. (ing1 and st3,
    the other bench heavyweights, are Arrow-batched mapInPandas /
    applyInPandasWithState by design — no codegen claim for them.)"""
    for name in (
        "a9_join_audit_rollup",
        "a13_avg_time_pct_per_operator",
        "dd3_minhash_lsh_pairs",
        "tpch_q9",
        "pt2_plan_paths",
    ):
        executed = _executed_plan(spark, sf_dir, name)
        assert "*(" in executed, f"{name} lost WholeStageCodegen:\n{executed[:2000]}"


def test_dd21_bands_are_equi_joins_single_signature(spark, sf_dir):
    # the three band configs must share ONE signature aggregation and
    # join only on (config, band_idx, band_key) — banded candidates,
    # never an all-pairs product; the verify stage joins on doc pairs
    plan = _plan(spark, sf_dir, "dd21_lsh_band_sensitivity")
    assert "CartesianProduct" not in plan
    # the only nested-loop join is the broadcast of the 1-row n_true
    # frame (formatted explain names each node twice: tree + detail)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_pt7_chains_join_on_plan_local_keys(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pt7_plan_motifs")
    assert "CartesianProduct" not in plan


def test_w8_runtime_side_is_one_grouped_pass(spark, sf_dir):
    # the duration sum must come straight off the corpus scan — no join
    # back into the event stream before the cluster-keyed aggregation
    plan = _plan(spark, sf_dir, "w8_concurrency_mass")
    assert "CartesianProduct" not in plan


def test_a31_a33_affinity_pair_join_is_bounded(spark, sf_dir):
    # the pair self-join must be query-keyed (bounded by tables-per-query
    # squared), never a cartesian across the scan table
    for name in ("a31_table_affinity", "a33_join_strategy_advice"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_sim22_sim23_centroids_and_codebooks_broadcast(spark, sf_dir):
    # index maintenance must keep the quantizer tables broadcast-sized:
    # the only full-corpus operations are vec_id-keyed aggregations
    for name in ("sim22_ivf_upsert_audit", "sim23_pq_cell_distortion"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastExchange") >= 1, name


def test_a32_w9_are_window_plus_rollup_no_join_explosion(spark, sf_dir):
    for name in ("a32_version_regression", "w9_serial_replay_whatif"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_ev26_sweep_reuses_one_prefix_max_window(spark, sf_dir):
    # all three candidate delays must ride ONE event_type-keyed window —
    # a per-delay recomputation would scan the stream three times
    plan = _plan(spark, sf_dir, "ev26_watermark_whatif")
    assert plan.count("Exchange hashpartitioning(event_type") <= 2, plan


def test_dd24_rides_banded_lsh_no_cartesian(spark, sf_dir):
    # the source matrix must inherit dd3's banded candidate generation;
    # attaching sources is doc_id-keyed, never a pair explosion
    plan = _plan(spark, sf_dir, "dd24_cross_source_dup_matrix")
    assert "CartesianProduct" not in plan


def test_sim24_broadcasts_the_query_batch(spark, sf_dir):
    # sim1's contract carries over: the fixed query batch is the
    # broadcast side; the corpus never shuffles for scoring
    plan = _plan(spark, sf_dir, "sim24_label_confusion")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_ev27_survival_is_one_pass_over_sessions(spark, sf_dir):
    # the threshold ladder must be conditional aggregates in ev3's
    # existing user-keyed pass — never a per-threshold rescan/join
    plan = _plan(spark, sf_dir, "ev27_session_survival")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 1, plan


def test_tx31_exact_tier_never_materializes_pairs(spark, sf_dir):
    # the exact tier is one digest-keyed aggregation; pair counts are
    # arithmetic over per-digest split counts, so no self-join on digest
    plan = _plan(spark, sf_dir, "tx31_split_leakage_audit")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(digest") <= 1, plan


def test_ev28_rides_ev3s_user_partitioning(spark, sf_dir):
    # the LEAD window and the threshold ladder must reuse ev3's single
    # user_id shuffle — never a second exchange or per-threshold rescan
    plan = _plan(spark, sf_dir, "ev28_return_gaps")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(user_id") <= 1, plan


def test_sim25_is_one_pass_over_the_scored_pivot(spark, sf_dir):
    # centroids broadcast (never a corpus x corpus product), and the
    # modal-runner mode must fold into the cell rollup: exactly one
    # vec_id shuffle — a separate mode branch recomputes the corpus scan
    plan = _plan(spark, sf_dir, "sim25_centroid_margin")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(vec_id") <= 1, plan


def test_a34_broadcasts_marginals_and_total(spark, sf_dir):
    # the vocabulary-sized marginal/total frames join broadcast-side;
    # the only data-sized work is a22's distinct + self-join shape
    plan = _plan(spark, sf_dir, "a34_operator_lift")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_snk6_broadcasts_the_chunk_map(spark, sf_dir):
    # the chunk->file assignment (bounded by types x hours) must be the
    # broadcast side of the write join; the readback-plan join too —
    # data-sized events never shuffle for either
    plan = _plan(spark, sf_dir, "snk6_compaction_export")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 1, plan


def test_ev29_bins_before_the_shuffle(spark, sf_dir):
    # the global min/max attach via broadcast so bin ids exist map-side,
    # and the checkpointed (week, bin) count frame feeds all four
    # consumers — the events table is never rescanned downstream
    plan = _plan(spark, sf_dir, "ev29_weekly_value_drift")
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan and "FileScan" not in plan, plan
    # remaining week-keyed exchanges move only weeks x bins rows
    assert plan.count("hashpartitioning(week") <= 6, plan


def test_pt8_rides_the_tree_walk_and_edge_joins(spark, sf_dir):
    # shape metrics must come from pt2's co-located walk and pt1's
    # equi-joined edges — no cartesian anywhere in the profile
    plan = _plan(spark, sf_dir, "pt8_plan_shape_profile")
    assert "CartesianProduct" not in plan


def test_dd25_joins_pair_frames_only(spark, sf_dir):
    # both inputs are verified PAIR sets (banded LSH + exact verify on
    # each side); the agreement join is keyed on the canonical pair —
    # never a cartesian, and never a corpus x corpus product
    plan = _plan(spark, sf_dir, "dd25_text_embedding_agreement")
    assert "CartesianProduct" not in plan


def test_tx32_broadcasts_the_test_shingle_set(spark, sf_dir):
    # tx8's contract carries over: the test split's distinct shingles
    # broadcast; the rollup adds one doc_id-keyed join, no new
    # data-sized shuffle family
    plan = _plan(spark, sf_dir, "tx32_decontamination_impact")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_tx8_broadcasts_the_test_shingle_set(spark, sf_dir):
    # the decontamination size contract (SCALE.md "Decontamination's
    # broadcast contract"): the benchmark shingle set is a small FIXED
    # external set in production, so it must broadcast — one map-side
    # left join over the train shingle stream, one doc_id-keyed agg.
    # If this pin ever needs to change (corpus-proportional benchmark),
    # the documented fallback is dropping the hint, not a new shape.
    plan = _plan(spark, sf_dir, "tx8_benchmark_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert plan.count("hashpartitioning(doc_id") <= 1, plan


def test_a36_is_one_rollup_over_p5s_join(spark, sf_dir):
    # the census is p5's query_id-keyed runtime attach plus the
    # operator-name rollup — no pair joins, no per-type rescans. The
    # COUNT(DISTINCT affected query) needs the standard two-phase
    # distinct aggregate, so exactly two name-keyed exchanges, both
    # moving only (name x query)-bounded partially-aggregated rows
    plan = _plan(spark, sf_dir, "a36_straggler_census")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(name") <= 2, plan


def test_dd26_keyed_gram_join_single_doc_exchange(spark, sf_dir):
    # the duplicated-window detection is gram-hash-KEYED (one count
    # window over the binary-md5 key since r15 — previously a groupBy +
    # self-join on the same key) — never an all-pairs product; the
    # lag + running-sum island windows share ONE doc_id exchange; the
    # gram-count scan prunes to the text column only
    plan = _plan(spark, sf_dir, "dd26_repeated_substrings")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(doc_id") <= 1, plan
    # ONE gram-key exchange feeds the count window (the pre-r15 shape
    # paid a second g exchange + an extra text-only scan for the
    # join's build side)
    assert plan.count("hashpartitioning(g") == 1, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan, plan


def test_ev30_pair_join_is_session_keyed(spark, sf_dir):
    # the type-pair census self-joins the distinct (user, session, type)
    # frame KEYED on (user_id, session_id) — per-session fanout bounded
    # by the type vocab, never a cartesian; marginals and the 1-row
    # session total attach by broadcast
    plan = _plan(spark, sf_dir, "ev30_session_type_affinity")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_sim26_two_rank_windows_share_one_exchange(spark, sf_dir):
    # both metric rankings partition by query_id: one exchange feeds two
    # in-partition sorts; the query batch broadcasts (sim1's plan) and
    # nothing re-shuffles the corpus for the second metric
    plan = _plan(spark, sf_dir, "sim26_metric_choice_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert plan.count("hashpartitioning(query_id") <= 1, plan


def test_dd27_is_one_pass_over_the_pair_frame(spark, sf_dir):
    # the advisor aggregates the truth-pair frame to ONE row and
    # explodes the constant grid — no corpus rescans beyond the shared
    # truth build, no cartesian anywhere
    plan = _plan(spark, sf_dir, "dd27_lsh_curve_advisor")
    assert "CartesianProduct" not in plan


def test_dd28_is_a_broadcast_join_of_audited_outputs(spark, sf_dir):
    # the calibration table joins dd21's 3-row sweep with dd27's 5-row
    # design table on (bands, rows_per_band) — the prediction side
    # broadcasts, and no new shuffle family appears beyond what dd21/dd27
    # already pay on the shared persisted frames
    plan = _plan(spark, sf_dir, "dd28_advisor_calibration")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_tx33_funnel_no_cartesian_bounded_exchanges(spark, sf_dir):
    # the chained funnel rides its stages' plans: the span census and
    # contamination rollup are keyed sub-pipelines, the benchmark
    # shingle set broadcasts, the two 1-row stage aggregates attach by
    # broadcast (a BNLJ over single-row sides, never CartesianProduct),
    # and nothing exchanges finer than doc_id — at most four doc_id
    # exchanges (span rollup, contamination rollup, flag join, and the
    # survivors' re-read), every scan pruned to doc_id/text/source
    plan = _plan(spark, sf_dir, "tx33_curation_funnel")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert plan.count("hashpartitioning(doc_id") <= 4, plan


def test_ing6_time_series_rides_the_ingest_dedup(spark, sf_dir):
    # the exploded harvest adds NO shuffle beyond what every ingest table
    # pays: the round-robin repartition of the log lines and the S8 dedup
    # keyed (query_id, fragment_id, instance); the map explode is
    # in-partition
    plan = _plan(spark, sf_dir, "ing6_time_series")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") == 1, plan
    assert "hashpartitioning(query_id" in plan


def test_ts2_memory_skew_two_keyed_aggregates(spark, sf_dir):
    # cross-instance skew: explode in-partition, then the per-(query,
    # fragment, counter) aggregate across instances and the small
    # rollup — at most three keyed exchanges total (S8 dedup + two
    # aggregate keys), partial aggregation everywhere, no cartesian
    plan = _plan(spark, sf_dir, "ts2_memory_skew")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") <= 3, plan
    assert plan.count("HashAggregate") >= 4, plan  # 2x (partial + final)


def test_ev31_hll_certificate_two_exchanges(spark, sf_dir):
    # exact COUNT(DISTINCT) + HLL in one grouped aggregate: the distinct
    # path re-keys once on (event_type, user_id), the final aggregate on
    # event_type — two exchanges total, partial aggregation everywhere,
    # no cartesian; and the certificate must hold (all rows TRUE)
    plan = _plan(spark, sf_dir, "ev31_hll_distinct_certificate")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") == 2, plan
    rows = entrymod.queries()["ev31_hll_distinct_certificate"](
        spark, sf_dir
    ).collect()
    assert rows and all(r["within_bound"] for r in rows)


def test_tx34_bin_aggregate_rides_the_shard_partitioning(spark, sf_dir):
    # tx9's packing shape with a split label: ONE shuffle to shards (the
    # window), then the (shard, bin) aggregate reuses that clustering —
    # no second doc-level exchange — and the composition rollup is the
    # only other exchange (<=7 rows). No cartesian, no global sort.
    plan = _plan(spark, sf_dir, "tx34_split_packing_leakage")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") == 2, plan
    assert "hashpartitioning(shard" in plan
    assert "hashpartitioning(composition" in plan


def test_ts3_footprint_filters_before_any_shuffle(spark, sf_dir):
    # the BYTES filter and map explode stay in-partition; at most three
    # keyed exchanges (S8 dedup + per-query agg + tag census), partial
    # aggregation everywhere, no cartesian
    plan = _plan(spark, sf_dir, "ts3_query_memory_footprint")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") <= 3, plan
    assert plan.count("HashAggregate") >= 4, plan  # 2x (partial + final)


def test_ts1_memory_ramp_partial_aggregates(spark, sf_dir):
    # explode fans out per-series rows in-partition, then ONE keyed
    # aggregate with a map-side partial — output is |tag| x |fragment| x
    # |instance| rows at any corpus size
    plan = _plan(spark, sf_dir, "ts1_memory_ramp")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") <= 2, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_tx33_funnel_reuses_expensive_exchanges(spark, sf_dir):
    # the flag frame feeds two branches (stage aggregate + survivors
    # packing), so its expensive upstreams — the dd26 span census, the
    # tx8 contamination rollup, and the dedup window exchange — would
    # execute twice unless AQE stage reuse covers them; pin that it
    # does: after execution the adaptive plan must attach those
    # subtrees as ReusedExchange in the second branch (ADVICE r12)
    df = entrymod.queries()["tx33_curation_funnel"](spark, sf_dir)
    assert len(df.collect()) == 8
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert plan.count("ReusedExchange") >= 3, plan
