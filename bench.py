"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name: sec},
"one_time_builds": {frame: cold-build sec}, "tier_timings": {multi-tier
headliner: {tier: warm-marginal sec}}, "sf"}.

Timing protocol: one shared SparkSession (JVM warm-up excluded via a
throwaway count), then each query is planned + executed + fully drained
with a ``noop``-format write — every column is evaluated executor-side
but nothing is serialized to the driver. ``count()`` would let Catalyst
prune projection-only queries down to a row count; ``collect()`` would
bottleneck on driver serialization — neither measures the query. Each query
runs once untimed (one-time codegen/JIT compile excluded), then
``$SPARK_GRAFT_BENCH_REPS`` timed reps (default 3) keeping the best —
steady-state throughput, which is what a long-running cluster job sees.

``prepare``, ``best_of`` and ``ab`` are the one home of this protocol:
tools/qbench.py and the sweeps import them rather than copy them.
"""

from __future__ import annotations

import json
import logging
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

log = logging.getLogger("bench")

# Headliners: one per operator family — TPC-H scan/agg/join shapes, the
# corpus analytics (window, join-audit, time-share), and the
# training-data pipeline ops (dedup, similarity, text).
HEADLINERS = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "w1_concurrency_sweep",
    "w3_top_customers_per_nation",
    "a9_join_audit_rollup",
    "a13_avg_time_pct_per_operator",
    "a6_workload_distributions",
    "dd1_exact_dedup",
    "dd3_minhash_lsh_pairs",
    "dd6_simhash_neardup",
    "ing1_parsed_operators",
    "q1_sql_features",
    "ev3_sessionize",
    "tx4_winnow_fingerprints",
    "sim1_brute_force_topk",
    "sim4_ivf_topk",
    "st3_stateful_user_stats",
    "pt2_plan_paths",
    "ev9_retention_cohorts",
    "sim7_embedding_quantize",
    "ev11_sessionize_salted",
    "tx8_benchmark_contamination",
    "tx13_boilerplate_stats",
    "dd10_incremental_dedup",
    "ev13_rate_alerts",
    "tx16_bigram_logprob",
    "sim11_pq_assign",
    "mm4_multimodal_packing",
    "ev17_cms_heavy_hitters",
    # round-6 families (dd14 measured 8 s here and excluded: dd3 already
    # covers the candidate+exact-verify dedup shape in the headliners)
    "sim13_ivfpq_topk",
    "tx18_token_entropy",
    # round-7 families: SQL lint, five-tier ANN + dedup comparisons,
    # shard manifests (batch + streaming twin) — so regressions in the
    # newest operator families are visible round-over-round
    "q5_sql_antipatterns",
    "sim16_ann_comparison",
    "dd17_dedup_comparison",
    "tx25_shard_manifest",
    "st15_streaming_shard_manifest",
    # round-8/9 families: the band-shape sweep (shares the persisted
    # exact-jaccard truth frame with dd17 in-session — the amortized
    # production shape; its solo cost is the truth build + one sweep),
    # the split-leakage audit, and the small-files compaction sink
    "dd21_lsh_band_sensitivity",
    "tx31_split_leakage_audit",
    "snk6_compaction_export",
    # round-10 addition (r9 verdict): the plan family's heaviest op —
    # recursive tree walk + edge joins had no bench representative
    "pt8_plan_shape_profile",
    # round-11 additions: the variable-length exact-substring dedup
    # census (first representative of the duplicated-window join shape)
    # and the within-session type-affinity census (first association-rule
    # shape — session self-join + broadcast marginals)
    "dd26_repeated_substrings",
    "ev30_session_type_affinity",
    # round-12 addition: the end-to-end curation funnel (chains the
    # dd1/dd26/tx8/tx10/tx2/tx12/tx9 stages into one survival report —
    # the composed-pipeline shape had no bench representative)
    "tx33_curation_funnel",
)


def prepare(spark, sf_dir: str) -> None:
    """Untimed scaffolding every timing in this repo runs behind."""
    # JVM/codegen warm-up outside the timed region: a scan + shuffle agg +
    # broadcast join + window over the small dims exercises the codegen,
    # shuffle, and parquet reader paths the first timed query would
    # otherwise pay cold (a bare range-sum left tpch_q1's first rep up to
    # 3x noisy)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from impala_workload_analyzer_spark.io import load_table
    warm_n = load_table(spark, sf_dir, "nation")
    warm_c = load_table(spark, sf_dir, "customer")
    (
        warm_c.join(warm_n, warm_c.c_nationkey == warm_n.n_nationkey)
        .groupBy("n_name").count()
        .selectExpr("n_name", "count",
                    "rank() over (order by count desc, n_name) as r")
        .write.format("noop").mode("overwrite").save()
    )
    # corpus materialization and profile-log rendering are INGEST-side
    # scaffolding (EP1 inputs), not analytics: build once outside the timed
    # region, like the reference's profile_analyzer run precedes its stats
    # scripts (driver.sh:5-17). ing1's timed portion is the actual ingest
    # (decode + parse + harvest), which reads the rendered logs.
    from impala_workload_analyzer_spark.corpus.builder import ensure_corpus
    from impala_workload_analyzer_spark.io import ensure_scan_cache
    from impala_workload_analyzer_spark.sources.profile_render import ensure_profiles
    from impala_workload_analyzer_spark.sources.profiles import materialized_table
    from impala_workload_analyzer_spark.sql_introspect.queries import feature_table
    ensure_scan_cache(spark, sf_dir)
    ensure_corpus(spark, sf_dir)
    ensure_profiles(spark, sf_dir)
    for table in ("queries", "operators"):  # S8 sink the consumers read
        materialized_table(spark, sf_dir, table)
    feature_table(spark, sf_dir)  # q1's landed output q3-q6/m0 read


def best_of(build, reps: int) -> list[float]:
    """The ONE timing protocol every published number uses: one untimed
    warm-up drain (janino codegen/JIT is a one-time cost), then ``reps``
    timed noop-format drains. Returns every rep; bench publishes the min."""
    build().write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 4))
    return times


def ab(spark, current, variant, reps: int) -> tuple[list[float], list[float]]:
    """Same-session A/B of two builds under the ``best_of`` drain.

    Raises ValueError before any timing unless ``exceptAll`` is empty in
    both directions. After one untimed warm-up per side the reps
    interleave, alternating which side runs first, so host drift lands
    on both sides alike. Returns (current reps, variant reps)."""
    a, b = current(), variant()
    diff = (a.exceptAll(b).count(), b.exceptAll(a).count())
    if diff != (0, 0):
        raise ValueError(f"outputs differ: exceptAll {diff[0]}/{diff[1]}")
    sides = {"current": current, "variant": variant}
    times: dict[str, list[float]] = {side: [] for side in sides}
    for build in sides.values():
        build().write.format("noop").mode("overwrite").save()
    for r in range(reps):
        order = list(sides) if r % 2 == 0 else list(reversed(sides))
        for side in order:
            spark.sparkContext.setJobDescription(f"ab:{side}:rep{r}")
            t0 = time.perf_counter()
            sides[side]().write.format("noop").mode("overwrite").save()
            times[side].append(round(time.perf_counter() - t0, 4))
    spark.sparkContext.setJobDescription(None)
    return times["current"], times["variant"]


# The session-persisted shared frames (the feature-store pattern: ground
# truth / component labels / verified pairs materialized once per corpus
# snapshot). Their one-time build cost used to hide in the first
# consumer's untimed warm-up rep (r9 verdict #2) — now each build is
# TIMED COLD here and published as "one_time_builds" in the bench JSON,
# so the headline warm-marginal numbers can never silently absorb more
# work. Order matters: each entry is timed after its upstream frame is
# already warm, so the numbers decompose (jaccard3/minhash_pairs are
# marginal on top of shingles). CacheManager substitutes cached plan
# subtrees into any matching plan, so any headliner whose live lineage
# equals a build plan is benched BEFORE this phase (see the
# fully-cached guard in main) — otherwise it reads warm-marginal and
# stops measuring its own cold cost. Imported directly (not via
# importlib strings) so a rename fails at import time, not mid-bench
# (r10 ADVICE).
def _one_time_builds():
    from impala_workload_analyzer_spark.pipeline.dedup import (
        _shared_components,
        _shared_jaccard3,
        _shared_minhash_pairs,
        _shared_shingles,
        _shared_simhash_pairs,
    )
    from impala_workload_analyzer_spark.pipeline.similarity import (
        _exact_topk_shared,
        _int8_recall_shared,
        _ivf_recall_shared,
        _ivfpq_ranked_shared,
        _lsh_recall_shared,
    )
    from impala_workload_analyzer_spark.sql_introspect.queries import feature_table

    return (
        ("_shared_shingles", _shared_shingles),
        ("_shared_jaccard3", _shared_jaccard3),
        ("_shared_minhash_pairs", _shared_minhash_pairs),
        ("_shared_components", _shared_components),
        ("_exact_topk_shared", _exact_topk_shared),
        # the three recall-audit frames build on the warm exact-truth
        # frame above, so their readings are marginal search+join cost
        ("_lsh_recall", _lsh_recall_shared),
        ("_ivf_recall", _ivf_recall_shared),
        ("_int8_recall", _int8_recall_shared),
        ("_simhash_pairs", _shared_simhash_pairs),
        ("_ivfpq_ranked", _ivfpq_ranked_shared),
        # a read of the statement-feature store prepare() landed; the key
        # is frozen from when q1's parse was a session-persisted frame
        ("_sql_features", feature_table),
    )


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))  # best-of; host-load noise swings single reps +-10%
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    import __spark_entry__ as entrymod
    from impala_workload_analyzer_spark.session import get_spark

    spark = get_spark("bench")
    qs = entrymod.queries()
    prepare(spark, sf_dir)

    names = [n for n in HEADLINERS if n in qs]
    extra = [n for n in HEADLINERS if n not in qs]
    if extra:
        log.warning("missing headliners: %s", extra)

    timings: dict[str, float] = {}

    def bench_one(name: str) -> None:
        timings[name] = min(best_of(lambda: qs[name](spark, sf_dir), reps))

    # dd3/sim1 run BEFORE the shared-frame builds: their live lineages
    # EQUAL two build plans, and CacheManager substitutes cached
    # subtrees into any matching plan — benched after the builds they'd
    # read warm-marginal and stop measuring their own cold cost
    # (observed 1.65 -> 0.54 / 0.65 -> 0.17 when ordered wrong).
    # Benching them first keeps every headline row meaningful: these two
    # cold, the multi-tier consumers warm-marginal, builds visible below.
    # sim13 joined the list when _ivfpq_ranked became a shared build
    # (r15 optimization round): its live plan CONTAINS the ranked frame's
    # lineage as a subtree, so benched post-build it would read
    # warm-marginal and stop measuring the IVF-PQ search cold. q1 joined
    # when the parsed-feature frame was a session-persisted build; the
    # features are now a landed table no plan can substitute, so q1's
    # live parse is cold wherever it runs — it stays first regardless.
    # dd6 joined when _simhash_pairs became a shared build (r15
    # optimization round): its live plan EQUALS the build plan.
    prebuild = [n for n in ("dd3_minhash_lsh_pairs", "sim1_brute_force_topk",
                            "sim13_ivfpq_topk", "q1_sql_features",
                            "dd6_simhash_neardup")
                if n in names]
    for name in prebuild:
        bench_one(name)

    # cold-build the shared frames, timed and published (they persist in
    # the session, so the consumer timings below stay warm-marginal —
    # the amortized production shape — while the build cost is visible)
    one_time_builds: dict[str, float] = {}
    for bname, fn in _one_time_builds():
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        one_time_builds[bname] = round(time.perf_counter() - t0, 4)

    # The prebuild list above is an invariant, not a hope (r10 ADVICE):
    # if a post-build headliner's WHOLE analyzed plan matches a cached
    # entry, its timing below is warm-marginal and the list is stale —
    # say so loudly rather than publish a silently-absorbed number.
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    for name in names:
        if name in timings:  # dd3/sim1 already benched pre-build
            continue
        jdf = qs[name](spark, sf_dir)._jdf
        if cache_mgr.lookupCachedData(jdf).isDefined():
            log.warning("%s: full plan is cache-resident post-build; "
                        "add it to the prebuild list to time it cold", name)
        bench_one(name)

    # Per-tier attribution for the multi-tier comparison headliners
    # (r12 verdict #6): sim16 and dd17 publish one number for 4-5 tiers,
    # so a single-tier regression hides in the aggregate. Time each
    # tier's OWN frame (same callables the host queries union — plans
    # unchanged) warm-marginal, after the host query ran above, exactly
    # the state the host's tiers execute in. Sub-readings are
    # attribution, not anchors: one untimed warm-up, best-of-2.
    def _tier_probes():
        from impala_workload_analyzer_spark.pipeline.dedup import DD17_TIERS
        from impala_workload_analyzer_spark.pipeline.similarity import (
            SIM16_TIERS,
        )

        return (("sim16_ann_comparison", SIM16_TIERS),
                ("dd17_dedup_comparison", DD17_TIERS))

    tier_timings: dict[str, dict[str, float]] = {}
    for host, tiers in _tier_probes():
        if host not in timings:
            continue
        tier_timings[host] = {
            tname: min(best_of(lambda f=fn: f(spark, sf_dir), 2))
            for tname, fn in tiers.items()
        }

    # The streaming one-time setup, kept as honest as the batch builds:
    # st-family queries read a multi-file scan-cache landing directory
    # (streaming/stream_queries.py:_stream_events/_stream_docs) that
    # ensure_scan_cache materialized in the untimed warm-up above, so its
    # cost was invisible in the artifact. Time a COLD rebuild of the two
    # streamed tables' layouts into a throwaway root (same _build_cache
    # path, a round-robin repartition(n) write — a full shuffle), then
    # discard — the real
    # cache is untouched and stays warm for reproducibility.
    import shutil
    import tempfile
    from impala_workload_analyzer_spark.io import _build_cache
    stream_setup = 0.0
    tmp_root = tempfile.mkdtemp(prefix="bench_stream_setup_")
    try:
        for table in ("events", "documents"):
            src = os.path.join(sf_dir, f"{table}.parquet")
            if not os.path.exists(src):
                continue
            root = os.path.join(tmp_root, table)
            t0 = time.perf_counter()
            _build_cache(spark, src, root, os.path.join(root, "v0"))
            stream_setup += time.perf_counter() - t0
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)

    total = round(sum(timings.values()), 4)
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "one_time_builds": one_time_builds,
        "tier_timings": tier_timings,
        "stream_setup_sec": round(stream_setup, 4),
        "sf": sf,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
