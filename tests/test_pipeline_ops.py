"""Invariant tests for similarity, plan-tree, multimodal, and streaming
operators at sf0.001."""

from __future__ import annotations

from impala_workload_analyzer_spark.pipeline import multimodal, similarity
from impala_workload_analyzer_spark.plans import draw_plan


def test_lsh_topk_is_subset_of_brute_force(spark, sf_dir):
    """LSH trades recall, never precision: every (query, neighbor) it
    returns must appear in the exact top-k at the same or better rank."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["rank"]
        for r in similarity.brute_force_topk(spark, sf_dir).collect()
    }
    for r in similarity.lsh_topk(spark, sf_dir).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert r["rank"] <= exact[key] + similarity._TOP_K


def test_vectorized_topk_matches_brute_force(spark, sf_dir):
    """sim5 (numpy-matmul scorer) computes the same exact cosine as sim1
    (sequential fold) up to BLAS accumulation order: identical top-k sets
    per query and similarities within 1e-6."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in similarity.brute_force_topk(spark, sf_dir).collect()
    }
    fast = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in similarity.vectorized_topk(spark, sf_dir).collect()
    }
    assert set(exact) == set(fast)
    for key, sim in exact.items():
        assert abs(sim - fast[key]) < 1e-6


def test_plan_paths_cover_all_operators(spark, sf_dir):
    """Every operator of every non-DDL query is reachable from its root."""
    from impala_workload_analyzer_spark.corpus import corpus_operators

    n_ops = corpus_operators(spark, sf_dir).count()
    n_paths = draw_plan.plan_paths(spark, sf_dir).count()
    assert n_paths == n_ops


def test_plan_path_depths(spark, sf_dir):
    rows = draw_plan.plan_paths(spark, sf_dir).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["query_id"], []).append(r)
    some = next(iter(by_qid.values()))
    depths = {r["id"]: r["depth"] for r in some}
    assert depths[6] == 0 and depths[5] == 1 and depths[4] == 2
    assert depths[3] == 3  # EXCHANGE -> fragment-0 root via exchange edge


def test_frame_samples_every_fifth_frame(spark, sf_dir):
    rows = multimodal.frame_samples(spark, sf_dir).collect()
    assert rows and all(r["frame_idx"] % 5 == 0 for r in rows)


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    """Batch/stream equivalence on a finite source (the st1 gate)."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import tumbling_hourly
    from impala_workload_analyzer_spark.streaming.stream_queries import streaming_tumbling

    batch = {tuple(r) for r in tumbling_hourly(spark, sf_dir).collect()}
    stream = {tuple(r) for r in streaming_tumbling(spark, sf_dir).collect()}
    assert batch == stream


def test_stratified_split_partitions_corpus(spark, sf_dir):
    """tx5's 80/10/10 hash split covers every doc exactly once and is
    deterministic across runs."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import stratified_split

    a = stratified_split(spark, sf_dir).collect()
    b = stratified_split(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in a) == total
    assert {r["split"] for r in a} <= {"train", "val", "test"}
    n_train = sum(r["n_docs"] for r in a if r["split"] == "train")
    assert 0.6 < n_train / total < 0.95


def test_kmeans_elbow_deterministic_and_monotone(spark, sf_dir):
    """m2b computes live (best-of-_SEEDS per k): two runs are identical
    (pinned seeds, canonical input layout, memoized curve), the sweep
    covers k=1..69, the variance-explained curve is monotone
    non-decreasing — multi-init keeps a bad single-seed local optimum
    from denting the curve — and the m2 certificate over the same curve
    is all-TRUE (what the DuckDB oracle asserts)."""
    from impala_workload_analyzer_spark.ml import clustering as C

    a = sorted(map(tuple, C.kmeans_elbow_curve(spark, sf_dir).collect()))
    b = sorted(map(tuple, C.kmeans_elbow_curve(spark, sf_dir).collect()))
    assert [(k, round(w, 6)) for k, w, _ in a] == \
           [(k, round(w, 6)) for k, w, _ in b]
    assert [k for k, _, _ in a] == list(range(1, 70))
    pcts = [p for _, _, p in a]
    assert all(y >= x - 1e-9 for x, y in zip(pcts, pcts[1:]))

    cert = C.kmeans_elbow(spark, sf_dir).collect()
    assert [r["k"] for r in cert] == list(range(1, 70))
    for r in cert:
        assert r["wcss_nonincreasing"] and r["pct_var_in_range"]
        assert r["pct_var_nondecreasing"] and r["tss_matches_dims"]


def test_kmeans_final_deterministic_and_certified(spark, sf_dir):
    """m3 publishes a deterministic clustering (pinned seeds, canonical
    input layout): two fits from a cold model memo are identical, all 10
    clusters populate (the corpus has 15 distinct feature shapes), and
    the m3b certificate over the same fit is all-TRUE (what the DuckDB
    oracle asserts): sizes sum to n, every member nearer its own centroid
    than any other, centroid == assigned-mean (Lloyd fixed point)."""
    from impala_workload_analyzer_spark.cache_util import evict_session_frames
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.ml import clustering as C

    a = sorted(map(tuple, C.kmeans_clusters(spark, sf_dir).collect()))
    # force a second, independent best-of-seeds fit
    assert evict_session_frames("kmeans_model") >= 1
    b = sorted(map(tuple, C.kmeans_clusters(spark, sf_dir).collect()))
    assert a == b
    assert len(a) == 10

    cert = C.kmeans_certificate(spark, sf_dir).collect()
    assert sorted(r["cluster"] for r in cert) == list(range(10))
    for r in cert:
        assert r["populated"] and r["sizes_sum_to_n"]
        assert r["nearest_centroid_ok"] and r["centroid_is_assigned_mean"]


def test_unigram_logprob_covers_corpus_with_negative_scores(spark, sf_dir):
    """tx6: one score per document, every score a negative mean
    log-probability (all smoothed unigram probabilities are < 1)."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import unigram_logprob

    rows = unigram_logprob(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == total
    assert all(r["avg_logprob"] < 0 for r in rows)


def test_quantile_sketch_within_rank_error(spark, sf_dir):
    """a19 is self-validating: every row's ``within_bound`` (the in-engine
    rank-error certificate of the GK sketch vs the exact rank) must be
    TRUE, and ``exact_value`` must equal the python-computed exact
    integer-rank quantile (a18's definition)."""
    from impala_workload_analyzer_spark.corpus import corpus_operators
    from impala_workload_analyzer_spark.operators.workload_stats import (
        _QUANTILES,
        operator_time_quantiles_sketch,
    )

    vals: dict[str, list[int]] = {}
    for r in corpus_operators(spark, sf_dir).select("name", "avg_time").collect():
        vals.setdefault(r["name"], []).append(r["avg_time"])
    for v in vals.values():
        v.sort()
    ps = dict(_QUANTILES)
    rows = operator_time_quantiles_sketch(spark, sf_dir).collect()
    assert len(rows) == len(vals) * len(_QUANTILES)
    for r in rows:
        data = vals[r["name"]]
        n = len(data)
        target = int(ps[r["quantile"]] * (n - 1))
        assert r["exact_value"] == data[target], (r, n)
        assert r["within_bound"] is True, r


def test_asof_join_matches_brute_force(spark, sf_dir):
    """ev5: every purchase's match is exactly the latest click at or
    before it (ties -> max event_id), verified against a brute-force scan."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import asof_join

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_id", "user_id", "event_type", "unix_micros(ts) AS ts_us"
    ).collect()
    clicks: dict[int, list[tuple[int, int]]] = {}
    for r in ev:
        if r["event_type"] == "click":
            clicks.setdefault(r["user_id"], []).append((r["ts_us"], r["event_id"]))
    for v in clicks.values():
        v.sort()
    out = asof_join(spark, sf_dir).collect()
    n_purchases = sum(1 for r in ev if r["event_type"] == "purchase")
    assert len(out) == n_purchases
    for r in out:
        cands = [(t, e) for t, e in clicks.get(r["user_id"], ())
                 if t <= r["purchase_us"]]
        if not cands:
            assert r["click_event_id"] is None and r["gap_us"] is None
        else:
            best_ts = max(t for t, _ in cands)
            best_id = max(e for t, e in cands if t == best_ts)
            assert (r["click_us"], r["click_event_id"]) == (best_ts, best_id)
            assert r["gap_us"] == r["purchase_us"] - best_ts


def test_range_join_matches_brute_force(spark, sf_dir):
    """ev6: banded range-join counts equal a brute-force interval count."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _RANGE_US,
        range_join_counts,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_id", "user_id", "event_type", "unix_micros(ts) AS ts_us"
    ).collect()
    clicks: dict[int, list[int]] = {}
    for r in ev:
        if r["event_type"] == "click":
            clicks.setdefault(r["user_id"], []).append(r["ts_us"])
    for r in range_join_counts(spark, sf_dir).collect():
        p_us = next(e["ts_us"] for e in ev if e["event_id"] == r["purchase_event_id"])
        expect = sum(1 for t in clicks.get(r["user_id"], ())
                     if p_us - _RANGE_US <= t < p_us)
        assert r["n_clicks_prev_hour"] == expect


def test_hypertable_rollup_cascade_consistent(spark, sf_dir):
    """ev7: every resolution's event counts total the raw event count (the
    partial-reuse cascade is lossless)."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        hypertable_rollup,
    )

    rows = hypertable_rollup(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    for level in ("minute", "hour", "day"):
        assert sum(r["n_events"] for r in rows if r["level"] == level) == total


def test_semantic_components_partition_embeddings(spark, sf_dir):
    """dd9: every vector gets exactly one component; component ids are the
    min member id; `kept` marks exactly one representative per component."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.similarity import (
        semantic_components,
    )

    rows = semantic_components(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == total
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r["component_id"], []).append(r)
    for cid, members in by_comp.items():
        assert cid == min(m["vec_id"] for m in members)
        assert sum(1 for m in members if m["kept"]) == 1

def test_range_search_thresholded_and_correct(spark, sf_dir):
    """sim6: every hit clears the threshold, and every reported cosine
    matches an exact recompute (candidates are verified, never trusted)."""
    import math

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.similarity import (
        _RANGE_TAU,
        range_search,
    )

    emb = {r["vec_id"]: r["embedding"]
           for r in load_table(spark, sf_dir, "embeddings").collect()}
    for r in range_search(spark, sf_dir).collect():
        assert r["sim"] >= _RANGE_TAU
        a, b = emb[r["query_id"]], emb[r["neighbor_id"]]
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        assert abs(r["sim"] - dot / (na * nb)) < 1e-6

def test_windowed_topk_ranks_contiguous(spark, sf_dir):
    """ev8: at most 3 users per window, ranks contiguous from 1, counts
    non-increasing with rank."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        windowed_topk_users,
    )

    rows = windowed_topk_users(spark, sf_dir).collect()
    by_w: dict[int, list] = {}
    for r in rows:
        by_w.setdefault(r["window_start"], []).append(r)
    assert by_w
    for members in by_w.values():
        members.sort(key=lambda r: r["rank"])
        assert [m["rank"] for m in members] == list(range(1, len(members) + 1))
        assert len(members) <= 3
        counts = [m["n_events"] for m in members]
        assert counts == sorted(counts, reverse=True)

def test_tfidf_top_terms_shape(spark, sf_dir):
    """tx7: <= 5 terms per doc, scores non-increasing with rank, and df
    never exceeds the corpus size."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import tfidf_top_terms

    rows = tfidf_top_terms(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    by_doc: dict[int, list] = {}
    for r in rows:
        assert 1 <= r["df"] <= n_docs
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == n_docs
    for members in by_doc.values():
        members.sort(key=lambda r: r["rank"])
        assert len(members) <= 5
        scores = [m["score"] for m in members]
        assert scores == sorted(scores, reverse=True)


def test_retention_cohorts_invariants(spark, sf_dir):
    """ev9: offset-0 retention is exactly 1.0 for every cohort (a user is
    active in their own first week by construction), offsets are
    non-negative, and n_active never exceeds cohort_size."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        retention_cohorts,
    )

    rows = retention_cohorts(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["week_offset"] >= 0
        assert 0 < r["n_active"] <= r["cohort_size"]
    base = [r for r in rows if r["week_offset"] == 0]
    assert base and all(r["retention"] == 1.0 for r in base)


def test_funnel_conversion_monotone(spark, sf_dir):
    """ev10: step counts are non-increasing (each step requires the
    previous), step 1 converts at 1.0, and steps arrive in order."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        funnel_conversion,
    )

    rows = sorted(funnel_conversion(spark, sf_dir).collect(),
                  key=lambda r: r["step"])
    assert [r["step"] for r in rows] == [1, 2, 3]
    assert rows[0]["conversion"] == 1.0
    counts = [r["n_users"] for r in rows]
    assert counts[0] >= counts[1] >= counts[2]


def test_embedding_quantize_bounds(spark, sf_dir):
    """sim7: codes are int8-range (|code| <= 127), the reconstruction
    error is bounded by scale/2 (the rounding half-step), and every
    vector is covered."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.similarity import (
        embedding_quantize,
    )

    rows = embedding_quantize(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == total
    for r in rows:
        assert r["max_code"] <= 127
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    """st4: the streaming watermarked dropDuplicates over the action key
    emits exactly the batch DISTINCT key set for a finite source."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_dedup,
    )
    from pyspark.sql import functions as F

    got = {tuple(r) for r in streaming_dedup(spark, sf_dir).collect()}
    want = {
        tuple(r)
        for r in load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.unix_timestamp(F.date_trunc("minute", "ts")).alias("m"),
        )
        .distinct()
        .collect()
    }
    assert got == want


def test_salted_sessionize_equals_plain(spark, sf_dir):
    """ev11 (salted two-level sessionization) must be row-identical to
    ev3 — same sessions, ordinals, and exact value sums — only the
    physical plan differs."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        sessionize,
        sessionize_salted,
    )

    plain = {tuple(r) for r in sessionize(spark, sf_dir).collect()}
    salted = {tuple(r) for r in sessionize_salted(spark, sf_dir).collect()}
    assert plain == salted


def test_contamination_bounds_and_split(spark, sf_dir):
    """tx8: only train docs appear, ratios live in [0,1], flagged iff the
    ratio reaches the threshold, and counts never exceed totals."""
    from impala_workload_analyzer_spark.pipeline.text import (
        _CONTAM_TAU,
        benchmark_contamination,
    )

    rows = benchmark_contamination(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_contaminated"] <= r["n_shingles"]
        assert 0.0 <= r["contamination"] <= 1.0
        assert r["flagged"] == (r["contamination"] >= _CONTAM_TAU)


def test_sequence_packing_budget_and_coverage(spark, sf_dir):
    """tx9: every document lands in exactly one bin (token totals add up),
    no bin exceeds budget + its largest doc's slack, and bins are densely
    numbered from 0 within each shard."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _PACK_BUDGET,
        sequence_packing,
    )
    from pyspark.sql import functions as F

    rows = sequence_packing(spark, sf_dir).collect()
    assert rows
    total_docs = sum(r["n_docs"] for r in rows)
    assert total_docs == load_table(spark, sf_dir, "documents").count()
    shards = {}
    for r in rows:
        assert r["total_tokens"] <= _PACK_BUDGET + r["max_tokens"] - 1
        shards.setdefault(r["shard"], []).append(r["bin"])
    for bins in shards.values():
        assert sorted(bins) == list(range(len(bins)))


def test_blocklist_policy_counts_consistent(spark, sf_dir):
    """tx10: per-source counts are internally consistent and flag_rate is
    the exact n_flagged / n_docs ratio."""
    from impala_workload_analyzer_spark.pipeline.text import blocklist_policy

    rows = blocklist_policy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_flagged"] <= r["n_docs"]
        assert abs(r["flag_rate"] - r["n_flagged"] / r["n_docs"]) < 1e-8
        # avg distinct banned terms per doc is bounded by the list size
        from impala_workload_analyzer_spark.pipeline.text import _BLOCKLIST
        assert 0.0 <= r["avg_banned_terms"] <= len(_BLOCKLIST)


def test_repetition_stats_bounds_and_gate(spark, sf_dir):
    """tx11: fractions are in [0,1], top_count is attainable, and the keep
    gate matches its definition."""
    from impala_workload_analyzer_spark.pipeline.text import (
        _REP_MAX_DUP_FRAC,
        _REP_MAX_TOP_FRAC,
        repetition_stats,
    )

    rows = repetition_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_distinct"] <= r["n_words"]
        assert 1 <= r["top_count"] <= r["n_words"]
        for c in ("dup_word_frac", "top_word_frac", "dup_2gram_frac"):
            assert 0.0 <= r[c] <= 1.0
        assert r["keep"] == (
            r["top_word_frac"] <= _REP_MAX_TOP_FRAC
            and r["dup_word_frac"] <= _REP_MAX_DUP_FRAC
        )


def test_mixture_sample_tracks_target_rates(spark, sf_dir):
    """tx12: realized rates are within a loose tolerance of the target
    (hash buckets are uniform), and a rate-1.0 source keeps everything."""
    from impala_workload_analyzer_spark.pipeline.text import (
        _MIX_DEFAULT,
        _MIX_RATES,
        mixture_sample,
    )

    rows = mixture_sample(spark, sf_dir).collect()
    assert rows
    for r in rows:
        target = _MIX_RATES.get(r["source"], _MIX_DEFAULT)
        assert r["target_rate"] == target
        assert 0 <= r["n_kept"] <= r["n_docs"]
        if target == 1.0:
            assert r["n_kept"] == r["n_docs"]
        else:  # uniform hash: loose binomial bound for small fixtures
            assert abs(r["kept_rate"] - target) < 0.45


def test_anomaly_zscore_flags_true_outliers(spark, sf_dir):
    """ev12: every returned event is beyond the threshold, and a recompute
    from raw data agrees on the flagged set."""
    import statistics

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _Z_TAU,
        anomaly_zscore,
    )

    flagged = {r["event_id"]: r for r in anomaly_zscore(spark, sf_dir).collect()}
    for r in flagged.values():
        assert abs(r["z"]) > _Z_TAU
    by_type = {}
    for r in load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).collect():
        by_type.setdefault(r["event_type"], []).append((r["event_id"], r["value"]))
    expect = set()
    for rows in by_type.values():
        vals = [v for _, v in rows]
        m, s = statistics.fmean(vals), statistics.stdev(vals)
        for eid, v in rows:
            if abs(round((v - m) / s, 6)) > _Z_TAU:
                expect.add(eid)
    assert expect == set(flagged)


def test_streaming_anomaly_matches_sequential_recompute(spark, sf_dir):
    """st5: the keyed-state Welford scan must flag exactly the events a
    sequential recompute over event_id order flags."""
    import math

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        _ANOM_TAU,
        _ANOM_WARMUP,
        streaming_anomaly,
    )

    got = {r["event_id"]: r["z"] for r in streaming_anomaly(spark, sf_dir).collect()}
    by_type = {}
    for r in load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).collect():
        by_type.setdefault(r["event_type"], []).append((r["event_id"], r["value"]))
    expect = {}
    for rows in by_type.values():
        n, mean, m2 = 0, 0.0, 0.0
        for eid, v in sorted(rows):
            if n >= _ANOM_WARMUP:
                z = round((v - mean) / math.sqrt(m2 / (n - 1)), 6)
                if abs(z) > _ANOM_TAU:
                    expect[eid] = z
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
    assert got == expect


def test_boilerplate_stats_matches_recompute(spark, sf_dir):
    """tx13: per-doc boilerplate fractions match an exact Python recompute
    of the source-level document-frequency rule."""
    import re as _re
    from collections import Counter

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _BOILER_TAU,
        boilerplate_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    grams = {}
    by_source = {}
    for r in docs:
        w = _re.sub(r"\s+", " ", r["text"].lower()).strip().split(" ")
        if len(w) < 2:
            continue
        g = {f"{a} {b}" for a, b in zip(w, w[1:])}
        grams[r["doc_id"]] = (r["source"], g)
        by_source.setdefault(r["source"], []).append(g)
    boiler = {}
    for src, sets in by_source.items():
        df = Counter(g for s in sets for g in s)
        boiler[src] = {g for g, c in df.items() if c / len(sets) >= _BOILER_TAU}
    rows = {r["doc_id"]: r for r in boilerplate_stats(spark, sf_dir).collect()}
    assert set(rows) == set(grams)
    for doc_id, (src, g) in grams.items():
        r = rows[doc_id]
        n_boiler = len(g & boiler[src])
        assert (r["source"], r["n_grams"], r["n_boiler"]) == (src, len(g), n_boiler)
        assert abs(r["boiler_frac"] - n_boiler / len(g)) < 1e-8


def test_knn_label_assign_matches_topk_vote(spark, sf_dir):
    """sim8: the assigned label is the majority vote over sim1's exact
    top-k, smallest label on ties."""
    from collections import Counter

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.similarity import (
        brute_force_topk,
        knn_label_assign,
    )

    labels = {r["vec_id"]: r["label"] for r in load_table(
        spark, sf_dir, "embeddings").select("vec_id", "label").collect()}
    topk = {}
    for r in brute_force_topk(spark, sf_dir).collect():
        topk.setdefault(r["query_id"], []).append(r["neighbor_id"])
    out = {r["query_id"]: r for r in knn_label_assign(spark, sf_dir).collect()}
    assert set(out) == set(topk)
    for qid, neighbors in topk.items():
        votes = Counter(labels[n] for n in neighbors)
        best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
        r = out[qid]
        assert (r["pred_label"], r["votes"]) == best
        assert r["true_label"] == labels[qid]
        assert r["agree"] == (best[0] == labels[qid])


def test_rate_alerts_recompute(spark, sf_dir):
    """ev13: alerts match a sequential recompute over observed hourly
    buckets."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _RATE_LOOKBACK,
        _RATE_TAU,
        rate_alerts,
    )
    from pyspark.sql import functions as F

    hourly = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .groupBy(F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h"),
                 "event_type")
        .count()
        .collect()
    ):
        hourly.setdefault(r["event_type"], []).append((r["h"], r["count"]))
    expect = {}
    for et, rows in hourly.items():
        rows.sort()
        for i, (h, c) in enumerate(rows):
            prev = [c2 for _, c2 in rows[max(0, i - _RATE_LOOKBACK):i]]
            if len(prev) >= _RATE_LOOKBACK and c >= _RATE_TAU * (sum(prev) / len(prev)):
                expect[(h, et)] = (c, round(c / (sum(prev) / len(prev)), 6))
    got = {(r["hour_start"], r["event_type"]): (r["n_events"], r["rate_ratio"])
           for r in rate_alerts(spark, sf_dir).collect()}
    assert got == expect


def test_vocab_coverage_recompute(spark, sf_dir):
    """tx14: OOV rates match a Python recompute of the top-V vocabulary."""
    import re as _re
    from collections import Counter

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _VOCAB_SIZE,
        vocab_coverage,
    )

    words_by_doc = {}
    for r in load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect():
        words_by_doc[r["doc_id"]] = _re.sub(
            r"\s+", " ", r["text"].lower()).strip().split(" ")
    counts = Counter(w for ws in words_by_doc.values() for w in ws)
    vocab = {w for w, _ in sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_VOCAB_SIZE]}
    got = {r["doc_id"]: r for r in vocab_coverage(spark, sf_dir).collect()}
    assert set(got) == set(words_by_doc)
    for doc_id, ws in words_by_doc.items():
        n_oov = sum(1 for w in ws if w not in vocab)
        r = got[doc_id]
        assert (r["n_tokens"], r["n_oov"]) == (len(ws), n_oov)
        assert abs(r["oov_rate"] - n_oov / len(ws)) < 1e-8


def test_kmv_estimate_within_theoretical_error(spark, sf_dir):
    """ev14: the KMV estimate is the textbook function of the k-th
    smallest hash and stays inside ~4/sqrt(k) relative error on the
    uniform-hash fixture."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _KMV_K,
        kmv_distinct,
    )

    rows = kmv_distinct(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["n_distinct"] <= _KMV_K:
            assert r["kmv_estimate"] == float(r["n_distinct"])
            assert r["rel_error"] == 0.0
        else:
            assert r["rel_error"] <= 4.0 / (_KMV_K ** 0.5)


def test_streaming_interval_join_matches_batch_pairs(spark, sf_dir):
    """st7: the stream-stream interval join emits exactly the batch range
    predicate's pair set."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_interval_join,
    )

    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("us"),
    ).collect()
    clicks = [(r["user_id"], r["us"]) for r in ev if r["event_type"] == "click"]
    expect = set()
    hour_us = 3600 * 1_000_000
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        for u, c_us in clicks:
            if u == r["user_id"] and 0 < r["us"] - c_us <= hour_us:
                expect.add((r["event_id"], u, c_us))
    got = {(r["purchase_event_id"], r["user_id"], r["c_us"])
           for r in streaming_interval_join(spark, sf_dir).collect()}
    assert got == expect


def test_critical_path_dominates_all_paths(spark, sf_dir):
    """pt3: the chosen chain's total equals the best over pt2's enumerated
    paths (recomputed with operator times), and its path exists in pt2."""
    from impala_workload_analyzer_spark.corpus import corpus_operators
    from impala_workload_analyzer_spark.plans.draw_plan import (
        critical_path,
        plan_paths,
    )

    times = {(r["query_id"], r["id"]): r["avg_time"]
             for r in corpus_operators(spark, sf_dir)
             .select("query_id", "id", "avg_time").collect()}
    best = {}
    paths = {}
    for r in plan_paths(spark, sf_dir).collect():
        qid = r["query_id"]
        total = sum(times[(qid, int(seg))] for seg in r["path"].split(">"))
        paths.setdefault(qid, set()).add(r["path"])
        cur = best.get(qid)
        if cur is None or (-total, r["path"]) < (-cur[0], cur[1]):
            best[qid] = (total, r["path"])
    got = {r["query_id"]: (r["total_time"], r["path"], r["leaf_id"])
           for r in critical_path(spark, sf_dir).collect()}
    assert set(got) == set(best)
    for qid, (total, path) in best.items():
        g = got[qid]
        assert (g[0], g[1]) == (total, path)
        assert g[1] in paths[qid]
        assert g[2] == int(path.split(">")[-1])


def test_streaming_ingest_across_microbatches(spark, sf_dir):
    """st6's dedup state must hold ACROSS microbatches, not just within
    one: re-run the stream with maxFilesPerTrigger=1 (one log file per
    trigger) and require the same operators table as the batch ingest."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.sources.profile_render import (
        ensure_profiles,
    )
    from impala_workload_analyzer_spark.sources.profiles import (
        OP_SCHEMA,
        batch_parser,
        parsed_operators,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import _to_memory

    path = ensure_profiles(spark, sf_dir)
    lines = (
        spark.readStream.option("maxFilesPerTrigger", 1).text(path)
        .select(
            F.split("value", " ").getItem(2).alias("blob"),
            F.col("tag").cast("string").alias("tag"),
        )
    )
    ops = lines.mapInPandas(
        batch_parser("operators", OP_SCHEMA), schema=OP_SCHEMA
    ).dropDuplicates(["query_id", "id"])
    got = _to_memory(ops, "st6_mb_out", "append")
    batch = parsed_operators(spark, sf_dir)
    assert got.count() == batch.count()
    # identical (query_id, id, name) key set
    key = lambda df: {tuple(r) for r in df.select("query_id", "id", "name").collect()}  # noqa: E731
    assert key(got) == key(batch)


def test_pipeline_funnel_consistent_with_component_ops(spark, sf_dir):
    """tx15: the funnel is monotone non-increasing and each stage's doc
    count matches the intersection of the component operators' own keep
    sets (dd1 canonicals, tx2 keep, tx10-style no-banned)."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.dedup import exact_dedup
    from impala_workload_analyzer_spark.pipeline.text import (
        _BLOCKLIST,
        pipeline_funnel,
        quality_score,
    )
    from pyspark.sql import functions as F

    rows = {r["stage"]: r for r in pipeline_funnel(spark, sf_dir).collect()}
    assert [rows[s]["stage_name"] for s in sorted(rows)] == [
        "raw", "exact_dedup", "quality_gate", "blocklist_policy"]
    for s in (2, 3, 4):
        assert rows[s]["n_docs"] <= rows[s - 1]["n_docs"]
        assert rows[s]["n_tokens"] <= rows[s - 1]["n_tokens"]
    canon = {r["canonical_doc_id"] for r in exact_dedup(spark, sf_dir).collect()}
    keep = {r["doc_id"] for r in quality_score(spark, sf_dir).collect() if r["keep"]}
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        sum((F.array_contains(F.split(F.expr(
            "trim(regexp_replace(lower(text), '\\\\s+', ' '))"), " "), t)
            .cast("int") for t in _BLOCKLIST), F.lit(0)).alias("nb"),
    ).collect()
    clean = {r["doc_id"] for r in docs if r["nb"] == 0}
    assert rows[2]["n_docs"] == len(canon)
    assert rows[3]["n_docs"] == len(canon & keep)
    assert rows[4]["n_docs"] == len(canon & keep & clean)


def test_bigram_logprob_negative_and_counts_match(spark, sf_dir):
    """tx16: one score per multi-token document, n_bigrams = n_tokens - 1
    (every adjacent pair scores), every mean log-probability negative."""
    from impala_workload_analyzer_spark.pipeline.text import (
        bigram_logprob,
        token_stats,
    )

    ntok = {r["doc_id"]: r["n_tokens"] for r in token_stats(spark, sf_dir).collect()}
    rows = bigram_logprob(spark, sf_dir).collect()
    assert len(rows) == sum(1 for n in ntok.values() if n >= 2)
    for r in rows:
        assert r["n_bigrams"] == ntok[r["doc_id"]] - 1
        assert r["avg_logprob"] < 0


def test_pq_assign_codes_valid_and_codebook_exact(spark, sf_dir):
    """sim11: every PQ code is _PQ_SUBS ids in [0, _PQ_CODES); the
    codebook's own sample vectors reconstruct exactly (mse = 0, code i
    in every subspace); every other vector has non-negative mse."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.similarity import (
        _PQ_CODES,
        _PQ_SUBS,
        pq_assign,
    )

    rows = pq_assign(spark, sf_dir).collect()
    assert len(rows) == load_table(spark, sf_dir, "embeddings").count()
    for r in rows:
        parts = [int(p) for p in r["pq_code"].split("-")]
        assert len(parts) == _PQ_SUBS
        assert all(0 <= p < _PQ_CODES for p in parts)
        assert r["mse"] >= 0.0
        if r["vec_id"] < _PQ_CODES:
            assert r["mse"] == 0.0
            assert parts == [r["vec_id"]] * _PQ_SUBS


def test_multimodal_packing_budget_and_coverage(spark, sf_dir):
    """mm4: every sample lands in exactly one bin; bins never exceed the
    budget except a single-sample oversize bin; the modality split sums
    to at least the capped total (caps only ever shrink n_tokens)."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.multimodal import (
        _MM_PACK_BUDGET,
        multimodal_packing,
    )

    rows = multimodal_packing(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_samples"] for r in rows) == n_docs
    for r in rows:
        assert r["n_samples"] >= 1
        assert r["text_tokens"] + r["image_tokens"] >= r["total_tokens"]
        if r["n_samples"] > 1:
            # multi-sample bins respect the budget up to the one sample
            # whose cumsum crosses the boundary (chunked-greedy rule)
            assert r["total_tokens"] < 2 * _MM_PACK_BUDGET


def test_cms_never_underestimates(spark, sf_dir):
    """ev17: the Count-Min estimate is one-sided — estimate >= true count
    for every reported key, and exact-equal keys dominate at small scale
    (few collisions in a 4x256 sketch over a small key space)."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        cms_heavy_hitters,
    )

    rows = cms_heavy_hitters(spark, sf_dir).collect()
    assert rows, "expected top heavy hitters"
    for r in rows:
        assert r["cms_estimate"] >= r["true_count"]
        assert r["overestimate"] == r["cms_estimate"] - r["true_count"]


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """dd11: a Bloom filter can only over-approximate — zero misses,
    bloom_positive = true dups + false positives, and the realized FPR
    stays within an order of magnitude of the theoretical (tiny-sample
    slack). dd11 itself joins ONLY bloom-positives against the index, so
    the dup counts are re-derived here from the unscreened full join —
    equality proves no true dup ever landed in the negative branch."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.dedup import (
        _INCR_SPLIT,
        _SPARK_H,
        bloom_prefilter,
    )

    rows = bloom_prefilter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["bloom_misses"] == 0
        assert r["bloom_positive"] == r["n_dup"] + r["false_positives"]
        assert r["n_dup"] + r["false_positives"] <= r["n_new"]

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    tagged = docs.select(
        "doc_id", "source", F.md5("text").alias("digest"), bucket.alias("bucket")
    )
    seen = tagged.filter(F.col("bucket") < _INCR_SPLIT).select("digest").distinct()
    full = {
        r["source"]: r["dups"]
        for r in tagged.filter(F.col("bucket") >= _INCR_SPLIT)
        .join(seen.withColumn("hit", F.lit(1)), "digest", "left")
        .groupBy("source")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("dups"))
        .collect()
    }
    assert {r["source"]: r["n_dup"] for r in rows} == full


def test_plan_fingerprints_partition_workload(spark, sf_dir):
    """pt4: fingerprints partition the workload — group populations sum
    to the number of profiled queries, and every group's n_ops is
    positive (a fingerprint of an empty plan cannot exist)."""
    from impala_workload_analyzer_spark.corpus import corpus_operators
    from impala_workload_analyzer_spark.plans.draw_plan import plan_fingerprints

    rows = plan_fingerprints(spark, sf_dir).collect()
    total = corpus_operators(spark, sf_dir).select("query_id").distinct().count()
    assert sum(r["n_queries"] for r in rows) == total
    assert len({r["fingerprint"] for r in rows}) == len(rows)
    assert all(r["n_ops"] > 0 for r in rows)


def test_streaming_cms_equals_batch_sketch(spark, sf_dir):
    """st8: the streaming-maintained CMS must equal the batch build cell
    for cell, and its cell count respects the D x W state bound."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _CMS_D,
        _CMS_W,
        cms_buckets,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_cms,
    )
    from pyspark.sql import functions as F

    stream = {(r["hash_row"], r["bucket"]): r["c"]
              for r in streaming_cms(spark, sf_dir).collect()}
    assert len(stream) <= _CMS_D * _CMS_W
    ev = load_table(spark, sf_dir, "events")
    buckets = cms_buckets()
    batch = {
        (r["hash_row"], r["bucket"]): r["c"]
        for r in ev.select(F.posexplode(buckets).alias("hash_row", "bucket"))
        .groupBy("hash_row", "bucket").agg(F.count("*").alias("c")).collect()
    }
    assert stream == batch


def test_winnow_neardup_scores_are_exact_jaccard(spark, sf_dir):
    """dd12: winnowing trades recall, never scores — every reported pair's
    jaccard must equal an UNCAPPED exact-Jaccard recomputation on the full
    shingle sets, and clear the threshold. (Not asserted as a subset of
    dd2: dd2 prunes candidate shingles at DF > _SHINGLE_DF_CAP while dd12
    caps fingerprint DF at _WINNOW_DF_CAP, so a pair whose shared shingles
    are all document-hot can legitimately appear in dd12 only.)"""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.pipeline.dedup import (
        _JACCARD_THRESHOLD,
        _shingles_df,
        _verify_jaccard,
        winnow_neardup_pairs,
    )

    winnow = winnow_neardup_pairs(spark, sf_dir).collect()
    assert winnow, "expected near-dup pairs at this SF"
    cands = spark.createDataFrame(
        [(r["doc_a"], r["doc_b"]) for r in winnow], "doc_a long, doc_b long"
    )
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _verify_jaccard(cands, _shingles_df(spark, sf_dir))
        .select("doc_a", "doc_b", F.round("jaccard", 9).alias("jaccard"))
        .collect()
    }
    for r in winnow:
        assert r["jaccard"] == exact[(r["doc_a"], r["doc_b"])]
        assert r["jaccard"] >= _JACCARD_THRESHOLD


def test_zipf_spectrum_accounts_all_tokens(spark, sf_dir):
    """tx17: the spectrum partitions the vocabulary — sum(freq*n_terms)
    equals the corpus token count and token shares sum to 1."""
    from impala_workload_analyzer_spark.pipeline.text import (
        token_stats,
        zipf_spectrum,
    )

    rows = zipf_spectrum(spark, sf_dir).collect()
    total = sum(r["n_tokens"] for r in token_stats(spark, sf_dir).collect())
    assert sum(r["freq"] * r["n_terms"] for r in rows) == total
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-6


def test_funnel_latency_consistent_with_funnel(spark, sf_dir):
    """ev18: delays are positive (strict ordering), quantiles are
    monotone p50 <= p90 <= max, and pair populations equal ev10's
    converted-user counts for steps 2 and 3."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        funnel_conversion,
        funnel_latency,
    )

    funnel = {r["step"]: r["n_users"]
              for r in funnel_conversion(spark, sf_dir).collect()}
    rows = {r["step_pair"]: r for r in funnel_latency(spark, sf_dir).collect()}
    assert rows["view->click"]["n_users"] == funnel[2]
    assert rows["click->purchase"]["n_users"] == funnel[3]
    for r in rows.values():
        assert 0 < r["p50_us"] <= r["p90_us"] <= r["max_us"]


def test_funnel_latency_two_phase(spark, sf_dir):
    """ev18 plan contract: step_pair has CONSTANT cardinality, so the
    scale path must NOT sort each pair in one task — the chunked
    two-phase rank must (a) actually split every pair across >1 chunk
    and (b) produce the exact same quantile rollup as the one-window
    exact path."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _funnel_delays,
        _quantile_rollup,
        _ranked_delays,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    delays = _funnel_delays(ev)
    ranked = _ranked_delays(delays, 16)
    per_pair_chunks = {
        r["step_pair"]: r["n_chunks"]
        for r in ranked.groupBy("step_pair")
        .agg(F.countDistinct("chunk").alias("n_chunks"))
        .collect()
    }
    assert per_pair_chunks and all(c > 1 for c in per_pair_chunks.values())

    exact = {r["step_pair"]: (r["n_users"], r["p50_us"], r["p90_us"], r["max_us"])
             for r in _quantile_rollup(_ranked_delays(delays, 1)).collect()}
    two_phase = {r["step_pair"]: (r["n_users"], r["p50_us"], r["p90_us"], r["max_us"])
                 for r in _quantile_rollup(ranked).collect()}
    assert two_phase == exact


def test_funnel_latency_integer_rank(spark):
    """ev18 rank arithmetic: k = ceil(q*n) computed in integers, so for
    n=10 delays p90 is the 9th smallest — double arithmetic would ceil
    10*0.9 = 9.000000000000002 up to rank 10."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _quantile_rollup,
        _ranked_delays,
    )

    delays = spark.createDataFrame(
        [("a->b", f"u{i}", (i + 1) * 100) for i in range(10)],
        "step_pair string, user_id string, delay_us long",
    )
    for chunks in (1, 4):
        row = _quantile_rollup(_ranked_delays(delays, chunks)).collect()[0]
        assert row["n_users"] == 10
        assert row["p50_us"] == 500   # rank (10+1) div 2 = 5
        assert row["p90_us"] == 900   # rank (90+9) div 10 = 9, NOT 10
        assert row["max_us"] == 1000


def test_quantize_recall_near_exact(spark, sf_dir):
    """sim12: int8 reconstruction perturbs cosine by <1%, so recall@k of
    quantized scoring should be high — every query present, recall in
    [0, 1], and the mean well above the LSH/IVF candidate-loss floor."""
    from impala_workload_analyzer_spark.pipeline.similarity import (
        _QUERY_K,
        quantize_recall,
    )
    from impala_workload_analyzer_spark.io import load_table

    rows = quantize_recall(spark, sf_dir).collect()
    n_q = (load_table(spark, sf_dir, "embeddings")
           .filter(f"vec_id < {_QUERY_K}").count())
    assert len(rows) == n_q
    assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in rows)
    assert sum(r["recall_at_k"] for r in rows) / len(rows) >= 0.8


def test_ivfpq_adc_equals_reconstructed_l2(spark, sf_dir):
    """sim13: structure (k ranked rows per query, distances non-negative
    and non-decreasing in rank) plus the ADC identity — the summed
    lookup-table distance must equal L2² between the query and the
    candidate's PQ-RECONSTRUCTED vector (codewords concatenated), within
    the 6-dp per-term rounding. That identity is what makes ADC a
    float-free scoring path rather than an unrelated heuristic."""
    import math

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.similarity import (
        _PQ_CODES,
        _PQ_SUBDIM,
        _PQ_SUBS,
        _TOP_K,
        ivfpq_topk,
    )

    rows = ivfpq_topk(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _TOP_K
        dists = [r["adc_dist"] for r in rs]
        assert all(d >= 0 for d in dists)
        assert dists == sorted(dists)

    vecs = {r["vec_id"]: list(r["embedding"])
            for r in load_table(spark, sf_dir, "embeddings").collect()}
    cb = {
        (s, cid): vecs[cid][s * _PQ_SUBDIM:(s + 1) * _PQ_SUBDIM]
        for cid in range(_PQ_CODES) for s in range(_PQ_SUBS)
    }

    def code_of(vid, s):
        sub = vecs[vid][s * _PQ_SUBDIM:(s + 1) * _PQ_SUBDIM]
        best = min(
            (round(sum((float(a) - float(b)) ** 2 for a, b in zip(sub, cb[(s, c)])), 9), c)
            for c in range(_PQ_CODES)
        )
        return best[1]

    some_q = sorted(by_q)[0]
    for r in by_q[some_q]:
        recon_d = 0.0
        for s in range(_PQ_SUBS):
            cw = cb[(s, code_of(r["neighbor_id"], s))]
            qsub = vecs[some_q][s * _PQ_SUBDIM:(s + 1) * _PQ_SUBDIM]
            recon_d += round(
                sum((float(a) - float(b)) ** 2 for a, b in zip(qsub, cw)), 6
            )
        assert math.isclose(r["adc_dist"], round(recon_d, 6), abs_tol=1e-5)


def test_streaming_kmv_bounded_and_estimator_consistent(spark, sf_dir):
    """st9: at most k state rows per event_type, ranks dense from 1,
    hashes strictly increasing — and the k-th smallest hash must
    reproduce ev14's KMV estimate exactly (same sketch, two engines)."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _KMV_K,
        kmv_distinct,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_kmv,
    )

    by_type = {}
    for r in streaming_kmv(spark, sf_dir).collect():
        by_type.setdefault(r["event_type"], []).append((r["rk"], r["h"]))
    assert by_type
    for t, pairs in by_type.items():
        pairs.sort()
        assert len(pairs) <= _KMV_K
        assert [rk for rk, _ in pairs] == list(range(1, len(pairs) + 1))
        hs = [h for _, h in pairs]
        assert hs == sorted(set(hs))

    for r in kmv_distinct(spark, sf_dir).collect():
        pairs = by_type[r["event_type"]]
        if r["n_distinct"] > _KMV_K:
            hk = pairs[_KMV_K - 1][1]
            assert abs((_KMV_K - 1) * 2.0**60 / hk - r["kmv_estimate"]) < 1e-4


def test_component_keep_best_picks_max_quality(spark, sf_dir):
    """dd13: exactly one kept doc per component, and it attains the
    component's max quality (doc_id tie-break); membership equals dd8."""
    from impala_workload_analyzer_spark.pipeline.dedup import (
        component_keep_best,
        neardup_components,
    )

    rows = component_keep_best(spark, sf_dir).collect()
    comp8 = {r["doc_id"]: r["component_id"]
             for r in neardup_components(spark, sf_dir).collect()}
    assert {r["doc_id"]: r["component_id"] for r in rows} == comp8
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component_id"], []).append(r)
    for cid, members in by_comp.items():
        assert len(members) == members[0]["n_members"]
        kept = [m for m in members if m["kept"]]
        assert len(kept) == 1
        best_q = max(m["quality"] for m in members)
        assert kept[0]["quality"] == best_q
        ties = [m["doc_id"] for m in members if m["quality"] == best_q]
        assert kept[0]["doc_id"] == min(ties)


def test_event_transitions_rows_and_probs(spark, sf_dir):
    """ev19: per from_type the probabilities sum to 1, and total
    transition count is (events - distinct users) — every user
    contributes exactly (n_events - 1) bigrams."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        event_transitions,
    )

    rows = event_transitions(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n"] for r in rows) == n_events - n_users
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], 0.0)
        by_from[r["from_type"]] += r["prob"]
    for t, p in by_from.items():
        assert abs(p - 1.0) < 1e-6, (t, p)


def test_token_entropy_bounds(spark, sf_dir):
    """tx18: 0 <= H <= log2(n_types) (uniform upper bound), with H = 0
    exactly when the doc repeats one token; every doc present."""
    import math

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import token_entropy

    rows = token_entropy(spark, sf_dir).collect()
    assert len(rows) == load_table(spark, sf_dir, "documents").count()
    for r in rows:
        assert r["n_types"] <= r["n_tokens"]
        assert -1e-9 <= r["entropy_bits"] <= math.log2(r["n_types"]) + 1e-9
        if r["n_types"] == 1:
            assert abs(r["entropy_bits"]) < 1e-9


def test_runtime_drift_partitions_population(spark, sf_dir):
    """a23: early_n + late_n accounts for every query in the group, and
    drift equals the ratio of the reported floor-means."""
    from impala_workload_analyzer_spark.corpus import corpus_queries
    from impala_workload_analyzer_spark.operators.workload_stats import (
        runtime_drift,
    )

    rows = runtime_drift(spark, sf_dir).collect()
    assert rows
    totals = {(r["cluster"], r["sql_type"]): r["cnt"]
              for r in corpus_queries(spark, sf_dir)
              .groupBy("cluster", "sql_type").count()
              .withColumnRenamed("count", "cnt").collect()}
    for r in rows:
        assert r["early_n"] + r["late_n"] == totals[(r["cluster"], r["sql_type"])]
        assert abs(r["drift"] - round(r["late_mean"] / r["early_mean"], 9)) < 1e-9
        assert r["early_mean"] > 0 and r["late_mean"] > 0


def test_containment_catches_what_jaccard_misses(spark, sf_dir):
    """dd14: containment >= Jaccard always (inter/min >= inter/union);
    every reported ratio re-derives from the pair's true shingle sets;
    and a synthetic quote-inclusion pair scores containment 1.0."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.pipeline.dedup import (
        _pair_overlap,
        _rare_shingle_cands,
        _shingles_of,
        containment_pairs,
    )

    rows = containment_pairs(spark, sf_dir).collect()
    assert rows
    for r in rows:
        jac = r["inter"] / (r["sz_a"] + r["sz_b"] - r["inter"])
        assert r["containment"] >= round(jac, 9) - 1e-9
        assert r["containment"] == round(
            r["inter"] / min(r["sz_a"], r["sz_b"]), 9
        )

    # quote inclusion: doc 2 embeds doc 1 verbatim inside unrelated text
    quote = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, quote), (2, "intro words here " + quote + " closing words there")],
        "doc_id long, text string",
    )
    sh = _shingles_of(docs)
    pair = _pair_overlap(_rare_shingle_cands(sh), sh).collect()[0]
    assert pair["inter"] == min(pair["sz_a"], pair["sz_b"])  # containment 1.0


def test_cadence_profile_matches_brute_force(spark, sf_dir):
    """ev20: per-user gap count/mean/cv re-derived in Python from the
    raw events must match exactly (the decimal-sum discipline makes the
    engine value reproducible bit-for-bit)."""
    import math

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _CADENCE_MIN_GAPS,
        cadence_profile,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_micros(ts) AS us", "event_id"
    ).collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append((r["us"], r["event_id"]))
    expect = {}
    for uid, evs in by_user.items():
        evs.sort()
        gaps = [b[0] - a[0] for a, b in zip(evs, evs[1:])]
        if len(gaps) < _CADENCE_MIN_GAPS:
            continue
        n = len(gaps)
        s1, s2 = sum(gaps), sum(g * g for g in gaps)
        mean = s1 / n
        var = max(s2 / n - mean * mean, 0.0)
        expect[uid] = (n, math.floor(s1 / n), round(math.sqrt(var) / mean, 9))
    got = {r["user_id"]: (r["n_gaps"], r["mean_gap_us"], r["cv"])
           for r in cadence_profile(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for uid, (n, mean_floor, cv) in expect.items():
        gn, gm, gcv = got[uid]
        assert (gn, gm) == (n, mean_floor)
        assert abs(gcv - cv) < 1e-9


def test_critical_hotspots_conserve_path_time(spark, sf_dir):
    """pt5: summed hotspot time equals the summed critical-path totals,
    and node counts equal the summed path lengths — the rollup loses
    nothing pt3 found."""
    from impala_workload_analyzer_spark.plans.draw_plan import (
        critical_hotspots,
        critical_path,
    )

    crit = critical_path(spark, sf_dir).collect()
    hot = critical_hotspots(spark, sf_dir).collect()
    assert sum(r["total_time"] for r in hot) == sum(r["total_time"] for r in crit)
    assert sum(r["n_nodes"] for r in hot) == sum(
        len(r["path"].split(">")) for r in crit
    )
    assert all(r["n_queries"] <= len(crit) for r in hot)


def test_dsir_importance_favors_target_domain(spark, sf_dir):
    """tx19: every doc scored once, and target-domain docs average a
    strictly higher log-ratio than the rest — the LM trained on the
    target must recognize its own domain (the DSIR premise)."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import dsir_importance

    rows = dsir_importance(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(rows) == docs.count()
    target = min(r["source"] for r in rows)
    t_scores = [r["avg_log_ratio"] for r in rows if r["source"] == target]
    o_scores = [r["avg_log_ratio"] for r in rows if r["source"] != target]
    assert t_scores and o_scores
    assert sum(t_scores) / len(t_scores) > sum(o_scores) / len(o_scores)


def test_streaming_transitions_equal_batch(spark, sf_dir):
    """st10: the streaming transition matrix (keyed last-event state)
    equals ev19's batch matrix row for row on the finite in-order
    source."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        event_transitions,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_transitions,
    )

    batch = {tuple(r) for r in event_transitions(spark, sf_dir).collect()}
    stream = {tuple(r) for r in streaming_transitions(spark, sf_dir).collect()}
    assert batch == stream


def test_ngram_novelty_bounds_and_universe(spark, sf_dir):
    """tx20: novelty in [0,1], n_unique <= n_shingles, covered docs are
    exactly those with >= 3 words, and summed n_unique equals the count
    of df==1 shingles (the partition identity)."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.pipeline.dedup import (
        _shingles_df,
        ngram_novelty,
    )

    rows = ngram_novelty(spark, sf_dir).collect()
    assert rows
    sh = _shingles_df(spark, sf_dir)
    assert {r["doc_id"] for r in rows} == {
        r["doc_id"] for r in sh.select("doc_id").distinct().collect()
    }
    for r in rows:
        assert 0 <= r["n_unique"] <= r["n_shingles"]
        assert 0.0 <= r["novelty"] <= 1.0
    n_singleton = (
        sh.groupBy("shingle").count().filter(F.col("count") == 1).count()
    )
    assert sum(r["n_unique"] for r in rows) == n_singleton


def test_cost_model_fit_matches_numpy(spark, sf_dir):
    """a24: slope/intercept/r2 per operator name equal a numpy polyfit
    re-derivation on the raw (num_rows, avg_time) pairs."""
    import numpy as np

    from impala_workload_analyzer_spark.corpus import corpus_operators
    from impala_workload_analyzer_spark.operators.workload_stats import (
        cost_model_fit,
    )

    pts: dict[str, list[tuple[int, int]]] = {}
    for r in corpus_operators(spark, sf_dir).select(
        "name", "num_rows", "avg_time"
    ).collect():
        pts.setdefault(r["name"], []).append((r["num_rows"], r["avg_time"]))
    got = {r["name"]: r for r in cost_model_fit(spark, sf_dir).collect()}
    for name, p in pts.items():
        x = np.array([a for a, _ in p], dtype=np.float64)
        y = np.array([b for _, b in p], dtype=np.float64)
        if x.var() == 0 or y.var() == 0:
            assert name not in got
            continue
        slope, intercept = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        g = got[name]
        assert g["n_ops"] == len(p)
        assert abs(g["ns_per_row"] - slope) < max(1e-6, abs(slope) * 1e-6)
        assert abs(g["fixed_ns"] - intercept) < max(1e-3, abs(intercept) * 1e-6)
        assert abs(g["r2"] - r * r) < 1e-6


def test_modality_mixture_partitions_budget(spark, sf_dir):
    """mm5: the three modality shares sum to 1, every modality covers all
    docs, and resample_rate * token_share reproduces target_share."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.multimodal import (
        modality_mixture,
    )

    rows = {r["modality"]: r for r in modality_mixture(spark, sf_dir).collect()}
    assert set(rows) == {"text", "image", "audio"}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert all(r["n_items"] == n_docs for r in rows.values())
    assert abs(sum(r["token_share"] for r in rows.values()) - 1.0) < 1e-6
    assert abs(sum(r["target_share"] for r in rows.values()) - 1.0) < 1e-9
    for r in rows.values():
        assert abs(r["resample_rate"] * r["token_share"] - r["target_share"]) < 1e-6


def test_cell_balanced_two_phase_exact(spark, sf_dir):
    """sim14: the salted two-phase per-cell top-K is row-identical to the
    naive single-window cut, and each cell's ranks are 1..min(cap, size)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    got = similarity.cell_balanced_sample(spark, sf_dir).collect()
    emb = similarity._with_norm(
        similarity.load_table(spark, sf_dir, "embeddings")
    )
    assign = (
        similarity._ivf_scored(emb)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(F.col("c_label").alias("cell"), F.col("score")),
                F.struct(F.col("score"), (-F.col("c_label")).alias("nl")),
            ).alias("best")
        )
        .select("vec_id", "best.cell", F.col("best.score").alias("centrality"))
    )
    w = Window.partitionBy("cell").orderBy(
        F.desc("centrality"), F.asc("vec_id")
    )
    naive = (
        assign.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= similarity._CELL_CAP)
        .select("cell", "rank", "vec_id", "centrality")
        .collect()
    )
    key = lambda r: (r["cell"], r["rank"], r["vec_id"], r["centrality"])
    assert sorted(map(key, got)) == sorted(map(key, naive))
    per_cell = {}
    for r in got:
        per_cell.setdefault(r["cell"], []).append(r["rank"])
    for ranks in per_cell.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= similarity._CELL_CAP


def test_user_concentration_matches_ntile(spark, sf_dir):
    """ev21: histogram-derived deciles reproduce literal NTILE decile sums
    and the Lorenz invariants (shares sum to 1, cum_share monotone)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        user_concentration,
    )

    got = {r["decile"]: r for r in user_concentration(spark, sf_dir).collect()}
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    ntile = (
        per_user.withColumn(
            "decile",
            F.ntile(10).over(Window.orderBy(F.desc("cnt"), F.asc("user_id"))),
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_users"), F.sum("cnt").alias("n_events"))
        .collect()
    )
    for r in ntile:
        g = got[r["decile"]]
        assert g["n_users"] == r["n_users"]
        assert g["n_events"] == r["n_events"]
    assert abs(sum(r["share"] for r in got.values()) - 1.0) < 1e-6
    cum = [got[d]["cum_share"] for d in sorted(got)]
    assert cum == sorted(cum) and abs(cum[-1] - 1.0) < 1e-8


def test_template_runtime_consistent_with_features(spark, sf_dir):
    """q4: template cardinalities and runtime bounds agree with q1's
    per-statement output (sum of n_queries = templated statements; the
    floor mean brackets total/n)."""
    from impala_workload_analyzer_spark.sql_introspect.queries import (
        sql_features,
        template_runtime,
    )

    rows = template_runtime(spark, sf_dir).collect()
    n_templated = (
        sql_features(spark, sf_dir)
        .filter("parameterized_stmt IS NOT NULL")
        .count()
    )
    assert sum(r["n_queries"] for r in rows) == n_templated
    for r in rows:
        assert r["max_runtime"] <= r["total_runtime"]
        assert (
            r["avg_runtime"] * r["n_queries"]
            <= r["total_runtime"]
            < (r["avg_runtime"] + 1) * r["n_queries"]
        )


def test_streaming_bloom_bits_equal_batch_filter(spark, sf_dir):
    """st11: the streamed bit set equals dd11's batch-built filter
    bit-for-bit, and total hash mass is n_seen_docs * K."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.dedup import (
        _BLOOM_K,
        _BLOOM_M,
        _INCR_SPLIT,
        _SPARK_H,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_bloom,
    )

    got = {r["bit"]: r["n_hashes"] for r in streaming_bloom(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    seen = (
        docs.filter(bucket < _INCR_SPLIT)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    batch_bits = set()
    for i in range(_BLOOM_K):
        seeded = "CONCAT('%d:', digest)" % i
        expr = f"CAST({_SPARK_H.format(x=seeded)} % {_BLOOM_M} AS BIGINT)"
        batch_bits |= {
            r["bit"] for r in seen.select(F.expr(expr).alias("bit")).collect()
        }
    assert set(got) == batch_bits
    n_seen_docs = docs.filter(bucket < _INCR_SPLIT).count()
    assert sum(got.values()) == n_seen_docs * _BLOOM_K


def test_ivfpq_rerank_improves_or_matches_adc(spark, sf_dir):
    """sim15: the rerank pool contains sim13's top-k (pool is a superset
    cut of the same ADC ranking), every reranked sim equals the true
    cosine, and rerank recall vs exact top-k is >= sim13's ADC recall."""
    from pyspark.sql import functions as F

    exact = {}
    for r in similarity.brute_force_topk(spark, sf_dir).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    adc = {}
    for r in similarity.ivfpq_topk(spark, sf_dir).collect():
        adc.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rer = {}
    rows = similarity.ivfpq_rerank(spark, sf_dir).collect()
    for r in rows:
        rer.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert 1 <= r["adc_rank"] <= similarity._RERANK_POOL
    emb = {
        r["vec_id"]: r["embedding"]
        for r in similarity.load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return dot / (na * nb)

    for r in rows[:50]:
        assert abs(r["sim"] - cos(emb[r["query_id"]], emb[r["neighbor_id"]])) < 1e-6
    n_adc = sum(len(adc[q] & exact.get(q, set())) for q in adc)
    n_rer = sum(len(rer[q] & exact.get(q, set())) for q in rer)
    assert n_rer >= n_adc


def test_quality_sweep_retention_invariants(spark, sf_dir):
    """tx21: threshold 0 retains everything; retention is monotone
    non-increasing in the threshold; counts agree with a direct per-doc
    recomputation at a mid-grid cutoff."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _with_norm,
        quality_sweep,
    )

    rows = sorted(
        quality_sweep(spark, sf_dir).collect(), key=lambda r: r["threshold"]
    )
    assert len(rows) == 21
    docs = _with_norm(load_table(spark, sf_dir, "documents")).select(
        F.size(F.array_distinct("words")).alias("d"), F.size("words").alias("c")
    ).collect()
    assert rows[0]["docs_retained"] == len(docs)
    assert rows[0]["doc_frac"] == 1.0
    for a, b in zip(rows, rows[1:]):
        assert b["docs_retained"] <= a["docs_retained"]
        assert b["tokens_retained"] <= a["tokens_retained"]
    mid = rows[10]  # threshold 0.5
    expect_docs = sum(1 for r in docs if 20 * r["d"] // r["c"] >= 10)
    expect_toks = sum(r["c"] for r in docs if 20 * r["d"] // r["c"] >= 10)
    assert mid["docs_retained"] == expect_docs
    assert mid["tokens_retained"] == expect_toks


def test_streaming_rate_alerts_subset_of_batch(spark, sf_dir):
    """st12: the live alerts are exactly ev13's batch alerts restricted to
    CLOSED buckets (every type's open final hour excluded), with the
    integer gate agreeing with the float gate at the fixtures."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _RATE_LOOKBACK,
        rate_alerts,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_rate_alerts,
    )

    live = {
        (r["event_type"], r["hour_start"]): r["n_events"]
        for r in streaming_rate_alerts(spark, sf_dir).collect()
    }
    last_hour = {
        r["event_type"]: r["h"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.max(F.unix_timestamp(F.date_trunc("hour", "ts"))).alias("h")
        )
        .collect()
    }
    batch_closed = {
        (r["event_type"], r["hour_start"]): r["n_events"]
        for r in rate_alerts(spark, sf_dir).collect()
        if r["hour_start"] < last_hour[r["event_type"]]
    }
    assert live == batch_closed
    assert _RATE_LOOKBACK == 24


def test_funnel_window_sweep_monotone_and_consistent(spark, sf_dir):
    """ev22: per pair, conversions are monotone non-decreasing in the
    window; the widest window matches a direct delay-count recomputation;
    rates divide the eligible counts."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _ATTR_WINDOWS_H,
        _funnel_delays,
        funnel_window_sweep,
    )

    rows = funnel_window_sweep(spark, sf_dir).collect()
    per_pair = {}
    for r in rows:
        per_pair.setdefault(r["step_pair"], []).append(r)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    delays = {}
    for r in _funnel_delays(ev).collect():
        delays.setdefault(r["step_pair"], []).append(r["delay_us"])
    for pair, rs in per_pair.items():
        rs.sort(key=lambda r: r["window_hours"])
        assert [r["window_hours"] for r in rs] == sorted(_ATTR_WINDOWS_H)
        counts = [r["n_converted"] for r in rs]
        assert counts == sorted(counts)
        for r in rs:
            expect = sum(
                1
                for d in delays.get(pair, [])
                if d <= r["window_hours"] * 3_600_000_000
            )
            assert r["n_converted"] == expect


def test_curated_export_roundtrip_layout(spark, sf_dir):
    """snk1: the export writes one file per (lang, source) partition,
    the read-back rows equal the kept set exactly (ids and text), and
    files are doc_id-sorted within partitions."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.cache_util import cache_dir
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        curated_export,
        quality_score,
    )

    manifest = curated_export(spark, sf_dir).collect()
    assert manifest and all(r["n_files"] == 1 for r in manifest)
    out = cache_dir("export", sf_dir)
    back = spark.read.parquet(out)
    kept_ids = {
        r["doc_id"]
        for r in quality_score(spark, sf_dir).filter("keep").collect()
    }
    got = back.select("doc_id", "lang", "source", "text").collect()
    assert {r["doc_id"] for r in got} == kept_ids
    src = {
        r["doc_id"]: (r["lang"], r["source"], r["text"])
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in got:
        assert (r["lang"], r["source"], r["text"]) == src[r["doc_id"]]
    per_file = (
        back.withColumn("f", F.input_file_name())
        .select("f", "doc_id")
        .collect()
    )
    by_file = {}
    for r in per_file:
        by_file.setdefault(r["f"], []).append(r["doc_id"])
    for ids in by_file.values():
        assert ids == sorted(ids)


def test_incremental_export_overwrite_scope(spark, sf_dir):
    """snk2: dynamic overwrite replaces ONLY the partitions the new shard
    touches — touched partitions hold exactly the new-shard kept docs,
    untouched ones exactly the seen kept docs."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.pipeline.dedup import (
        _INCR_SPLIT,
        _SPARK_H,
    )
    from impala_workload_analyzer_spark.pipeline.text import (
        incremental_export,
        quality_score,
    )
    from impala_workload_analyzer_spark.io import load_table

    got = {
        (r["lang"], r["source"]): r["n_rows"]
        for r in incremental_export(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    kept_ids = {
        r["doc_id"]
        for r in quality_score(spark, sf_dir).filter("keep").collect()
    }
    rows = docs.withColumn(
        "bucket", F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    ).select("doc_id", "lang", "source", "bucket").collect()
    seen, new = {}, {}
    for r in rows:
        if r["doc_id"] not in kept_ids:
            continue
        part = (r["lang"], r["source"])
        (new if r["bucket"] >= _INCR_SPLIT else seen).setdefault(part, 0)
        if r["bucket"] >= _INCR_SPLIT:
            new[part] += 1
        else:
            seen[part] += 1
    expect = dict(seen)
    expect.update({p: n for p, n in new.items()})  # touched -> new counts
    expect = {p: n for p, n in expect.items() if n > 0}
    assert got == expect


def test_ann_comparison_reproduces_tier_audits(spark, sf_dir):
    """sim16: each tier row reproduces from its own per-query audit, the
    rerank tier's mean recall >= the ADC tier's, and all recalls sit in
    [0, 1]."""
    from pyspark.sql import functions as F

    got = {r["method"]: r for r in similarity.ann_comparison(spark, sf_dir).collect()}
    assert set(got) == {"lsh", "ivf", "int8", "adc", "rerank"}
    audits = {
        "lsh": similarity.lsh_recall(spark, sf_dir),
        "ivf": similarity.ivf_recall(spark, sf_dir),
        "adc": similarity._recall_vs_exact(
            spark, sf_dir, similarity.ivfpq_topk(spark, sf_dir)
        ),
    }
    for name, df in audits.items():
        rows = df.collect()
        r = got[name]
        assert r["n_queries"] == len(rows)
        total = sum(x["n_hits"] for x in rows)
        assert abs(
            r["mean_recall"] - round(total / (len(rows) * similarity._TOP_K), 9)
        ) < 1e-9
        assert r["min_recall"] == min(x["recall_at_k"] for x in rows)
    for r in got.values():
        assert 0.0 <= r["min_recall"] <= r["mean_recall"] <= 1.0
        assert 0.0 <= r["frac_perfect"] <= 1.0
    assert got["rerank"]["mean_recall"] >= got["adc"]["mean_recall"]


def test_filtered_topk_matches_label_restricted_brute_force(spark, sf_dir):
    """sim17: every returned neighbor carries the query's own label, and
    the per-query result equals a python brute-force restricted to that
    label (rounded cosine, vec_id tie-break)."""
    import math

    from impala_workload_analyzer_spark.io import load_table

    emb = {
        r["vec_id"]: (list(r["embedding"]), r["label"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(x) * float(x) for x in b))
        return round(dot / (na * nb), 9)

    got: dict[int, list] = {}
    for r in similarity.filtered_topk(spark, sf_dir).collect():
        got.setdefault(r["query_id"], []).append(r)
    assert got, "expected query rows at this SF"
    for qid, rows in got.items():
        qv, qlabel = emb[qid]
        assert all(r["label"] == qlabel for r in rows)
        cand = sorted(
            (
                (-cos(qv, v), vid)
                for vid, (v, lbl) in emb.items()
                if lbl == qlabel and vid != qid
            ),
        )[: similarity._TOP_K]
        want = [(vid, rank + 1, -negsim) for rank, (negsim, vid) in enumerate(cand)]
        rows.sort(key=lambda r: r["rank"])
        assert [(r["neighbor_id"], r["rank"], r["sim"]) for r in rows] == want


def test_soft_dedup_weights_conserve_component_mass(spark, sf_dir):
    """dd19: one row per document, weight = 1/|component| exactly, and the
    weights of each component sum to one document-equivalent."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.dedup import soft_dedup_weights

    rows = soft_dedup_weights(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == total
    sizes: dict[int, int] = {}
    for r in rows:
        sizes[r["component_id"]] = sizes.get(r["component_id"], 0) + 1
    for r in rows:
        assert r["comp_size"] == sizes[r["component_id"]]
        assert r["weight"] == round(1.0 / r["comp_size"], 9)
    for cid, n in sizes.items():
        mass = sum(r["weight"] for r in rows if r["component_id"] == cid)
        assert abs(mass - 1.0) < 1e-6, (cid, n, mass)


def test_perplexity_buckets_partition_the_corpus(spark, sf_dir):
    """tx22: buckets 1..10 partition every scored document, and the score
    ranges are non-overlapping in bucket order."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import perplexity_buckets

    rows = sorted(
        perplexity_buckets(spark, sf_dir).collect(), key=lambda r: r["bucket"]
    )
    assert [r["bucket"] for r in rows] == list(range(1, 11))
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total
    for a, b in zip(rows, rows[1:]):
        assert a["max_logprob"] <= b["min_logprob"]
        assert a["min_logprob"] <= a["max_logprob"]


def test_rate_cusum_matches_python_scan(spark, sf_dir):
    """ev23: the reset-at-zero CUSUM prefix trick must equal the literal
    python recurrence S_k = max(0, S_{k-1} + z_k) per event type."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import rate_cusum

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "unix_timestamp(date_trunc('hour', ts)) AS h"
    ).collect()
    counts: dict[str, dict[int, int]] = {}
    for r in ev:
        counts.setdefault(r["event_type"], {})
        counts[r["event_type"]][r["h"]] = counts[r["event_type"]].get(r["h"], 0) + 1
    want = {}
    for et, by_h in counts.items():
        hours = sorted(by_h)
        n, tot = len(hours), sum(by_h.values())
        s, best = 0, None
        for h in hours:
            s = max(0, s + by_h[h] * n - tot)
            if best is None or s > best[1]:
                best = (h, s)
        want[et] = (best[0], best[1], n)
    got = {
        r["event_type"]: (r["peak_hour"], r["peak_cusum"], r["n_hours"])
        for r in rate_cusum(spark, sf_dir).collect()
    }
    assert got == want


def test_frame_fp_neardup_scores_are_exact_chunk_containment(spark, sf_dir):
    """mm6: every reported pair's containment must equal an exact python
    CDC recomputation (same boundary rule, chunk hashing, distinct sets),
    and clear both thresholds."""
    import hashlib

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.multimodal import (
        _MM6_BOUNDARY,
        _MM6_MIN_SHARED,
        _MM6_TAU,
        frame_fp_neardup,
    )

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def chunks(text: str) -> set[int]:
        words = text.strip().split()
        out, cur = [], []
        for w in words:
            if h(w) % _MM6_BOUNDARY == 0 and cur:
                out.append(" ".join(cur))
                cur = []
            cur.append(w)
        if cur:
            out.append(" ".join(cur))
        return {h(c) for c in out}

    docs = {
        r["doc_id"]: chunks(r["text"])
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in frame_fp_neardup(spark, sf_dir).collect():
        a, b = docs[r["media_a"]], docs[r["media_b"]]
        shared = len(a & b)
        assert r["shared_chunks"] == shared
        assert (r["n_chunks_a"], r["n_chunks_b"]) == (len(a), len(b))
        assert r["containment"] == round(shared / min(len(a), len(b)), 9)
        assert r["containment"] >= _MM6_TAU and shared >= _MM6_MIN_SHARED


def test_tail_latency_attribution_threshold_and_tail(spark, sf_dir):
    """w6: per cluster, the cutoff is the exact integer-rank p90 runtime,
    n_tail counts the at-or-above set, and the top operator is the argmax
    of summed avg_time over that set."""
    from impala_workload_analyzer_spark.corpus import (
        corpus_operators,
        corpus_queries,
    )
    from impala_workload_analyzer_spark.operators.workload_stats import (
        STMT_TYPES,
        _TAIL_P,
        tail_latency_attribution,
    )

    q = [
        r
        for r in corpus_queries(spark, sf_dir).collect()
        if r["tag"] == "tpch" and r["sql_type"] in STMT_TYPES
        and r["runtime"] is not None
    ]
    by_cluster: dict[str, list] = {}
    for r in q:
        by_cluster.setdefault(r["cluster"], []).append(r)
    op_time: dict[str, dict[str, int]] = {}
    for o in corpus_operators(spark, sf_dir).collect():
        op_time.setdefault(o["query_id"], {})
        d = op_time[o["query_id"]]
        d[o["name"]] = d.get(o["name"], 0) + o["avg_time"]
    rows = {r["cluster"]: r for r in tail_latency_attribution(spark, sf_dir).collect()}
    assert set(rows) == set(by_cluster)
    for cluster, qs in by_cluster.items():
        runtimes = sorted(x["runtime"] for x in qs)
        thr = runtimes[int(_TAIL_P * (len(runtimes) - 1))]
        tail = [x for x in qs if x["runtime"] >= thr]
        r = rows[cluster]
        assert r["tail_threshold"] == thr
        assert r["n_queries"] == len(qs)
        assert r["n_tail"] == len(tail)
        agg: dict[str, int] = {}
        for x in tail:
            for name, t in op_time.get(x["query_id"], {}).items():
                agg[name] = agg.get(name, 0) + t
        top = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r["top_operator"], r["top_operator_time"]) == top


def test_shape_runtime_drift_matches_python(spark, sf_dir):
    """pt6: per plan-shape cluster means (floor division) and the
    max/min drift ratio must match a python recomputation."""
    import hashlib
    import math

    from impala_workload_analyzer_spark.corpus import (
        corpus_operators,
        corpus_queries,
    )
    from impala_workload_analyzer_spark.plans.draw_plan import shape_runtime_drift

    per_q_ops: dict[str, list] = {}
    for o in corpus_operators(spark, sf_dir).select(
        "query_id", "id", "name", "parent_id"
    ).collect():
        per_q_ops.setdefault(o["query_id"], []).append(o)
    fp = {}
    for qid, ops in per_q_ops.items():
        toks = [
            f"{o['id']}:{o['name']}:{o['parent_id'] if o['parent_id'] is not None else -1}"
            for o in sorted(ops, key=lambda o: o["id"])
        ]
        fp[qid] = hashlib.md5("|".join(toks).encode()).hexdigest()
    per_fc: dict[tuple, list] = {}
    for r in corpus_queries(spark, sf_dir).collect():
        # queries with no plan operators (DDL) have no fingerprint and are
        # dropped by the engine's inner join
        if r["runtime"] is None or r["query_id"] not in fp:
            continue
        per_fc.setdefault((fp[r["query_id"]], r["cluster"]), []).append(r["runtime"])
    means: dict[str, list] = {}
    for (f, _), rts in per_fc.items():
        means.setdefault(f, []).append(
            (int(math.floor(sum(rts) / float(len(rts)))), len(rts))
        )
    want = {}
    for f, ms in means.items():
        if len(ms) < 2:
            continue
        lo = min(m for m, _ in ms)
        hi = max(m for m, _ in ms)
        if lo <= 0:
            continue
        want[f] = (len(ms), sum(n for _, n in ms), lo, hi, round(hi / float(lo), 9))
    got = {
        r["fingerprint"]: (
            r["n_clusters"], r["n_queries"], r["min_mean"], r["max_mean"],
            r["drift_ratio"],
        )
        for r in shape_runtime_drift(spark, sf_dir).collect()
    }
    assert got == want


def test_periodicity_acf_matches_python(spark, sf_dir):
    """ev24: lag-24 Pearson autocorrelation over the zero-filled hourly
    grid must match a python recomputation from the raw events."""
    import math

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _ACF_LAG,
        periodicity_acf,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT) AS h"
    ).collect()
    counts: dict[str, dict[int, int]] = {}
    for r in ev:
        counts.setdefault(r["event_type"], {})
        counts[r["event_type"]][r["h"]] = counts[r["event_type"]].get(r["h"], 0) + 1
    want = {}
    for et, by_h in counts.items():
        h0, h1 = min(by_h), max(by_h)
        series = [by_h.get(h, 0) for h in range(h0, h1 + 3600, 3600)]
        xs = series[:-_ACF_LAG] if len(series) > _ACF_LAG else []
        ys = series[_ACF_LAG:]
        if not xs:
            continue
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        den = math.sqrt(float(n * sxx - sx * sx) * float(n * syy - sy * sy))
        if den <= 0:
            continue
        want[et] = (n, round(float(n * sxy - sx * sy) / den, 9))
    got = {
        r["event_type"]: (r["n_pairs"], r["autocorr_24h"])
        for r in periodicity_acf(spark, sf_dir).collect()
    }
    assert got == want


def test_diverse_topk_respects_quota_and_order(spark, sf_dir):
    """sim18: per query the result is the greedy quota-filtered prefix of
    sim1's full ranking — no label appears more than _DIV_QUOTA times,
    and the selection matches a python replay over all candidates."""
    import math

    from impala_workload_analyzer_spark.io import load_table

    emb = {
        r["vec_id"]: (list(r["embedding"]), r["label"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(x) * float(x) for x in b))
        return round(dot / (na * nb), 9)

    got: dict[int, list] = {}
    for r in similarity.diverse_topk(spark, sf_dir).collect():
        got.setdefault(r["query_id"], []).append(r)
    assert got
    for qid, rows in got.items():
        qv, _ = emb[qid]
        ranked = sorted(
            ((-cos(qv, v), vid, lbl) for vid, (v, lbl) in emb.items() if vid != qid)
        )
        seen: dict[int, int] = {}
        want = []
        for negsim, vid, lbl in ranked:
            if seen.get(lbl, 0) >= similarity._DIV_QUOTA:
                continue
            seen[lbl] = seen.get(lbl, 0) + 1
            want.append((vid, lbl, len(want) + 1, -negsim))
            if len(want) == similarity._TOP_K:
                break
        rows.sort(key=lambda r: r["rank"])
        assert [
            (r["neighbor_id"], r["label"], r["rank"], r["sim"]) for r in rows
        ] == want


def test_cardinality_qerror_matches_python(spark, sf_dir):
    """a26: the per-class mean/max q-error and underestimate fraction
    must match an exact python recomputation (rounded-6 per-row errors,
    exact rational mean)."""
    import math

    from impala_workload_analyzer_spark.corpus import corpus_operators
    from impala_workload_analyzer_spark.operators.workload_stats import (
        cardinality_qerror,
    )

    by_name: dict[str, list] = {}
    for o in corpus_operators(spark, sf_dir).select(
        "name", "num_rows", "est_num_rows"
    ).collect():
        if o["num_rows"] > 0 and o["est_num_rows"] > 0:
            by_name.setdefault(o["name"], []).append(o)
    got = {r["name"]: r for r in cardinality_qerror(spark, sf_dir).collect()}
    assert set(got) == set(by_name)
    for name, ops in by_name.items():
        errs = [
            round(abs(math.log(o["est_num_rows"] / float(o["num_rows"]))), 6)
            for o in ops
        ]
        r = got[name]
        assert r["n_ops"] == len(ops)
        assert abs(r["mean_qerr"] - round(sum(errs) / len(errs), 9)) < 1e-9
        assert r["max_qerr"] == max(errs)
        under = sum(1 for o in ops if o["est_num_rows"] < o["num_rows"])
        assert r["underest_frac"] == round(under / float(len(ops)), 9)


def test_streaming_cusum_matches_python_replay(spark, sf_dir):
    """st13: the streaming closed-bucket CUSUM must equal a literal python
    replay of the recurrence S = max(0, S + c*L - trailing_sum) over the
    in-order hourly buckets (open final bucket never evaluated)."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _RATE_LOOKBACK,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_cusum,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT) AS h"
    ).collect()
    counts: dict[str, dict[int, int]] = {}
    for r in ev:
        counts.setdefault(r["event_type"], {})
        counts[r["event_type"]][r["h"]] = counts[r["event_type"]].get(r["h"], 0) + 1
    want = set()
    for et, by_h in counts.items():
        hours = sorted(by_h)
        hist: list[int] = []
        level = 0
        for h in hours[:-1]:  # the final (open) bucket is never evaluated
            c = by_h[h]
            if len(hist) >= _RATE_LOOKBACK:
                z = c * _RATE_LOOKBACK - sum(hist[-_RATE_LOOKBACK:])
                level = max(0, level + z)
                if level > 0:
                    want.add((et, h, c, level))
            hist = (hist + [c])[-_RATE_LOOKBACK:]
    got = {
        (r["event_type"], r["hour_start"], r["n_events"], r["cusum"])
        for r in streaming_cusum(spark, sf_dir).collect()
    }
    assert got == want


def test_hard_negatives_are_wrong_label_and_exact(spark, sf_dir):
    """sim19: every mined negative carries a label different from the
    query's, and per query the set equals a python brute force restricted
    to wrong-label candidates."""
    import math

    from impala_workload_analyzer_spark.io import load_table

    emb = {
        r["vec_id"]: (list(r["embedding"]), r["label"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(x) * float(x) for x in b))
        return round(dot / (na * nb), 9)

    got: dict[int, list] = {}
    for r in similarity.hard_negatives(spark, sf_dir).collect():
        got.setdefault(r["query_id"], []).append(r)
    assert got
    for qid, rows in got.items():
        qv, qlabel = emb[qid]
        assert all(r["label"] != qlabel for r in rows)
        cand = sorted(
            (-cos(qv, v), vid)
            for vid, (v, lbl) in emb.items()
            if lbl != qlabel and vid != qid
        )[: similarity._TOP_K]
        want = [(vid, rank + 1, -neg) for rank, (neg, vid) in enumerate(cand)]
        rows.sort(key=lambda r: r["rank"])
        assert [(r["neighbor_id"], r["rank"], r["sim"]) for r in rows] == want


def test_training_manifest_conserves_docs_and_weights(spark, sf_dir):
    """tx23: the manifest partitions every document once, raw tokens match
    the corpus, and summed effective tokens equal the per-component
    token-mass average (each component contributes its tokens/size once
    per member)."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.dedup import (
        neardup_components,
        training_manifest,
    )
    from pyspark.sql import functions as F
    from impala_workload_analyzer_spark.pipeline.dedup import _words

    rows = training_manifest(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.expr(_words(True))).cast("bigint").alias("n_tokens")
    ).collect()
    assert sum(r["n_docs"] for r in rows) == len(docs)
    assert sum(r["n_tokens"] for r in rows) == sum(d["n_tokens"] for d in docs)
    comp = {r["doc_id"]: r["component_id"]
            for r in neardup_components(spark, sf_dir).collect()}
    sizes: dict[int, int] = {}
    for cid in comp.values():
        sizes[cid] = sizes.get(cid, 0) + 1
    tok = {d["doc_id"]: d["n_tokens"] for d in docs}
    want_eff = sum(
        round(tok[d] / float(sizes[comp[d]]), 9) for d in comp
    )
    got_eff = sum(r["effective_tokens"] for r in rows)
    assert abs(got_eff - want_eff) < 1e-3


def test_ann_index_export_roundtrip_serves_sim13(spark, sf_dir):
    """snk3: the search served from the persisted index artifacts must be
    row-identical to sim13's live build, and the artifacts must exist on
    disk with the expected schemas."""
    import os

    from impala_workload_analyzer_spark.cache_util import cache_dir

    served = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["adc_dist"])
        for r in similarity.ann_index_export(spark, sf_dir).collect()
    )
    live = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["adc_dist"])
        for r in similarity.ivfpq_topk(spark, sf_dir).collect()
    )
    assert served == live
    out = cache_dir("export", sf_dir, "ann_index")
    assert set(spark.read.parquet(os.path.join(out, "lists")).columns) == {
        "vec_id", "list_id"
    }
    assert set(spark.read.parquet(os.path.join(out, "codes")).columns) == {
        "vec_id", "s", "code"
    }
    assert set(spark.read.parquet(os.path.join(out, "codebook")).columns) == {
        "cs", "cid", "cvec"
    }


def test_memory_reservation_matches_python(spark, sf_dir):
    """a28: per-query totals, per-host floor-div footprint, the admission
    flag, and the deterministic top-operator pick must match an exact
    python recomputation over the corpus."""
    from impala_workload_analyzer_spark.corpus import corpus_operators
    from impala_workload_analyzer_spark.operators.workload_stats import (
        _MEM_LIMIT,
        _filtered_queries,
        memory_reservation,
    )

    hosts = {
        r["query_id"]: r["num_hosts"]
        for r in _filtered_queries(spark, sf_dir).collect()
    }
    by_q: dict[str, list] = {}
    for o in corpus_operators(spark, sf_dir).select(
        "query_id", "id", "name", "peak_mem", "est_peak_mem"
    ).collect():
        by_q.setdefault(o["query_id"], []).append(o)
    got = {r["query_id"]: r for r in memory_reservation(spark, sf_dir).collect()}
    assert set(got) == set(by_q) & set(hosts)
    for qid, r in got.items():
        ops = by_q[qid]
        total = sum(o["peak_mem"] for o in ops)
        assert r["n_ops"] == len(ops)
        assert r["total_peak_mem"] == total
        assert r["total_est_peak_mem"] == sum(o["est_peak_mem"] for o in ops)
        assert r["underest_bytes"] == sum(
            max(o["peak_mem"] - o["est_peak_mem"], 0) for o in ops
        )
        top = min(ops, key=lambda o: (-o["peak_mem"], o["name"], o["id"]))
        assert (r["top_mem_op"], r["top_mem_bytes"]) == (
            top["name"], top["peak_mem"],
        )
        assert r["mem_per_host"] == total // hosts[qid]
        assert r["over_limit"] == (total // hosts[qid] > _MEM_LIMIT)


def test_vocab_growth_matches_python(spark, sf_dir):
    """tx24: the one-pass first-bucket trick must equal the naive
    per-prefix distinct recomputation in python."""
    import math

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _VG_B,
        _with_norm,
        vocab_growth,
    )

    docs = _with_norm(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "words"
    ).collect()
    lo = min(r["doc_id"] for r in docs)
    hi = max(r["doc_id"] for r in docs)
    buckets: dict[int, list] = {}
    for r in docs:
        b = (r["doc_id"] - lo) * _VG_B // (hi - lo + 1)
        buckets.setdefault(b, []).append(r["words"])
    rows = sorted(vocab_growth(spark, sf_dir).collect(), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == sorted(buckets)
    seen: set = set()
    cum_toks = 0
    for r in rows:
        ws = buckets[r["bucket"]]
        n_toks = sum(len(w) for w in ws)
        new = {t for w in ws for t in w} - seen
        assert r["n_docs"] == len(ws)
        assert r["n_tokens"] == n_toks
        assert r["new_types"] == len(new)
        seen |= new
        cum_toks += n_toks
        assert r["cum_tokens"] == cum_toks
        assert r["cum_types"] == len(seen)
        assert r["heaps_beta"] == round(
            math.log(len(seen)) / math.log(cum_toks), 6
        )


def test_shard_manifest_matches_python(spark, sf_dir):
    """tx25: shard assignment, all counts, the doc_id span, and the
    order-proof checksum must match a python md5 recomputation; shards
    must partition the corpus exactly."""
    import hashlib

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _CKSUM_MOD,
        _N_SHARDS,
        _with_norm,
        shard_manifest,
    )
    from pyspark.sql import functions as F

    docs = _with_norm(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.size("words").alias("nt"),
        F.length("norm").alias("nb"),
    ).collect()
    exp: dict[int, dict] = {}
    for r in docs:
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16)
        s = exp.setdefault(h % _N_SHARDS, {
            "n_docs": 0, "n_tokens": 0, "n_bytes": 0, "sources": set(),
            "ids": [], "checksum": 0,
        })
        s["n_docs"] += 1
        s["n_tokens"] += r["nt"]
        s["n_bytes"] += r["nb"]
        s["sources"].add(r["source"])
        s["ids"].append(r["doc_id"])
        s["checksum"] += h % _CKSUM_MOD
    got = {r["shard"]: r for r in shard_manifest(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    assert sum(r["n_docs"] for r in got.values()) == len(docs)
    for shard, e in exp.items():
        g = got[shard]
        assert g["n_docs"] == e["n_docs"]
        assert g["n_tokens"] == e["n_tokens"]
        assert g["n_bytes"] == e["n_bytes"]
        assert g["n_sources"] == len(e["sources"])
        assert g["min_doc_id"] == min(e["ids"])
        assert g["max_doc_id"] == max(e["ids"])
        assert g["checksum"] == e["checksum"]


def test_nprobe_sweep_envelope_and_sim10_point(spark, sf_dir):
    """sim20: recall and scan cost are monotone non-decreasing in nprobe,
    the full-depth point is exactly (recall 1.0, scan frac 1.0), and the
    sweep's point at the live ``_N_PROBE`` equals sim10's measured
    aggregate recall (a probed true neighbor always survives the
    candidate top-k: anything outscoring it is itself a global
    top-k member, and there are fewer than k of those)."""
    rows = sorted(
        similarity.nprobe_sweep(spark, sf_dir).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert b["n_hits"] >= a["n_hits"]
        assert b["avg_scan_frac"] >= a["avg_scan_frac"]
    assert rows[-1]["recall_at_k"] == 1.0
    assert rows[-1]["avg_scan_frac"] == 1.0
    sim10_hits = sum(
        r["n_hits"] for r in similarity.ivf_recall(spark, sf_dir).collect()
    )
    at_live = rows[similarity._N_PROBE - 1]
    assert at_live["n_hits"] == sim10_hits


def test_gap_fill_audit_matches_python(spark, sf_dir):
    """ev25: span, coverage, and the islands-derived outage stats must
    match a python recomputation over the distinct (type, hour) set."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        gap_fill_audit,
    )

    present: dict[str, set] = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h"),
        )
        .distinct()
        .collect()
    ):
        present.setdefault(r["event_type"], set()).add(r["h"])
    got = {r["event_type"]: r for r in gap_fill_audit(spark, sf_dir).collect()}
    assert set(got) == set(present)
    for et, hours in present.items():
        lo, hi = min(hours), max(hours)
        span = (hi - lo) // 3600 + 1
        missing = sorted(
            h for h in range(lo, hi + 3600, 3600) if h not in hours
        )
        runs = []
        for h in missing:
            if runs and h - runs[-1][-1] == 3600:
                runs[-1].append(h)
            else:
                runs.append([h])
        g = got[et]
        assert g["n_hours_span"] == span
        assert g["n_hours_present"] == len(hours)
        assert g["n_missing"] == len(missing)
        assert g["n_gaps"] == len(runs)
        assert g["longest_gap_hours"] == max(
            (len(r) for r in runs), default=0
        )
        assert g["coverage_frac"] == round(len(hours) / span, 9)


def test_source_overlap_matches_python(spark, sf_dir):
    """tx26: every source pair's vocabulary sizes, intersection, and
    Jaccard must match exact python set arithmetic; the matrix must
    cover all C(n,2) pairs."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _with_norm,
        source_overlap,
    )

    vocab: dict[str, set] = {}
    for r in _with_norm(load_table(spark, sf_dir, "documents")).select(
        "source", "words"
    ).collect():
        vocab.setdefault(r["source"], set()).update(r["words"])
    rows = source_overlap(spark, sf_dir).collect()
    n = len(vocab)
    assert len(rows) == n * (n - 1) // 2
    for r in rows:
        a, b = vocab[r["source_a"]], vocab[r["source_b"]]
        assert r["source_a"] < r["source_b"]
        assert r["va"] == len(a)
        assert r["vb"] == len(b)
        assert r["n_common"] == len(a & b)
        assert r["jaccard"] == round(len(a & b) / len(a | b), 9)


def test_streaming_gap_detect_equals_batch_islands(spark, sf_dir):
    """st14: the live resume-driven outage records must aggregate to
    exactly ev25's batch gap audit (same missing-hour totals, same
    outage count, same longest outage — every ev25 gap is interior, so
    the two views see the same windows), and each record's arithmetic
    must be internally consistent."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        gap_fill_audit,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_gap_detect,
    )

    gaps: dict[str, list] = {}
    for r in streaming_gap_detect(spark, sf_dir).collect():
        assert r["gap_end"] - r["gap_start"] == 3600 * r["gap_hours"]
        assert r["gap_hours"] >= 1
        gaps.setdefault(r["event_type"], []).append(r["gap_hours"])
    for b in gap_fill_audit(spark, sf_dir).collect():
        g = gaps.get(b["event_type"], [])
        assert sum(g) == b["n_missing"]
        assert len(g) == b["n_gaps"]
        assert max(g, default=0) == b["longest_gap_hours"]


def test_source_divergence_matches_python(spark, sf_dir):
    """tx27: per-source KL divergence must equal a python recomputation
    (same rounded-term DECIMAL summation), must be >= 0 up to the
    per-term rounding budget, and counts must be exact."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _with_norm,
        source_divergence,
    )

    per_src: dict[str, Counter] = {}
    for r in _with_norm(load_table(spark, sf_dir, "documents")).select(
        "source", "words"
    ).collect():
        per_src.setdefault(r["source"], Counter()).update(r["words"])
    corpus = Counter()
    for c in per_src.values():
        corpus.update(c)
    tc = sum(corpus.values())
    got = {r["source"]: r for r in source_divergence(spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        ts = sum(cnt.values())
        total = Decimal(0)
        for w, cs in cnt.items():
            term = (cs / ts) * math.log((cs / ts) / (corpus[w] / tc))
            total += Decimal(term).quantize(
                Decimal("1e-9"), rounding=ROUND_HALF_UP
            )
        g = got[src]
        assert g["n_distinct"] == len(cnt)
        assert g["n_tokens"] == ts
        assert g["kl_divergence"] == float(total)
        assert g["kl_divergence"] >= -1e-9 * len(cnt)


def test_shard_export_roundtrip_matches_plan_manifest(spark, sf_dir):
    """snk4: the read-back manifest must agree with tx25's plan-side
    manifest on every shard (docs + checksum — the write path preserved
    every row), each shard must be exactly one file, and the files must
    exist on disk under shard= partition dirs."""
    import os

    from impala_workload_analyzer_spark.cache_util import cache_dir
    from impala_workload_analyzer_spark.pipeline.text import (
        shard_export,
        shard_manifest,
    )

    back = {r["shard"]: r for r in shard_export(spark, sf_dir).collect()}
    plan = {r["shard"]: r for r in shard_manifest(spark, sf_dir).collect()}
    assert set(back) == set(plan)
    for shard, b in back.items():
        assert b["n_files"] == 1
        assert b["n_docs"] == plan[shard]["n_docs"]
        assert b["checksum"] == plan[shard]["checksum"]
    out = cache_dir("export", sf_dir, "shards")
    dirs = {d for d in os.listdir(out) if d.startswith("shard=")}
    assert len(dirs) == len(back)


def test_streaming_shard_manifest_equals_batch(spark, sf_dir):
    """st15: end-of-stream shard state must equal tx25's batch manifest
    on the shared columns (counts, checksum, doc_id span) — the
    associativity witness that micro-batch boundaries cannot move the
    manifest."""
    from impala_workload_analyzer_spark.pipeline.text import shard_manifest
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_shard_manifest,
    )

    live = {
        r["shard"]: (r["n_docs"], r["checksum"], r["min_doc_id"], r["max_doc_id"])
        for r in streaming_shard_manifest(spark, sf_dir).collect()
    }
    batch = {
        r["shard"]: (r["n_docs"], r["checksum"], r["min_doc_id"], r["max_doc_id"])
        for r in shard_manifest(spark, sf_dir).collect()
    }
    assert live == batch


def test_recall_at_k_curve_consistent_with_sim10(spark, sf_dir):
    """sim21: n_hits is non-decreasing in j, and the j=k point must
    equal sim10's aggregate recall (both count exactly the probed true
    top-k neighbors at the live _N_PROBE)."""
    rows = sorted(
        similarity.recall_at_k_curve(spark, sf_dir).collect(),
        key=lambda r: r["j"],
    )
    assert [r["j"] for r in rows] == list(range(1, similarity._TOP_K + 1))
    for a, b in zip(rows, rows[1:]):
        assert b["n_hits"] >= a["n_hits"]
    sim10_hits = sum(
        r["n_hits"] for r in similarity.ivf_recall(spark, sf_dir).collect()
    )
    assert rows[-1]["n_hits"] == sim10_hits
    assert rows[-1]["recall_at_j"] == round(
        sim10_hits / (rows[-1]["n_queries"] * similarity._TOP_K), 9
    )


def test_bpe_merge_candidates_match_python(spark, sf_dir):
    """tx28: the top-K pair counts must equal a literal python BPE
    pair-count over the normalized token stream (all occurrences, not
    distinct words), with the deterministic (count desc, pair asc)
    rank."""
    from collections import Counter

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _BPE_TOP,
        _with_norm,
        bpe_merge_candidates,
    )

    cnt: Counter = Counter()
    for r in _with_norm(load_table(spark, sf_dir, "documents")).select(
        "words"
    ).collect():
        for w in r["words"]:
            for i in range(len(w) - 1):
                cnt[w[i : i + 2]] += 1
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_TOP]
    total = sum(cnt.values())
    rows = sorted(
        bpe_merge_candidates(spark, sf_dir).collect(), key=lambda r: r["rank"]
    )
    assert [(r["pair"], r["n_occurrences"]) for r in rows] == want
    assert [r["rank"] for r in rows] == list(range(1, len(want) + 1))
    for r in rows:
        assert r["pair_share"] == round(r["n_occurrences"] / total, 9)


def test_session_survival_curve_is_monotone_and_anchored(spark, sf_dir):
    """ev27: the ladder is complete, survival counts are non-increasing
    in the threshold, and the t=0 row covers every session (ppm exactly
    1e6); st16's streaming twin obeys the same shape over the
    watermark-finalized subset (never more sessions than batch)."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _EV27_THRESH_MIN,
        session_survival,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_session_survival,
    )

    rows = {r["thr_min"]: r for r in session_survival(spark, sf_dir).collect()}
    assert sorted(rows) == sorted(_EV27_THRESH_MIN)
    assert rows[0]["n_sessions_surviving"] == rows[0]["n_sessions_total"]
    assert rows[0]["survival_ppm"] == 1_000_000
    surv = [rows[t]["n_sessions_surviving"] for t in sorted(rows)]
    assert all(b <= a for a, b in zip(surv, surv[1:]))

    st = {r["thr_min"]: r for r in
          streaming_session_survival(spark, sf_dir).collect()}
    assert sorted(st) == sorted(rows)
    assert st[0]["n_sessions_total"] <= rows[0]["n_sessions_total"]


def test_split_leakage_exact_cells_always_publish(spark, sf_dir):
    """tx31: the six exact cells appear even when clean (zero counts are
    the audit verdict), pair counts are consistent with doc counts, and
    every split label is one of tx5's three."""
    from impala_workload_analyzer_spark.pipeline.dedup import split_leakage_audit

    rows = split_leakage_audit(spark, sf_dir).collect()
    exact = [r for r in rows if r["method"] == "exact"]
    assert len(exact) == 6
    assert {(r["split_lo"], r["split_hi"]) for r in exact} == {
        ("test", "test"), ("test", "train"), ("test", "val"),
        ("train", "train"), ("train", "val"), ("val", "val")}
    for r in rows:
        assert r["split_lo"] <= r["split_hi"]
        assert (r["n_pairs"] == 0) == (r["n_docs"] == 0)
        if r["n_pairs"] > 0:
            assert r["n_docs"] >= 2


def test_return_gaps_cdf_is_monotone_and_consistent(spark, sf_dir):
    """ev28: the hour ladder is complete, the CDF (returned counts and
    their gap-time mass) is non-decreasing in the threshold, every gap
    exceeds ev3's 30-min session gap by construction (sub-hour ladder
    rows can never capture a full population silently), and each ppm is
    the exact floor of its own ratio."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _EV28_THRESH_H,
        return_gaps,
    )

    rows = {r["thr_hours"]: r for r in return_gaps(spark, sf_dir).collect()}
    assert sorted(rows) == sorted(_EV28_THRESH_H)
    totals = {r["n_gaps_total"] for r in rows.values()}
    assert len(totals) == 1 and totals.pop() > 0
    ordered = [rows[t] for t in sorted(rows)]
    for a, b in zip(ordered, ordered[1:]):
        assert a["n_returned_within"] <= b["n_returned_within"]
        assert a["gap_us_within_sum"] <= b["gap_us_within_sum"]
    for r in ordered:
        assert 0 <= r["n_returned_within"] <= r["n_gaps_total"]
        assert r["return_ppm"] == (
            r["n_returned_within"] * 1_000_000 // r["n_gaps_total"]
        )


def test_centroid_margin_partitions_and_orders_cells(spark, sf_dir):
    """sim25: every vector lands in exactly one cell (sizes sum to the
    corpus), margins are non-negative with tight <= loose <= all, the
    modal runner is never the cell itself, and ppm/mean figures are
    exact integer arithmetic over the published counts."""
    from impala_workload_analyzer_spark.pipeline.similarity import centroid_margin
    from impala_workload_analyzer_spark.io import load_table

    rows = centroid_margin(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_points"] for r in rows) == n_vecs
    assert len({r["list_id"] for r in rows}) == len(rows)
    for r in rows:
        assert r["margin_nano_min"] >= 0
        assert 0 <= r["n_ambig_tight"] <= r["n_ambig_loose"] <= r["n_points"]
        assert r["top_runner_label"] != r["list_id"]
        assert 1 <= r["n_top_runner"] <= r["n_points"]
        assert r["ambig_ppm"] == r["n_ambig_tight"] * 1_000_000 // r["n_points"]
        assert r["margin_nano_mean"] >= r["margin_nano_min"]


def test_operator_lift_agrees_with_a22_counts(spark, sf_dir):
    """a34: pair counts equal a22's co-occurrence matrix row for row;
    marginals bound the pair counts; confidences and lift reduce to the
    exact integer floors of the published counts."""
    from impala_workload_analyzer_spark.operators.workload_stats import (
        operator_cooccurrence,
        operator_lift,
    )

    lift = {(r["name_a"], r["name_b"]): r
            for r in operator_lift(spark, sf_dir).collect()}
    a22 = {(r["name_a"], r["name_b"]): r["num_queries"]
           for r in operator_cooccurrence(spark, sf_dir).collect()}
    assert set(lift) == set(a22)
    for key, r in lift.items():
        assert r["n_both"] == a22[key]
        assert r["n_both"] <= min(r["n_a"], r["n_b"]) <= r["n_total"]
        assert r["conf_a_to_b_ppm"] == r["n_both"] * 1_000_000 // r["n_a"]
        assert r["conf_b_to_a_ppm"] == r["n_both"] * 1_000_000 // r["n_b"]
        assert r["lift_milli"] == (
            r["n_both"] * r["n_total"] * 1000 // (r["n_a"] * r["n_b"])
        )


def test_streaming_return_gaps_is_a_prefix_of_batch(spark, sf_dir):
    """st17: the finalized-session gap set is a subset of ev28's batch
    gaps (the watermark seals per-user prefixes), so every ladder row is
    bounded by its batch twin and the ladders align row for row."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import return_gaps
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_return_gaps,
    )

    batch = {r["thr_hours"]: r for r in return_gaps(spark, sf_dir).collect()}
    live = {r["thr_hours"]: r
            for r in streaming_return_gaps(spark, sf_dir).collect()}
    assert sorted(live) == sorted(batch)
    for t, r in live.items():
        assert r["n_gaps_total"] <= batch[t]["n_gaps_total"]
        assert r["n_returned_within"] <= batch[t]["n_returned_within"]
        assert r["gap_us_within_sum"] <= batch[t]["gap_us_within_sum"]


def test_compaction_export_conserves_rows_and_time_locality(spark, sf_dir):
    """snk6: the compacted layout loses nothing (row counts conserve),
    honors the one-file-per-partition write contract, and keeps files
    time-local (hour ranges strictly ordered and disjoint within each
    type, file ids densely ordered by time)."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _SNK6_TARGET_ROWS,
        compaction_export,
    )

    rows = compaction_export(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_rows"] for r in rows) == n_events
    by_type: dict = {}
    for r in rows:
        assert r["n_files"] == 1
        assert r["hour_lo"] <= r["hour_hi"]
        assert r["n_chunks"] >= 1 and r["n_rows"] >= r["n_chunks"]
        assert r["fill_ppm"] == r["n_rows"] * 1_000_000 // _SNK6_TARGET_ROWS
        by_type.setdefault(r["event_type"], []).append(r)
    for files in by_type.values():
        files.sort(key=lambda r: r["file_id"])
        for a, b in zip(files, files[1:]):
            assert a["file_id"] < b["file_id"]
            assert a["hour_hi"] < b["hour_lo"]


def test_plan_shape_profile_is_tree_consistent(spark, sf_dir):
    """pt8: every profiled plan is a single rooted tree (edges = nodes
    minus one), leaves and fanout are bounded by the node/edge counts,
    and depth is consistent with node count (a depth-d chain needs d+1
    nodes)."""
    from impala_workload_analyzer_spark.plans.draw_plan import plan_shape_profile

    rows = plan_shape_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_edges"] == r["n_nodes"] - 1
        assert 1 <= r["n_leaves"] <= r["n_nodes"]
        assert 0 < r["max_fanout"] <= r["n_edges"]
        assert r["depth_max"] + 1 <= r["n_nodes"]


def test_weekly_value_drift_baseline_is_zero(spark, sf_dir):
    """ev29: the baseline (first) week drifts exactly zero against
    itself, every TV distance is a valid ppm (0..1e6), event counts
    conserve, and the worst bin sits inside the bin range with its gap
    bounding the mean."""
    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _EV29_BINS,
        weekly_value_drift,
    )

    rows = sorted(weekly_value_drift(spark, sf_dir).collect(),
                  key=lambda r: r["week"])
    assert rows[0]["tv_ppm"] == 0 and rows[0]["max_bin_drift_ppm"] == 0
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == n_events
    for r in rows:
        assert 0 <= r["tv_ppm"] <= 1_000_000
        assert r["max_bin_drift_ppm"] >= r["tv_ppm"] // _EV29_BINS
        assert 0 <= r["top_drift_bin"] < _EV29_BINS


def test_streaming_value_drift_equals_batch(spark, sf_dir):
    """st18: the complete-mode streaming histogram drained over the
    finite source must reproduce ev29's batch drift table row for row —
    the sketch-equals-batch witness (st8's CMS pattern) applied to the
    drift monitor."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        weekly_value_drift,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_value_drift,
    )

    batch = sorted(
        (r["week"], r["n_events"], r["tv_ppm"], r["max_bin_drift_ppm"],
         r["top_drift_bin"])
        for r in weekly_value_drift(spark, sf_dir).collect())
    live = sorted(
        (r["week"], r["n_events"], r["tv_ppm"], r["max_bin_drift_ppm"],
         r["top_drift_bin"])
        for r in streaming_value_drift(spark, sf_dir).collect())
    assert live == batch


def test_frame_budget_is_exact_hamilton_apportionment(spark, sf_dir):
    """mm7: every source's allocation exhausts the budget exactly unless
    its caps bind (then fill < budget and at least one video is capped);
    grants are bounded by per-video frame counts; the ppm fill is the
    exact floor of the published counts."""
    from impala_workload_analyzer_spark.pipeline.multimodal import (
        _MM7_BUDGET,
        frame_budget,
    )

    rows = frame_budget(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["budget"] == _MM7_BUDGET
        # min_alloc == 0 is a legitimate Hamilton outcome (floor quota 0
        # and the remainder misses the extras cutoff) — ADVICE r9: the
        # old `> 0` assert encoded a fixture coincidence, not the
        # contract. The contract is: grants are non-negative and bounded
        # by the per-video frame count (<= 30 by fixture construction).
        assert 0 <= r["min_alloc"] <= r["max_alloc"] <= 30
        assert r["n_alloc"] <= min(r["budget"], r["total_frames"])
        if r["n_alloc"] < min(r["budget"], r["total_frames"]):
            assert r["n_capped_media"] > 0
        if r["total_frames"] >= r["budget"] and r["n_capped_media"] == 0:
            assert r["n_alloc"] == r["budget"]
        assert r["fill_ppm"] == r["n_alloc"] * 1_000_000 // r["budget"]


def test_scan_selectivity_is_anchored_to_each_tables_widest_scan(spark, sf_dir):
    """a35: every table's widest scan reads ppm exactly 1e6 (so
    n_full_scans >= 1 and max selectivity anchors the ratio), bounds
    hold (min <= mean <= 1e6), and the table set equals a4's census."""
    from impala_workload_analyzer_spark.corpus import corpus_operators
    from impala_workload_analyzer_spark.operators.workload_stats import (
        scan_selectivity,
    )
    from pyspark.sql import functions as F

    rows = scan_selectivity(spark, sf_dir).collect()
    tables = {
        r["table_name"]
        for r in corpus_operators(spark, sf_dir)
        .filter(F.col("name") == "SCAN HDFS")
        .select("table_name").distinct().collect()
    }
    assert {r["table_name"] for r in rows} == tables
    for r in rows:
        assert r["n_full_scans"] >= 1
        assert 0 < r["min_sel_ppm"] <= r["mean_sel_ppm"] <= 1_000_000
        assert r["n_scans"] >= r["n_full_scans"]


def test_streaming_exactly_once_export_is_replay_idempotent(spark, sf_dir):
    """snk7: re-delivering a batch_id over the EXISTING export directory
    (the failure-recovery path — foreachBatch is at-least-once, so a
    crash between the write and the checkpoint commit re-runs the same
    batch over its own prior output) leaves the readback byte-identical,
    and the export loses nothing vs the batch table. ADVICE r9: the old
    test re-ran the whole export with a cleared output, which only
    verified determinism of two independent runs."""
    import os

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        _snk7_out,
        _snk7_readback,
        _snk7_write_batch,
        streaming_exactly_once_export,
    )

    first = sorted(map(tuple, streaming_exactly_once_export(spark, sf_dir).collect()))
    assert sum(r[1] for r in first) == load_table(spark, sf_dir, "events").count()

    # true replay: re-deliver every landed batch_id, one at a time, over
    # the pre-existing output (a streaming replay re-reads the same
    # source offsets, so the re-delivered rows equal the landed ones —
    # materialize them first so the overwrite never reads its own target)
    out = _snk7_out(sf_dir)
    batch_dirs = sorted(d for d in os.listdir(out) if d.startswith("batch_id="))
    assert batch_dirs
    for d in batch_dirs:
        bid = int(d.split("=", 1)[1])
        landed = spark.read.parquet(os.path.join(out, d))
        redelivered = spark.createDataFrame(landed.collect(), landed.schema)
        _snk7_write_batch(out)(redelivered, bid)
        replay = sorted(map(tuple, _snk7_readback(spark, out).collect()))
        assert replay == first


def test_text_embedding_agreement_partitions_both_pair_sets(spark, sf_dir):
    """dd25: the tier rows partition the union of dd3's text pairs and
    dd5's embedding pairs — both + text_only = |dd3|, both + embed_only
    = |dd5| — and each score-mass column exists exactly where its side
    does (NULL cosine mass on text_only, NULL jaccard mass on
    embed_only)."""
    from impala_workload_analyzer_spark.pipeline.dedup import minhash_lsh_pairs
    from impala_workload_analyzer_spark.pipeline.similarity import (
        embedding_neardup_pairs,
        text_embedding_dup_agreement,
    )

    rows = {r["tier"]: r for r in
            text_embedding_dup_agreement(spark, sf_dir).collect()}
    assert rows
    n = lambda t: rows[t]["n_pairs"] if t in rows else 0  # noqa: E731
    assert n("both") + n("text_only") == minhash_lsh_pairs(spark, sf_dir).count()
    assert n("both") + n("embed_only") == embedding_neardup_pairs(spark, sf_dir).count()
    if "text_only" in rows:
        assert rows["text_only"]["sum_cosine_micro"] is None
        assert rows["text_only"]["sum_jaccard_micro"] is not None
    if "embed_only" in rows:
        assert rows["embed_only"]["sum_jaccard_micro"] is None
        assert rows["embed_only"]["sum_cosine_micro"] is not None
    if "both" in rows:
        assert rows["both"]["sum_jaccard_micro"] is not None
        assert rows["both"]["sum_cosine_micro"] is not None


def test_decontamination_impact_is_exact_rollup_of_tx8(spark, sf_dir):
    """tx32: the per-source report conserves tx8's train-doc census, its
    flagged counts never exceed the doc counts, removed tokens never
    exceed the totals, and both ppm columns are the exact floors of the
    published integer columns."""
    from impala_workload_analyzer_spark.pipeline.text import (
        benchmark_contamination,
        decontamination_impact,
    )

    rows = decontamination_impact(spark, sf_dir).collect()
    assert rows
    assert sum(r["n_train_docs"] for r in rows) == \
        benchmark_contamination(spark, sf_dir).count()
    for r in rows:
        assert 0 <= r["n_flagged"] <= r["n_train_docs"]
        assert 0 <= r["tokens_removed"] <= r["tokens_total"]
        assert r["flagged_ppm"] == r["n_flagged"] * 1_000_000 // r["n_train_docs"]
        assert r["token_retention_ppm"] == (
            (r["tokens_total"] - r["tokens_removed"]) * 1_000_000
            // r["tokens_total"]
        )


def test_straggler_census_conserves_p5_population(spark, sf_dir):
    """a36: summed per-type straggler counts equal p5's per-instance row
    count (same predicate, same filtered queries), affected-query counts
    are bounded by straggler counts, and the rate is the exact floor
    ppm."""
    from impala_workload_analyzer_spark.operators.workload_stats import (
        operator_skew,
        straggler_census,
    )

    rows = straggler_census(spark, sf_dir).collect()
    assert rows
    # exact per-type cross-check against p5's per-instance rows: counts
    # AND summed diff_time must match a direct recomputation, so a sum
    # that wrongly includes non-straggler diff_time can't hide behind
    # the loose n * max bound (r10 ADVICE)
    skew = operator_skew(spark, sf_dir).collect()
    by_name_n: dict[str, int] = {}
    by_name_sum: dict[str, int] = {}
    for s in skew:
        by_name_n[s["name"]] = by_name_n.get(s["name"], 0) + 1
        by_name_sum[s["name"]] = by_name_sum.get(s["name"], 0) + s["diff_time"]
    assert sum(r["n_stragglers"] for r in rows) == len(skew)
    for r in rows:
        assert 0 <= r["n_stragglers"] <= r["n_ops"]
        assert r["n_stragglers"] == by_name_n.get(r["name"], 0)
        assert r["straggler_diff_time"] == by_name_sum.get(r["name"], 0)
        assert r["n_queries_affected"] <= r["n_stragglers"]
        assert r["straggler_ppm"] == r["n_stragglers"] * 1_000_000 // r["n_ops"]
        assert r["straggler_diff_time"] <= r["n_stragglers"] * r["max_diff_time"]


def test_dd25_both_tier_fires_on_injected_pairs(spark, sf_dir):
    """dd25's three-way tier logic on constructed pair frames — the
    fixture's signals are disjoint, so the 'both' tier (the headline
    cell) only gets exercised here: overlapping, text-only, and
    embed-only pairs land in the right tiers with the right exact
    micro-mass."""
    from impala_workload_analyzer_spark.pipeline.similarity import _agreement_of

    text = spark.createDataFrame(
        [(1, 2, 0.75), (3, 4, 0.5), (5, 6, 0.999999999)],
        "doc_a long, doc_b long, jaccard double",
    )
    embed = spark.createDataFrame(
        [(1, 2, 0.5), (7, 8, 0.25)],
        "vec_a long, vec_b long, cosine double",
    )
    rows = {r["tier"]: r for r in _agreement_of(text, embed).collect()}
    assert set(rows) == {"both", "text_only", "embed_only"}
    assert rows["both"]["n_pairs"] == 1
    assert rows["both"]["sum_jaccard_micro"] == 750_000
    assert rows["both"]["sum_cosine_micro"] == 500_000
    assert rows["text_only"]["n_pairs"] == 2
    assert rows["text_only"]["sum_jaccard_micro"] == 500_000 + 999_999
    assert rows["text_only"]["sum_cosine_micro"] is None
    assert rows["embed_only"]["n_pairs"] == 1
    assert rows["embed_only"]["sum_cosine_micro"] == 250_000
    assert rows["embed_only"]["sum_jaccard_micro"] is None


def test_ev29_bin_guard_handles_constant_values(spark, sf_dir):
    """The degenerate vmax = vmin range (every event value identical)
    must bin to 0 — not NaN — in the shared expression, and the drift
    rollup over such a corpus is exactly zero for every week."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _EV29_BIN_SQL,
        _drift_from_counts,
    )

    const = spark.createDataFrame(
        [(w, 5.0, 5.0, 5.0) for w in (100, 200)] * 3,
        "week long, v double, vmin double, vmax double",
    )
    binned = const.withColumn("bin", F.expr(_EV29_BIN_SQL))
    assert {r["bin"] for r in binned.collect()} == {0}
    counts = binned.groupBy("week", "bin").agg(
        F.count("*").cast("bigint").alias("n")
    )
    for r in _drift_from_counts(counts).collect():
        assert r["tv_ppm"] == 0 and r["max_bin_drift_ppm"] == 0


def test_ev29_bin_expression_cross_engine_exact(spark, sf_dir):
    """The ONE float expression in ev29/st18 (bin assignment) evaluated
    over 5000 seeded random (v, vmin, vmax) triples — including
    degenerate vmax = vmin, v pinned to either bound, and near-boundary
    values — must agree bin-for-bin between Spark and DuckDB. This is
    the a25 bug class (cross-engine last-bit float disagreement) tested
    at the expression level instead of waiting for a corpus to hit the
    edge."""
    import duckdb
    import numpy as np

    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _EV29_BIN_SQL,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(42)
    lo = rng.uniform(-1e6, 1e6, 5000)
    span = rng.uniform(0, 1e6, 5000)
    frac = rng.uniform(-0.1, 1.1, 5000)  # includes out-of-range clamps
    rows = []
    for i in range(5000):
        vmin, vmax = float(lo[i]), float(lo[i] + span[i])
        v = float(vmin + frac[i] * (vmax - vmin))
        if i % 50 == 0:
            vmax = vmin  # degenerate range
            v = vmin
        elif i % 50 == 1:
            v = vmax  # exact upper bound -> LEAST clamp
        elif i % 50 == 2:
            v = vmin  # exact lower bound -> bin 0
        rows.append((i, v, vmin, vmax))

    sdf = spark.createDataFrame(rows, "i long, v double, vmin double, vmax double")
    got_spark = {
        r["i"]: r["bin"]
        for r in sdf.withColumn("bin", F.expr(_EV29_BIN_SQL)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (i BIGINT, v DOUBLE, vmin DOUBLE, vmax DOUBLE)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    got_duck = dict(con.execute(f"SELECT i, {_EV29_BIN_SQL} FROM t").fetchall())
    assert got_spark == got_duck
    assert all(0 <= b <= 9 for b in got_spark.values())


def test_dd26_variable_length_spans_on_constructed_corpus(spark):
    """dd26's maximal-span semantics on a corpus with known repeats: a
    shared 12-token run yields ONE 12-token span on each side (variable
    length — not 10, not a double-counted 30); two shared runs separated
    by a gap > k stay two spans; within-doc self-repetition counts; docs
    shorter than k are excluded from the population entirely."""
    from impala_workload_analyzer_spark.pipeline.dedup import (
        _repeated_substrings_of,
    )

    shared = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"v{i}" for i in range(10))
    filler = " ".join(f"x{i}" for i in range(15))
    self_rep = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            # two spans in one doc: shared run, >k gap of filler, other run
            (1, "a", f"{shared} {filler} {other}"),
            (2, "b", f"{shared}"),
            (3, "b", f"{other}"),
            # within-doc repetition: the same 10 tokens twice back-to-back
            # merge into one covered 20-token span (windows touch)
            (4, "c", f"{self_rep} {self_rep}"),
            # below k: never in the population
            (5, "d", "too short to window"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {r["source"]: r for r in _repeated_substrings_of(docs, 10).collect()}
    assert set(rows) == {"a", "b", "c"}  # source d has no eligible docs
    a, b, c = rows["a"], rows["b"], rows["c"]
    assert (a["n_spans"], a["covered_tokens"], a["max_span_tokens"]) == (2, 22, 12)
    assert a["n_docs_spanned"] == 1 and a["n_docs"] == 1
    assert a["total_tokens"] == 37
    assert a["covered_ppm"] == 22 * 1_000_000 // 37
    # doc 2 is fully covered (12/12); doc 3 fully covered (10/10)
    assert (b["n_spans"], b["covered_tokens"], b["max_span_tokens"]) == (2, 22, 12)
    assert b["n_docs_spanned"] == 2 and b["total_tokens"] == 22
    assert b["covered_ppm"] == 1_000_000
    # self-repetition: all 11 window starts duplicated?  No — only the
    # repeated alignment: windows at positions 1 and 11 are the identical
    # s0..s9 run; positions in between are distinct rotations occurring
    # once.  Starts {1, 11} gap 10 = k -> touch -> ONE span covering
    # tokens 1..20.
    assert (c["n_spans"], c["covered_tokens"], c["max_span_tokens"]) == (1, 20, 20)
    assert c["covered_ppm"] == 1_000_000


def test_dd26_rollup_is_conserved_on_fixture(spark, sf_dir):
    """dd26 on the real fixture: per-source invariants — coverage never
    exceeds the token population, span counts bound spanned docs, ppm is
    the exact floor, and the eligible-doc population matches a direct
    recount."""
    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.dedup import (
        _DD26_K,
        _words,
        repeated_substrings,
    )

    rows = repeated_substrings(spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents")
    pop = {
        r["source"]: (r["n"], r["t"])
        for r in docs.select("source", F.expr(_words(True)).alias("w"))
        .filter(F.size("w") >= _DD26_K)
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum(F.size("w")).alias("t"))
        .collect()
    }
    assert {r["source"] for r in rows} == set(pop)
    for r in rows:
        assert (r["n_docs"], r["total_tokens"]) == pop[r["source"]]
        assert 0 <= r["n_docs_spanned"] <= r["n_docs"]
        assert r["n_docs_spanned"] <= r["n_spans"]
        assert r["covered_tokens"] <= r["total_tokens"]
        assert r["max_span_tokens"] >= _DD26_K or r["n_spans"] == 0
        assert r["covered_tokens"] >= r["n_spans"] * _DD26_K
        assert r["covered_ppm"] == r["covered_tokens"] * 1_000_000 // r["total_tokens"]


def test_ev30_affinity_on_constructed_sessions(spark):
    """ev30's association arithmetic on a corpus with known sessions:
    three users, gaps chosen so the session structure is {AB}, {AB},
    {A}, {BC} -> n_sessions=4, n_A=3, n_B=3, n_AB=2, and the published
    lift/jaccard are the hand-computed floor divisions. Types never
    co-occurring (A,C) produce NO row."""
    import datetime as dt

    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _GAP_MIN,
        _session_type_affinity_of,
    )

    t0 = dt.datetime(2024, 1, 1)
    gap = dt.timedelta(minutes=_GAP_MIN + 1)
    rows = [
        # user 1: session 1 = {A, B}; session 2 = {A, B} (A twice: distinct)
        (1, t0, 1, "A"), (1, t0 + dt.timedelta(minutes=1), 2, "B"),
        (1, t0 + gap * 2, 3, "A"), (1, t0 + gap * 2 + dt.timedelta(minutes=1), 4, "A"),
        (1, t0 + gap * 2 + dt.timedelta(minutes=2), 5, "B"),
        # user 2: session 1 = {A}
        (2, t0, 6, "A"),
        # user 3: session 1 = {B, C}
        (3, t0, 7, "B"), (3, t0 + dt.timedelta(minutes=1), 8, "C"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    got = {(r["type_a"], r["type_b"]): r
           for r in _session_type_affinity_of(df).collect()}

    assert set(got) == {("A", "B"), ("B", "C")}
    ab = got[("A", "B")]
    assert (ab["n_a"], ab["n_b"], ab["n_both"], ab["n_sessions"]) == (3, 3, 2, 4)
    assert ab["lift_micro"] == 2 * 4 * 1_000_000 // (3 * 3)
    assert ab["jaccard_ppm"] == 2 * 1_000_000 // (3 + 3 - 2)
    bc = got[("B", "C")]
    assert (bc["n_a"], bc["n_b"], bc["n_both"]) == (3, 1, 1)
    assert bc["lift_micro"] == 1 * 4 * 1_000_000 // (3 * 1)
    assert bc["jaccard_ppm"] == 1 * 1_000_000 // 3


def test_ev30_fixture_invariants(spark, sf_dir):
    """ev30 on the real fixture: pairs are canonical (type_a < type_b)
    and unique; n_both <= min(n_a, n_b) <= n_sessions; the integer
    scores reproduce python's floor division from the published counts
    (so the wide-decimal DIV path can't silently drift)."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        session_type_affinity,
    )

    rows = session_type_affinity(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert (r["type_a"], r["type_b"]) not in seen
        seen.add((r["type_a"], r["type_b"]))
        assert 1 <= r["n_both"] <= min(r["n_a"], r["n_b"]) <= r["n_sessions"]
        assert r["lift_micro"] == (
            r["n_both"] * r["n_sessions"] * 1_000_000 // (r["n_a"] * r["n_b"])
        )
        assert r["jaccard_ppm"] == (
            r["n_both"] * 1_000_000 // (r["n_a"] + r["n_b"] - r["n_both"])
        )


def test_st19_is_ev30_over_the_finalized_subset(spark, sf_dir):
    """st19 publishes ev30's affinity table restricted to
    watermark-finalized sessions: every st19 pair exists in ev30 with
    counts no smaller, the canonical-pair and integer-arithmetic
    invariants hold, and n_sessions is at most the batch count."""
    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        session_type_affinity,
    )
    from impala_workload_analyzer_spark.streaming.stream_queries import (
        streaming_type_affinity,
    )

    batch = {(r["type_a"], r["type_b"]): r
             for r in session_type_affinity(spark, sf_dir).collect()}
    rows = streaming_type_affinity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert 1 <= r["n_both"] <= min(r["n_a"], r["n_b"]) <= r["n_sessions"]
        assert r["lift_micro"] == (
            r["n_both"] * r["n_sessions"] * 1_000_000 // (r["n_a"] * r["n_b"])
        )
        b = batch[(r["type_a"], r["type_b"])]
        assert r["n_both"] <= b["n_both"]
        assert r["n_sessions"] <= b["n_sessions"]


def test_sim26_agreement_bounds_and_self_consistency(spark, sf_dir):
    """sim26 invariants on the fixture: per-label query counts sum to
    the batch size; rank-1 agreements never exceed queries; the overlap
    total is bounded by queries x k and the ppm reproduces python's
    floor division; and a query ranked under the SAME metric twice
    agrees with itself (sanity of the two-window construction, checked
    by overlap == k whenever corpus norms are constant — not asserted
    here, only the bounds)."""
    from impala_workload_analyzer_spark.pipeline.similarity import (
        _QUERY_K,
        _TOP_K,
        metric_choice_audit,
    )

    rows = metric_choice_audit(spark, sf_dir).collect()
    assert rows
    assert sum(r["n_queries"] for r in rows) == _QUERY_K
    for r in rows:
        assert 0 <= r["n_rank1_agree"] <= r["n_queries"]
        assert 0 <= r["n_overlap_total"] <= r["n_queries"] * _TOP_K
        assert r["overlap_ppm"] == (
            r["n_overlap_total"] * 1_000_000 // (r["n_queries"] * _TOP_K)
        )


def _dd26_python_reference(corpus, k):
    """Pure-python dd26 over [(doc_id, source, text)] — the semantics
    spelled out independently of Spark: corpus-wide duplicated k-token
    windows, per-doc islands of touching window starts (gap <= k),
    exact disjoint-interval coverage, per-source integer rollup."""
    from collections import Counter, defaultdict

    words = {d: t.lower().split() for d, _, t in corpus}
    eligible = {d for d, w in words.items() if len(w) >= k}
    occ = defaultdict(list)  # doc -> [pos]
    counts = Counter()
    keys = {}
    for d in eligible:
        w = words[d]
        for i in range(len(w) - k + 1):
            key = tuple(w[i:i + k])
            counts[key] += 1
            keys[(d, i + 1)] = key
    for (d, pos), key in keys.items():
        if counts[key] >= 2:
            occ[d].append(pos)
    spans = defaultdict(list)  # doc -> [span_tokens]
    for d, positions in occ.items():
        positions.sort()
        start = prev = positions[0]
        for p in positions[1:]:
            if p - prev > k:
                spans[d].append(prev - start + k)
                start = p
            prev = p
        spans[d].append(prev - start + k)
    out = {}
    srcs = {s for _, s, _ in corpus}
    by_src = {s: [d for d, s2, _ in corpus if s2 == s and d in eligible]
              for s in srcs}
    for s, docs in by_src.items():
        if not docs:
            continue
        n_spans = sum(len(spans[d]) for d in docs)
        covered = sum(sum(spans[d]) for d in docs)
        total = sum(len(words[d]) for d in docs)
        out[s] = {
            "n_docs": len(docs),
            "n_docs_spanned": sum(1 for d in docs if spans[d]),
            "n_spans": n_spans,
            "covered_tokens": covered,
            "max_span_tokens": max(
                (x for d in docs for x in spans[d]), default=0
            ),
            "total_tokens": total,
            "covered_ppm": covered * 1_000_000 // total,
        }
    return out


def test_dd26_matches_python_reference_on_random_corpora(spark):
    """dd26 against an independently-written python reference on seeded
    random corpora drawn from a 6-word vocabulary (dense repeats: the
    adversarial case for island/coverage arithmetic), k=3."""
    import numpy as np

    from impala_workload_analyzer_spark.pipeline.dedup import (
        _repeated_substrings_of,
    )

    rng = np.random.default_rng(7)
    vocab = ["a", "b", "c", "d", "e", "f"]
    for trial in range(3):
        corpus = []
        for d in range(12):
            n = int(rng.integers(2, 30))  # includes below-k docs
            text = " ".join(vocab[i] for i in rng.integers(0, 6, n))
            corpus.append((d, f"s{d % 3}", text))
        docs = spark.createDataFrame(
            corpus, "doc_id long, source string, text string"
        )
        got = {r["source"]: r.asDict()
               for r in _repeated_substrings_of(docs, 3).collect()}
        want = _dd26_python_reference(corpus, 3)
        assert set(got) == set(want), f"trial {trial}"
        for s, w in want.items():
            g = got[s]
            for col, val in w.items():
                assert g[col] == val, f"trial {trial} {s} {col}: {g[col]} != {val}"


def test_ev30_matches_python_reference_on_random_events(spark):
    """ev30 against an independently-written python reference on seeded
    random event streams (5 users, 4 types, gaps straddling the session
    threshold)."""
    import datetime as dt
    from collections import defaultdict

    import numpy as np

    from impala_workload_analyzer_spark.pipeline.events_analytics import (
        _GAP_MIN,
        _session_type_affinity_of,
    )

    rng = np.random.default_rng(11)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(5):
        t = 0
        for _ in range(int(rng.integers(5, 25))):
            t += int(rng.integers(1, 3 * _GAP_MIN)) * 60  # minutes -> s
            eid += 1
            rows.append((u, t0 + dt.timedelta(seconds=t), eid,
                         f"T{int(rng.integers(0, 4))}"))
    # python reference: sessionize by gap, distinct types per session
    sess_types = defaultdict(set)
    by_user = defaultdict(list)
    for u, ts, e, ty in rows:
        by_user[u].append((ts, e, ty))
    for u, evs in by_user.items():
        evs.sort()
        sid = 0
        prev = None
        for ts, e, ty in evs:
            if prev is None or (ts - prev).total_seconds() > _GAP_MIN * 60:
                sid += 1
            sess_types[(u, sid)].add(ty)
            prev = ts
    n_sessions = len(sess_types)
    marg = defaultdict(int)
    pair = defaultdict(int)
    for types in sess_types.values():
        for ty in types:
            marg[ty] += 1
        ts_sorted = sorted(types)
        for i in range(len(ts_sorted)):
            for j in range(i + 1, len(ts_sorted)):
                pair[(ts_sorted[i], ts_sorted[j])] += 1
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    got = {(r["type_a"], r["type_b"]): r
           for r in _session_type_affinity_of(df).collect()}
    assert set(got) == set(pair)
    for (a, b), n_both in pair.items():
        r = got[(a, b)]
        assert (r["n_a"], r["n_b"], r["n_both"], r["n_sessions"]) == (
            marg[a], marg[b], n_both, n_sessions)
        assert r["lift_micro"] == n_both * n_sessions * 1_000_000 // (
            marg[a] * marg[b])
        assert r["jaccard_ppm"] == n_both * 1_000_000 // (
            marg[a] + marg[b] - n_both)


def test_dd27_scurve_on_constructed_spectrum(spark):
    """dd27's S-curve arithmetic on a hand-checkable spectrum: exact
    duplicates (s=1) are caught with probability 1 under EVERY banding;
    a threshold pair (s=0.5) follows the closed-form 1-(1-s^r)^b
    computed with the same squaring chain; expected recall is monotone
    non-increasing as rows-per-band grow (the S-curve steepens); and
    the published ppm reproduces integer division from hits_micro."""
    from impala_workload_analyzer_spark.pipeline.dedup import (
        _DD27_GRID,
        _lsh_curve_of,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (3, 4, 0.5), (5, 6, 0.75)],
        "doc_a long, doc_b long, jaccard double",
    )
    rows = {(r["bands"], r["rows_per_band"]): r
            for r in _lsh_curve_of(pairs).collect()}
    assert set(rows) == set(_DD27_GRID)

    def chain_pow(x, n):
        if n == 1:
            return x
        h = chain_pow(x, n // 2)
        return h * h

    import math

    for (b, r), row in rows.items():
        assert row["n_pairs"] == 3
        expected = 0.0
        weakest = 1.0
        for s in (1.0, 0.5, 0.75):
            p = round(1 - chain_pow(1 - chain_pow(s, r), b), 9)
            expected += p
            weakest = min(weakest, p)
        assert row["expected_hits_micro"] == math.floor(expected * 1_000_000)
        assert row["weakest_pair_hit_micro"] == math.floor(weakest * 1_000_000)
        assert row["expected_recall_ppm"] == row["expected_hits_micro"] // 3
    # the s=1 pair alone guarantees every config catches at least one
    # pair surely; and recall decays with r over this spectrum
    recalls = [rows[(b, r)]["expected_recall_ppm"] for b, r in _DD27_GRID]
    assert all(a >= c for a, c in zip(recalls, recalls[1:]))
    assert rows[(16, 1)]["weakest_pair_hit_micro"] >= 999_984  # 1-(1-.5)^16


def test_dd27_empty_truth_frame_yields_empty_table(spark):
    """An empty truth-pair frame (possible at tiny sf where no pair
    clears dd2's 0.5 threshold) must return an EMPTY design table, not
    five all-NULL rows from n_pairs=0 aggregates — the guard exists so
    the driver gate surfaces the condition instead of hash-comparing
    NULLs (round-11 ADVICE)."""
    from impala_workload_analyzer_spark.pipeline.dedup import _lsh_curve_of

    empty = spark.createDataFrame([], "doc_a long, doc_b long, jaccard double")
    assert _lsh_curve_of(empty).count() == 0


def test_dd27_fixture_bounds(spark, sf_dir):
    """dd27 on the real truth frame: 5 grid rows, probabilities bounded,
    (8,2) — dd3's production config — catches at least as much as any
    steeper config, and every config's expected recall is positive
    (the frame only holds pairs at jaccard >= 0.5)."""
    from impala_workload_analyzer_spark.pipeline.dedup import (
        _DD27_GRID,
        lsh_curve_advisor,
    )

    rows = {(r["bands"], r["rows_per_band"]): r
            for r in lsh_curve_advisor(spark, sf_dir).collect()}
    assert set(rows) == set(_DD27_GRID)
    n = next(iter(rows.values()))["n_pairs"]
    assert n >= 1
    for row in rows.values():
        assert row["n_pairs"] == n
        assert 0 < row["expected_hits_micro"] <= n * 1_000_000
        assert 0 <= row["weakest_pair_hit_micro"] <= 1_000_000
        assert row["expected_recall_ppm"] == row["expected_hits_micro"] // n
    assert (rows[(8, 2)]["expected_recall_ppm"]
            >= rows[(4, 4)]["expected_recall_ppm"])


def test_tx33_k_matches_dd26():
    """tx33's substring-cut window width is a literal (text.py cannot
    import dedup at load time — dedup's oracle builders import text);
    this pin is what keeps the two stages the same operator."""
    from impala_workload_analyzer_spark.pipeline.dedup import _DD26_K
    from impala_workload_analyzer_spark.pipeline.text import _FUNNEL_K

    assert _FUNNEL_K == _DD26_K


def test_dd26_span_merge_is_k_independent_on_constructed_corpus(spark):
    """The production knob is k (Lee et al. use 50; the repo gates at
    10): for a duplicated block of L tokens embedded in unique filler,
    the merged span must be EXACTLY the L-token block for every k <= L —
    larger k shrinks the duplicated-window key set but never changes the
    span-merge semantics. Pins the claim the SCALE.md k-sweep measures."""
    from impala_workload_analyzer_spark.pipeline.dedup import _dup_spans_of
    from pyspark.sql import functions as F

    block = " ".join(f"d{i}" for i in range(60))
    doc1 = " ".join(f"a{i}" for i in range(55)) + f" {block} " + " ".join(
        f"b{i}" for i in range(55))
    doc2 = " ".join(f"c{i}" for i in range(55)) + f" {block} " + " ".join(
        f"e{i}" for i in range(55))
    docs = spark.createDataFrame(
        [(1, "s", doc1), (2, "s", doc2)], "doc_id long, source string, text string"
    )
    words = docs.select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    for k in (10, 25, 50):
        spans = _dup_spans_of(words, k).collect()
        assert len(spans) == 2, k
        assert all(r["span_tokens"] == 60 for r in spans), (k, spans)


def test_tx33_funnel_invariants_on_fixture(spark, sf_dir):
    """tx33 on the real fixture: 8 stages in pipeline order, unit counts
    and token totals monotone non-increasing through the doc stages, ppm
    columns reproduce exact wide-integer floor division, the raw row
    matches a direct corpus recount, and the packing row conserves the
    final survivors' (budget-truncated) tokens in >= ceil(t/budget)
    bins."""
    import math

    from pyspark.sql import functions as F

    from impala_workload_analyzer_spark.io import load_table
    from impala_workload_analyzer_spark.pipeline.text import (
        _FUNNEL_STAGES,
        _PACK_BUDGET,
        curation_funnel,
        _with_norm,
    )

    rows = sorted(
        curation_funnel(spark, sf_dir).collect(), key=lambda r: r["stage"]
    )
    assert [r["stage_name"] for r in rows] == list(_FUNNEL_STAGES) + [
        "sequence_packing"
    ]
    assert [r["unit"] for r in rows] == ["docs"] * 7 + ["sequences"]
    raw = _with_norm(load_table(spark, sf_dir, "documents")).agg(
        F.count("*").alias("d"), F.sum(F.size("words")).alias("t")
    ).collect()[0]
    assert rows[0]["n_units"] == raw["d"] and rows[0]["n_tokens"] == raw["t"]
    for prev, cur in zip(rows[:6], rows[1:7]):
        assert cur["n_units"] <= prev["n_units"]
        assert cur["n_tokens"] <= prev["n_tokens"]
    t1 = rows[0]["n_tokens"]
    for i, r in enumerate(rows):
        tprev = rows[max(i - 1, 0)]["n_tokens"]
        assert r["tokens_ppm_of_raw"] == r["n_tokens"] * 1_000_000 // max(t1, 1)
        assert (r["tokens_ppm_of_prev"]
                == r["n_tokens"] * 1_000_000 // max(tprev, 1))
    pack = rows[7]
    # packing truncates oversize docs, so t8 <= t7; bins hold at most
    # _PACK_BUDGET tokens each, so n_bins >= ceil(t8 / budget)
    assert pack["n_tokens"] <= rows[6]["n_tokens"]
    assert pack["n_units"] >= math.ceil(pack["n_tokens"] / _PACK_BUDGET)


def _tx33_python_reference(corpus):
    """Independent pure-python implementation of the tx33 funnel over
    [(doc_id, source, text)] — every stage recomputed from the public
    definitions (NOT by calling the engine code), so a drift in any
    stage's semantics breaks the comparison."""
    import hashlib
    import re

    from impala_workload_analyzer_spark.pipeline.text import (
        _BLOCKLIST,
        _FUNNEL_K,
        _MIX_DEFAULT,
        _MIX_RATES,
        _PACK_BUDGET,
        _PACK_SHARDS,
    )

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def H(s):
        return int(md5(s)[:15], 16)

    k = _FUNNEL_K
    docs = []
    for doc_id, source, text in corpus:
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        words = norm.split(" ")
        docs.append({"id": doc_id, "src": source, "text": text,
                     "norm": norm, "w": words, "n": len(words)})

    # stage 2: exact dedup (min doc_id per md5 of the RAW text)
    canon = {}
    for d in docs:
        dig = md5(d["text"])
        canon[dig] = min(canon.get(dig, d["id"]), d["id"])
    for d in docs:
        d["p_dedup"] = canon[md5(d["text"])] == d["id"]

    # stage 3: duplicated k-window span census over stage-2 survivors
    occ = {}
    for d in docs:
        if d["p_dedup"] and d["n"] >= k:
            for i in range(d["n"] - k + 1):
                g = md5(" ".join(d["w"][i:i + k]))
                occ[g] = occ.get(g, 0) + 1
    for d in docs:
        covered = 0
        if d["p_dedup"] and d["n"] >= k:
            hits = [i + 1 for i in range(d["n"] - k + 1)
                    if occ[md5(" ".join(d["w"][i:i + k]))] >= 2]
            run = []
            for p in hits:
                if run and p - run[-1] > k:
                    covered += run[-1] - run[0] + k
                    run = []
                run.append(p)
            if run:
                covered += run[-1] - run[0] + k
        d["eff"] = d["n"] - covered
        d["p_sub"] = d["eff"] > 0

    # stage 4: decontamination vs the RAW corpus's test-split shingles
    def shingles(d):
        return {" ".join(d["w"][i:i + 3]) for i in range(d["n"] - 2)} \
            if d["n"] >= 3 else set()

    test_set = set()
    for d in docs:
        if H(str(d["id"])) % 100 >= 90:
            test_set |= shingles(d)
    for d in docs:
        sh = shingles(d)
        d["p_decon"] = (not sh
                        or 2 * len(sh & test_set) < len(sh))

    for d in docs:
        # stage 5: blocklist; stage 6: quality; stage 7: mixture
        d["p_policy"] = not any(t in d["w"] for t in _BLOCKLIST)
        punct = len(re.sub(r"[a-z0-9 ]", "", d["norm"])) / len(d["norm"])
        ttr = len(set(d["w"])) / d["n"]
        d["p_quality"] = d["n"] >= 10 and punct <= 0.2 and ttr >= 0.2
        rate = _MIX_RATES.get(d["src"], _MIX_DEFAULT)
        d["p_mix"] = H("mix:" + str(d["id"])) % 10000 < int(rate * 10000)

    flags = ["p_dedup", "p_sub", "p_decon", "p_policy", "p_quality", "p_mix"]
    dd, tt = [len(docs)], [sum(d["n"] for d in docs)]
    for i in range(1, 7):
        live = [d for d in docs if all(d[f] for f in flags[:i])]
        dd.append(len(live))
        tt.append(sum((d["n"] if i == 1 else d["eff"]) for d in live))

    # stage 8: shard-local greedy packing of the final survivors
    surv = [d for d in docs if all(d[f] for f in flags)]
    bins = {}
    shards = {}
    for d in surv:
        shards.setdefault(H(str(d["id"])) % _PACK_SHARDS, []).append(d)
    t8 = 0
    for shard, ds in shards.items():
        cum = 0
        for d in sorted(ds, key=lambda d: (-min(d["eff"], _PACK_BUDGET),
                                           d["id"])):
            nt = min(d["eff"], _PACK_BUDGET)
            cum += nt
            bins[(shard, (cum - 1) // _PACK_BUDGET)] = True
            t8 += nt
    dd.append(len(bins))
    tt.append(t8)

    names = ["raw", "exact_dedup", "substring_cut", "decontamination",
             "blocklist_policy", "quality_gate", "mixture_sample",
             "sequence_packing"]
    units = ["docs"] * 7 + ["sequences"]
    out = []
    for i in range(8):
        prev = tt[max(i - 1, 0)]
        out.append({
            "stage": i + 1, "stage_name": names[i], "unit": units[i],
            "n_units": dd[i], "n_tokens": tt[i],
            "tokens_ppm_of_raw": tt[i] * 1_000_000 // max(tt[0], 1),
            "tokens_ppm_of_prev": tt[i] * 1_000_000 // max(prev, 1),
        })
    return out


def test_tx33_matches_python_reference_on_random_corpora(spark):
    """tx33 against the independent python reference on seeded random
    corpora engineered to exercise EVERY stage: exact duplicates, shared
    >=k-token blocks (substring cuts), a dense 10-word vocabulary (test-
    split shingle collisions -> decontamination drops), blocklist terms,
    short/punctuation-heavy docs (quality drops), all four mixture-rate
    tiers, and enough survivors to pack multi-bin shards."""
    import numpy as np

    from impala_workload_analyzer_spark.pipeline.text import (
        _curation_funnel_of,
        _with_norm,
    )

    rng = np.random.default_rng(23)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta",
             "eta", "theta", "iota", "kappa"]
    for trial in range(3):
        corpus = []
        texts = []
        block = " ".join(vocab[int(i)] for i in rng.integers(0, 10, 14))
        used = set()
        for _ in range(45):
            doc_id = int(rng.integers(0, 1_000_000))
            while doc_id in used:
                doc_id = int(rng.integers(0, 1_000_000))
            used.add(doc_id)
            src = f"src{int(rng.integers(0, 8))}"
            r = rng.random()
            if r < 0.12 and texts:           # exact duplicate
                text = texts[int(rng.integers(0, len(texts)))]
            else:
                n = int(rng.integers(2, 40))
                toks = [vocab[int(i)] for i in rng.integers(0, 10, n)]
                if r < 0.35:                  # shared >=k block
                    toks = toks[: n // 2] + block.split(" ") + toks[n // 2:]
                if rng.random() < 0.2:        # blocklist hit
                    toks.append("crash")
                text = " ".join(toks)
                if rng.random() < 0.15:       # punctuation-heavy
                    text += " !!!! ???? ;;;;"
            texts.append(text)
            corpus.append((doc_id, src, text))
        df = _with_norm(spark.createDataFrame(
            corpus, "doc_id long, source string, text string"))
        got = sorted((r.asDict() for r in _curation_funnel_of(df).collect()),
                     key=lambda r: r["stage"])
        want = _tx33_python_reference(corpus)
        assert got == want, f"trial {trial}"


def test_dd27_decimal_accumulation_cross_engine_on_dense_spectrum(spark):
    """The round-11 ADVICE flagged dd27's SUM(CAST(p AS DECIMAL(38,9)))
    as the cross-engine risk (width-38 rescaling rules differ between
    engines). The fixture frames are ~1e2 pairs; this drives the SAME
    fixed-squaring-chain SQL over a 20,000-pair adversarial spectrum
    (clusters hugging 1.0, the 0.5 threshold, and the S-curve knee,
    where 9dp roundings and carries concentrate) on BOTH engines and
    asserts the published integer micro/ppm figures are identical."""
    import duckdb
    import numpy as np
    import pandas as pd

    from impala_workload_analyzer_spark.pipeline.dedup import (
        _DD27_GRID,
        _lsh_curve_of,
        _scurve_p_sql,
    )

    rng = np.random.default_rng(31)
    vals = np.concatenate([
        1.0 - rng.random(6000) * 1e-6,          # hugging 1.0
        0.5 + rng.random(6000) * 1e-6,          # hugging the threshold
        0.5 + rng.random(8000) * 0.5,           # across the knee
    ])
    pdf = pd.DataFrame({
        "doc_a": np.arange(len(vals), dtype="int64"),
        "doc_b": np.arange(len(vals), dtype="int64") + 10_000_000,
        "jaccard": np.round(vals, 9),
    })
    got = {(r["bands"], r["rows_per_band"]): r
           for r in _lsh_curve_of(spark.createDataFrame(pdf)).collect()}

    cols = ", ".join(
        f"SUM(CAST({_scurve_p_sql(b, r)} AS DECIMAL(38,9))) AS s_{b}_{r},"
        f" MIN({_scurve_p_sql(b, r)}) AS m_{b}_{r}"
        for b, r in _DD27_GRID
    )
    con = duckdb.connect()
    con.register("pairs", pdf)
    cur = con.execute(
        f"SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, {cols}"
        f" FROM (SELECT jaccard FROM pairs) t"
    )
    names = [d[0] for d in cur.description]
    agg = dict(zip(names, cur.fetchone()))  # DECIMAL sums stay Decimal
    n = int(agg["n_pairs"])
    assert n == len(pdf)
    import decimal
    import math

    for b, r in _DD27_GRID:
        g = got[(b, r)]
        s = agg[f"s_{b}_{r}"]
        assert isinstance(s, decimal.Decimal)  # the width-cap path under test
        want_hits = int((s * 1_000_000).to_integral_value(decimal.ROUND_FLOOR))
        want_weak = math.floor(agg[f"m_{b}_{r}"] * 1_000_000)
        assert g["n_pairs"] == n
        assert g["expected_hits_micro"] == want_hits, (b, r)
        assert g["weakest_pair_hit_micro"] == want_weak, (b, r)
        assert g["expected_recall_ppm"] == want_hits // n, (b, r)
