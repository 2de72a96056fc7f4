"""Invariant tests for the OLAP-style workload rollups (a20/a21/a22)
at sf0.001 — the oracle gate checks exact values; these pin the
structural algebra that must hold for ANY corpus."""

from __future__ import annotations

from impala_workload_analyzer_spark.corpus import corpus_operators, corpus_queries
from impala_workload_analyzer_spark.operators.workload_stats import (
    operator_cooccurrence,
    runtime_deciles,
    workload_cube,
)


def test_cube_marginals_are_consistent(spark, sf_dir):
    """a20: the all-NULL grand-total row equals the corpus count, and each
    single-dimension marginal partitions it exactly."""
    rows = workload_cube(spark, sf_dir).collect()
    total = corpus_queries(spark, sf_dir).count()
    grand = [r for r in rows
             if r["query_type"] is None and r["sql_type"] is None
             and r["cluster"] is None]
    assert len(grand) == 1 and grand[0]["num_queries"] == total
    for dim in ("query_type", "sql_type", "cluster"):
        others = [d for d in ("query_type", "sql_type", "cluster") if d != dim]
        marginal = [r for r in rows
                    if r[dim] is not None and all(r[o] is None for o in others)]
        assert sum(r["num_queries"] for r in marginal) == total
        assert max(r["max_hosts"] for r in marginal) == grand[0]["max_hosts"]


def test_deciles_partition_each_type(spark, sf_dir):
    """a21: per query_type the deciles are 1..10, counts differ by at most
    one, boundaries are ordered, and counts add to the type's total."""
    per_type: dict[str, list] = {}
    for r in runtime_deciles(spark, sf_dir).collect():
        per_type.setdefault(r["query_type"], []).append(r)
    totals = {
        r["query_type"]: r["count"]
        for r in corpus_queries(spark, sf_dir)
        .groupBy("query_type").count().collect()
    }
    assert set(per_type) == set(totals)
    for qt, rows in per_type.items():
        rows.sort(key=lambda r: r["decile"])
        assert [r["decile"] for r in rows] == list(range(1, 11))
        counts = [r["num_queries"] for r in rows]
        assert sum(counts) == totals[qt]
        assert max(counts) - min(counts) <= 1
        for a, b in zip(rows, rows[1:]):
            assert a["hi_runtime"] <= b["lo_runtime"]
            assert a["lo_runtime"] <= a["mean_runtime"] <= a["hi_runtime"]


def test_cooccurrence_bounded_by_individual_presence(spark, sf_dir):
    """a22: pairs are strictly ordered and each pair count is bounded by
    the rarer operator's query presence."""
    presence = {
        r["name"]: r["cnt"]
        for r in corpus_operators(spark, sf_dir)
        .select("query_id", "name").distinct()
        .groupBy("name").count().withColumnRenamed("count", "cnt").collect()
    }
    rows = operator_cooccurrence(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["name_a"] < r["name_b"]
        assert 1 <= r["num_queries"] <= min(
            presence[r["name_a"]], presence[r["name_b"]])


def test_cost_model_outliers_consistent_with_fit(spark, sf_dir):
    """a25: every reported prediction reproduces from a24's published
    coefficients micro-quantized exactly as the engine does it
    (floor(coeff * 1e6) integer micro-ns — IEEE-deterministic, no
    decimal-string rounding), residual = actual - predicted, and the
    report is the true global top-|residual| cut."""
    import math

    from impala_workload_analyzer_spark.corpus.builder import corpus_operators
    from impala_workload_analyzer_spark.operators.workload_stats import (
        _RESID_TOP,
        cost_model_fit,
        cost_model_outliers,
    )

    fit = {
        r["name"]: (
            math.floor(r["ns_per_row"] * 1e6),
            math.floor(r["fixed_ns"] * 1e6),
        )
        for r in cost_model_fit(spark, sf_dir).collect()
    }

    def pred_u(name, num_rows):
        ns_u, fx_u = fit[name]
        return ns_u * num_rows + fx_u  # exact int micro-ns

    rows = cost_model_outliers(spark, sf_dir).collect()
    assert len(rows) == _RESID_TOP
    for r in rows:
        pu = pred_u(r["name"], r["num_rows"])
        ru = r["avg_time"] * 1_000_000 - pu
        assert r["predicted"] == float(pu) / 1e6
        assert r["residual"] == float(ru) / 1e6
    floor_u = min(
        abs(r["avg_time"] * 1_000_000 - pred_u(r["name"], r["num_rows"]))
        for r in rows
    )
    ops = corpus_operators(spark, sf_dir).select(
        "name", "num_rows", "avg_time"
    ).collect()
    bigger = sum(
        1
        for o in ops
        if o["name"] in fit
        and abs(o["avg_time"] * 1_000_000 - pred_u(o["name"], o["num_rows"]))
        > floor_u
    )
    assert bigger <= _RESID_TOP


def test_plan_overhead_quantiles_match_python(spark, sf_dir):
    """w7: the per-cluster p50/p95 of plan-time ppm and scheduling lag
    must equal python integer-rank picks over the same BIGINT metrics."""
    import math

    from impala_workload_analyzer_spark.corpus import corpus_queries
    from impala_workload_analyzer_spark.operators.workload_stats import (
        _W7_QUANTILES,
        plan_overhead_quantiles,
    )

    rows = corpus_queries(spark, sf_dir).collect()
    metrics: dict[tuple, list] = {}
    for r in rows:
        if r["runtime"] is None or r["runtime"] <= 0:
            continue
        ppm = int(math.floor(r["plan_time"] * 1000000 / float(r["runtime"])))
        metrics.setdefault((r["cluster"], "plan_ppm"), []).append(ppm)
        metrics.setdefault((r["cluster"], "sched_lag_ns"), []).append(
            r["fragment_start_time"]
        )
    want = {}
    for (cluster, metric), vals in metrics.items():
        vals.sort()
        for label, p in _W7_QUANTILES:
            want[(cluster, metric, label)] = vals[int(p * (len(vals) - 1))]
    got = {
        (r["cluster"], r["metric"], r["quantile"]): r["value"]
        for r in plan_overhead_quantiles(spark, sf_dir).collect()
    }
    assert got == want


def test_host_load_balance_matches_python(spark, sf_dir):
    """a27: per-cluster host loads recomputed from the raw hosts arrays."""
    from impala_workload_analyzer_spark.corpus import corpus_queries
    from impala_workload_analyzer_spark.operators.workload_stats import (
        host_load_balance,
    )

    loads: dict[str, dict[str, int]] = {}
    for r in corpus_queries(spark, sf_dir).collect():
        for h in r["hosts"]:
            loads.setdefault(r["cluster"], {})
            loads[r["cluster"]][h] = loads[r["cluster"]].get(h, 0) + 1
    got = {r["cluster"]: r for r in host_load_balance(spark, sf_dir).collect()}
    assert set(got) == set(loads)
    for cluster, by_host in loads.items():
        r = got[cluster]
        total = sum(by_host.values())
        assert r["n_hosts"] == len(by_host)
        assert r["n_assignments"] == total
        assert r["max_load"] == max(by_host.values())
        assert r["min_load"] == min(by_host.values())
        assert r["imbalance"] == round(
            max(by_host.values()) * len(by_host) / float(total), 9
        )


def test_metric_histograms_match_reference_binning(spark, sf_dir):
    """plt1: bins and counts must equal the reference's python-2 hist
    recipe (plots.py:23-41) replayed literally over the per-query
    metric lists, including the last-bin-inclusive rule."""
    from impala_workload_analyzer_spark.operators.workload_stats import (
        _A6_METRICS,
        _per_query_metrics,
        metric_histograms,
    )

    rows = _per_query_metrics(spark, sf_dir).collect()
    got: dict[str, list] = {}
    for r in metric_histograms(spark, sf_dir).collect():
        got.setdefault(r["metric"], []).append(r)
    assert set(got) == set(_A6_METRICS)
    for metric in _A6_METRICS:
        data = [r[metric] for r in rows]
        mn, mx = min(data), max(data)
        step = max(1, (mx - mn) // 10)
        stop = max(mn + step * 11, mx + step)
        edges = list(range(mn, stop, step))
        heights = [0] * (len(edges) - 1)
        for v in data:
            heights[min((v - mn) // step, len(heights) - 1)] += 1
        want = [
            (i, edges[i], edges[i] + step, heights[i])
            for i in range(len(heights))
        ]
        bins = sorted(got[metric], key=lambda r: r["bin_idx"])
        assert [
            (r["bin_idx"], r["bin_start"], r["bin_end"], r["n_queries"])
            for r in bins
        ] == want, metric


def test_metric_bars_are_dense_and_exact(spark, sf_dir):
    """plt2: per metric a dense min..max value grid whose counts sum to
    the query population, matching a python tally."""
    from impala_workload_analyzer_spark.operators.workload_stats import (
        _PLT_BAR_METRICS,
        _per_query_metrics,
        metric_bars,
    )

    rows = _per_query_metrics(spark, sf_dir).collect()
    got: dict[str, list] = {}
    for r in metric_bars(spark, sf_dir).collect():
        got.setdefault(r["metric"], []).append(r)
    assert set(got) == set(_PLT_BAR_METRICS)
    for metric in _PLT_BAR_METRICS:
        data = [r[metric] for r in rows]
        mn, mx = min(data), max(data)
        tally = {v: 0 for v in range(mn, mx + 1)}
        for v in data:
            tally[v] += 1
        bars = sorted(got[metric], key=lambda r: r["value"])
        assert [(r["value"], r["n_queries"]) for r in bars] == sorted(tally.items())
        assert sum(r["n_queries"] for r in bars) == len(data)


def test_shuffle_amplification_matches_python(spark, sf_dir):
    """a29: per-query exchange/scan row sums and the guarded ratio must
    match an exact python recomputation (sentinel rows excluded).
    Ratios round HALF_UP — Spark/DuckDB ROUND semantics, not python's
    banker's rounding (the fixture hits an exact .xxx5 dyadic case)."""
    from decimal import ROUND_HALF_UP, Decimal

    from impala_workload_analyzer_spark.corpus import corpus_operators
    from impala_workload_analyzer_spark.operators.workload_stats import (
        shuffle_amplification,
    )

    by_q: dict[str, list] = {}
    for o in corpus_operators(spark, sf_dir).select(
        "query_id", "name", "num_rows"
    ).collect():
        if o["num_rows"] >= 0:
            by_q.setdefault(o["query_id"], []).append(o)
    got = {
        r["query_id"]: r
        for r in shuffle_amplification(spark, sf_dir).collect()
    }
    assert set(got) == set(by_q)
    for qid, ops in by_q.items():
        ex = sum(o["num_rows"] for o in ops if o["name"] == "EXCHANGE")
        sc = sum(o["num_rows"] for o in ops if o["name"].startswith("SCAN"))
        r = got[qid]
        assert r["exchange_rows"] == ex
        assert r["scan_rows"] == sc
        assert r["n_exchanges"] == sum(
            1 for o in ops if o["name"] == "EXCHANGE"
        )
        assert r["n_scans"] == sum(
            1 for o in ops if o["name"].startswith("SCAN")
        )
        if sc > 0:
            want = float(
                Decimal(ex / sc).quantize(
                    Decimal("1e-9"), rounding=ROUND_HALF_UP
                )
            )
            assert r["amplification"] == want
        else:
            assert r["amplification"] is None


def test_capacity_trend_matches_python(spark, sf_dir):
    """a30: per-cluster arrival counts, the zero-filled minute grid, and
    the exact-moment least-squares slope must match a python
    recomputation; a cluster's slope must be NULL only when its span is
    a single minute."""
    from impala_workload_analyzer_spark.corpus import corpus_queries
    from impala_workload_analyzer_spark.operators.workload_stats import (
        capacity_trend,
    )

    per: dict[str, dict[int, int]] = {}
    for r in corpus_queries(spark, sf_dir).select(
        "cluster", "start_time"
    ).collect():
        mins = per.setdefault(r["cluster"], {})
        m = r["start_time"] // 60_000_000
        mins[m] = mins.get(m, 0) + 1
    got = {r["cluster"]: r for r in capacity_trend(spark, sf_dir).collect()}
    assert set(got) == set(per)
    for cl, mins in per.items():
        lo, hi = min(mins), max(mins)
        ys = [mins.get(m, 0) for m in range(lo, hi + 1)]
        xs = list(range(len(ys)))
        b = len(ys)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        g = got[cl]
        assert g["n_buckets"] == b
        assert g["n_queries"] == sy
        assert g["qpm_mean"] == round(sy / b, 9)
        den = b * sxx - sx * sx
        if den > 0:
            assert abs(g["slope_qpm"] - (b * sxy - sx * sy) / den) < 2e-9
        else:
            assert g["slope_qpm"] is None


def test_join_audit_matches_reference_n_plus_1(spark, sf_dir):
    """a9/j2 (r16 unpivot): the one-join child resolution must equal a
    pure-python recompute of the reference's N+1 find_one semantics
    (joins.py:51-65) — per join, resolve left/right child rows by
    (query_id, id); a join with EITHER child unresolvable is out of the
    audit (the double inner join's semantics the unpivot's
    both-sides-matched filter must reproduce); classify with the exact
    cost model and floor-divide the ms rollup."""
    from impala_workload_analyzer_spark.operators.join_audit import (
        join_audit_rollup,
        join_children,
    )

    tpch = {
        r["query_id"]
        for r in corpus_queries(spark, sf_dir).collect()
        if r["tag"] == "tpch"
    }
    ops = corpus_operators(spark, sf_dir).collect()
    by_key = {(o["query_id"], o["id"]): o for o in ops}
    exp_rows = {}
    rollup: dict[str, list[int]] = {}
    for o in ops:
        if o["name"] not in ("HASH JOIN", "CROSS JOIN") or o["query_id"] not in tpch:
            continue
        left = by_key.get((o["query_id"], o["left_child_id"]))
        right = by_key.get((o["query_id"], o["right_child_id"]))
        if left is None or right is None:
            continue
        lb = left["num_rows"] * left["row_size"]
        rb = right["num_rows"] * right["row_size"]
        bcost, pcost = min(lb, rb) * o["num_hosts"], lb + rb
        if bcost == pcost:
            wrong_impl = False
        elif bcost < pcost:
            wrong_impl = o["join_impl"] != "BROADCAST"
        else:
            wrong_impl = o["join_impl"] != "PARTITIONED"
        if wrong_impl:
            cls = "wrong_impl"
        elif o["join_impl"] == "BROADCAST" and lb < rb:
            cls = "wrong_side"
        else:
            cls = "correct"
        exp_rows[(o["query_id"], o["id"])] = (lb, rb, cls)
        agg = rollup.setdefault(cls, [0, 0])
        agg[0] += 1
        agg[1] += o["avg_time"]

    got_rows = {
        (r["query_id"], r["id"]): (r["left_bytes"], r["right_bytes"],
                                   r["classification"])
        for r in join_children(spark, sf_dir).collect()
    }
    assert got_rows == exp_rows
    assert len(got_rows) > 0
    got_rollup = {
        r["classification"]: (r["num_joins"], r["total_time_ms"])
        for r in join_audit_rollup(spark, sf_dir).collect()
    }
    want_rollup = {c: (n, t // 1_000_000) for c, (n, t) in rollup.items()}
    assert got_rollup == want_rollup


def test_join_audit_keeps_null_counter_children(spark):
    """a9/j2 resolution vs NULL counters: a join whose child resolves but
    carries NULL num_rows/row_size stays in the audit with NULL bytes,
    as the oracle's double inner join keeps it; a join with an
    unresolvable child drops out. Spark and the DuckDB oracle agree on a
    hand-built corpus with one of each."""
    import duckdb

    from impala_workload_analyzer_spark.operators.join_audit import (
        _CLASSIFIED,
        _classify,
    )

    ops = [
        ("q1", 1, "HASH JOIN", "BROADCAST", 3, 5_000_000, 2, 3, 1, 64),
        ("q1", 2, "HDFS_SCAN_NODE", None, 3, 1, None, None, None, None),
        ("q1", 3, "HDFS_SCAN_NODE", None, 3, 1, None, None, 10, 8),
        ("q1", 4, "HASH JOIN", "PARTITIONED", 2, 7_000_000, 3, 99, 1, 64),
        ("q1", 5, "HASH JOIN", "PARTITIONED", 2, 9_000_000, 3, 6, 1, 64),
        ("q1", 6, "HDFS_SCAN_NODE", None, 2, 1, None, None, 100, 4),
    ]
    ddl = ("query_id STRING, id BIGINT, name STRING, join_impl STRING, "
           "num_hosts BIGINT, avg_time BIGINT, left_child_id BIGINT, "
           "right_child_id BIGINT, num_rows BIGINT, row_size BIGINT")
    got = {
        (r["query_id"], r["id"], r["left_bytes"], r["right_bytes"],
         r["classification"])
        for r in _classify(
            spark.createDataFrame(ops, ddl),
            spark.createDataFrame([("q1",)], "query_id STRING"),
        ).collect()
    }

    con = duckdb.connect()
    con.execute(f"CREATE TABLE iwa_operators ({ddl.replace('STRING', 'VARCHAR')})")
    con.executemany(
        f"INSERT INTO iwa_operators VALUES ({', '.join('?' * len(ops[0]))})", ops)
    con.execute("CREATE TABLE iwa_queries AS SELECT 'q1' AS query_id, 'tpch' AS tag")
    want = set(con.execute(
        "WITH unused AS (SELECT 1)" + _CLASSIFIED
        + "SELECT query_id, id, left_bytes, right_bytes, classification FROM jc"
    ).fetchall())

    assert got == want
    assert {row[1] for row in got} == {1, 5}  # 4's right child is unresolvable
    assert ("q1", 1, None, 80, "wrong_impl") in got
