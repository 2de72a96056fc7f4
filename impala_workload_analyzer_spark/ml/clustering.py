"""KMeans workload clustering (SURVEY.md §2.10 M1-M3; reference
``clustering.py:14-92``).

Feature vector (F13, ``clustering.py:20-61``): 10 derived numerics per
SELECT/UNION statement — table count, subquery totals and depth,
group/order/limit counts, and the summed predicate / function / select-expr
families. m0 computes them as a Spark projection over q1's landed
statement-feature store (``sql_introspect.queries.feature_table``: each
feature is a BIGINT sum of q1's counter columns), joined with the ingested
queries table's table count — the full EP1 -> EP2 -> EP3 lifecycle, with
every statement parsed once, by q1. m2/m3/m3b read m0.

M1 standardization: ``StandardScaler(withMean=True, withStd=True)``
(``clustering.py:65``). M2 elbow sweep: WCSS from ``summary.trainingCost``;
TSS computed exactly via the variance identity — for mean-centered data
``sum(pdist^2)/n == sum(||x_i||^2)`` — replacing the reference's O(n^2)
``scipy.pdist`` (``clustering.py:73``), which would never survive 100 TB.
M3 final clustering: sizes + per-cluster mean of the UNSCALED features
(``clustering.py:83-92``).

Parity: k sweep 1..69 and final k=10, exactly the reference's ranges
(clustering.py:67,83); the sweep saturates at the corpus's 15 distinct
feature shapes (WCSS hits 0), and the pct-variance curve is pinned
monotone by ``tests/test_pipeline_ops``. sklearn's n_init=20 restarts
map to best-of-20 pinned-seed fits (``_SEEDS``). Raw WCSS and cluster
ids are fit-dependent -> the curve (m2b) and final clustering (m3) are
rows-only for the driver, but both sweeps' CORRECTNESS is oracle-checked:
m2 hashes a per-k boolean certificate (monotone WCSS, %variance in
range and monotone, TSS == d_eff*(n-1) via the z-score identity) and m3b
hashes a per-cluster certificate of the k=10 fit (all clusters populated,
sizes sum to n, per-point nearest-centroid invariant, Lloyd fixed-point
centroid == assigned-mean identity), each asserted literally TRUE by a
DuckDB oracle; the feature extraction itself is fully oracle-checked (m0).

Scale: m0 is a column projection plus a join of two tables bucketed on
query_id (no exchange); KMeans is pyspark.ml's distributed Lloyd
iterations — both shuffle-light. The elbow loop caches the assembled
vectors once.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache_util import session_memo
from ..corpus.corpus_sql import with_corpus
from ..sources.profiles import materialized_table
from ..sql_introspect.queries import MAP_COLUMNS, feature_table

# The nine parsed features (clustering.py:20-61) as sums of q1's counter
# columns; a QueryStats map key stands for every column q1 flattened it into.
_DERIVED = {
    "num_subqueries": (
        "num_from_subqueries", "num_where_subqueries", "num_with_subqueries"),
    "max_depth_subqueries": ("max_depth_subqueries",),
    "num_group_by_columns": ("num_group_by_columns",),
    "num_order_by_columns": ("num_order_by_columns",),
    "num_limits": ("num_limits",),
    "num_predicates": (
        "num_where_in_predicates", "num_where_between_predicates",
        "num_where_exists_predicates", "num_where_is_null_predicates",
        "num_where_binary_predicates", "num_where_like_predicates",
        "num_having_binary_predicates", "num_using_columns",
        "num_on_binary_predicates", "num_on_between_predicates"),
    "num_where_fn_exprs": (
        "num_where_function_call_exprs", "num_where_case_exprs",
        "num_where_arithmetic_exprs", "num_where_cast_exprs",
        "num_where_timestamp_arithmetic_exprs",
        "num_having_function_call_exprs", "num_on_function_call_exprs"),
    "num_select_exprs": (
        "num_select_case_exprs", "num_select_arithmetic_exprs",
        "num_select_cast_exprs", "num_select_function_call_exprs",
        "num_select_analytic_exprs"),
    "num_select_predicates": (
        "num_select_binary_predicates", "num_select_is_null_predicates"),
}

_FEATURES = ("num_tables", *_DERIVED)


def _summed(keys: tuple[str, ...]):
    return reduce(lambda a, b: a + b, [
        F.col(c) for k in keys for c in MAP_COLUMNS.get(k, (k,))])


def cluster_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m0 — the 10-dim feature vector per SELECT/UNION query
    (clustering.py:20-61), as columns: BIGINT sums over the landed
    statement-feature store, joined with the ingested num_tables."""
    feats = (
        feature_table(spark, sf_dir)
        # P2: sql.type $in filter (clustering.py:14-16)
        .filter(F.col("stmt_type").isin("SelectStmt", "UnionStmt"))
        .select("query_id",
                *[_summed(keys).alias(f) for f, keys in _DERIVED.items()])
    )
    q = materialized_table(spark, sf_dir, "queries").select("query_id", "num_tables")
    return q.join(feats, "query_id")


def _assembled(spark: SparkSession, sf_dir: str):
    from pyspark.ml.feature import StandardScaler, VectorAssembler  # noqa: PLC0415

    df = cluster_features(spark, sf_dir)
    # Canonical layout before the fit: k-means|| initialization samples
    # depend on partition boundaries and in-partition row order, so a
    # seed-pinned fit is only reproducible across environments (local[4]
    # test session vs local[32] rebuild) if the input layout is a function
    # of the DATA, not the session. One range partition sorted by query_id
    # is fine at feature-table scale (one 11-number row per statement);
    # a huge corpus would bump the constant, keeping it fixed, not
    # parallelism-derived.
    df = df.repartitionByRange(1, "query_id").sortWithinPartitions("query_id")
    vec = VectorAssembler(inputCols=list(_FEATURES), outputCol="raw").transform(df)
    # M1 — z-score standardization (clustering.py:65)
    scaler = StandardScaler(inputCol="raw", outputCol="features",
                            withMean=True, withStd=True).fit(vec)
    return scaler.transform(vec).cache()


# Multi-init restarts, matching the reference's sklearn n_init=20
# (clustering.py:76) init for init: each k is fit once per pinned seed
# and the lowest-WCSS model wins (ties -> first seed), so a bad k-means||
# initialization cannot pin a local optimum. Fits run in a thread pool:
# the assembled features are ONE small cached partition (see _assembled),
# so each fit is a single-task job and concurrent fits use the idle cores
# — Spark schedules jobs from separate threads independently.
_SEEDS = tuple(range(42, 62))  # 20 pinned seeds
_FIT_THREADS = 16


def _fit(data, k: int, seed: int):
    from pyspark.ml.clustering import KMeans  # noqa: PLC0415

    return KMeans(k=k, maxIter=500, seed=seed, featuresCol="features").fit(data)


def _fit_best(data, k: int, pool=None):
    """Best-of-_SEEDS fit for one k (deterministic: seeds are pinned and
    the tie-break is seed order)."""
    fits = (
        list(pool.map(lambda s: _fit(data, k, s), _SEEDS))
        if pool is not None
        else [_fit(data, k, s) for s in _SEEDS]
    )
    return min(
        enumerate(fits), key=lambda t: (t[1].summary.trainingCost, t[0])
    )[1]


def _elbow_curve(spark: SparkSession, sf_dir: str) -> list[tuple[int, float, float]]:
    """Elbow rows are deterministic (pinned seeds, canonical input
    layout), so one session-memoized sweep serves both the m2 certificate
    and the m2b curve without doubling the 1360 fits."""
    return session_memo(spark, sf_dir, "kmeans_elbow",
                        lambda: _elbow_sweep(spark, sf_dir))


def _elbow_sweep(spark: SparkSession, sf_dir: str) -> list[tuple[int, float, float]]:
    """The elbow sweep (clustering.py:67-81): per k in 1..69, (k, WCSS,
    %variance explained); TSS via the exact variance identity. 68
    k-values x 20 seeds = 1360 single-task fits run threaded, bounded by
    _FIT_THREADS."""
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    from pyspark.ml.functions import vector_to_array  # noqa: PLC0415

    data = _assembled(spark, sf_dir)
    tss = (
        data.select(
            F.aggregate(
                vector_to_array("features"), F.lit(0.0), lambda a, x: a + x * x
            ).alias("sq")
        )
        .agg(F.sum("sq"))
        .collect()[0][0]
    )
    # k=1 analytically: one cluster at the mean -> WCSS == TSS for
    # mean-centered data (Spark's KMeans requires k >= 2)
    rows = [(1, float(tss), 0.0)]
    with ThreadPoolExecutor(max_workers=_FIT_THREADS) as pool:
        costs = pool.map(
            lambda k: min(
                _fit(data, k, s).summary.trainingCost for s in _SEEDS
            ),
            range(2, 70),
        )
        for k, wcss in zip(range(2, 70), costs):
            rows.append((k, float(wcss), float((tss - wcss) / tss * 100.0)))
    data.unpersist()
    return rows


def kmeans_elbow_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m2b — the raw elbow curve (k, WCSS, %variance explained). WCSS is
    fit-dependent (no cross-engine twin exists), so this stays rows-only
    by design; the certificate twin m2 is the hash-matched evidence."""
    return spark.createDataFrame(
        _elbow_curve(spark, sf_dir), ["k", "wcss", "pct_variance_explained"]
    )


def kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m2 — elbow sweep CERTIFICATE (a19's sketch-certificate pattern):
    the raw WCSS values are fit-dependent, so the hashed output is the
    per-k boolean evidence a correct elbow must satisfy, which a DuckDB
    oracle asserts literally TRUE:

    - ``wcss_nonincreasing``: best-of-_SEEDS WCSS at k never exceeds
      WCSS at k-1 (multi-init keeps a bad local optimum from denting it);
    - ``pct_var_in_range``: %variance explained stays in [0, 100];
    - ``pct_var_nondecreasing``: the explained-variance curve is monotone;
    - ``tss_matches_dims``: TSS (computed via the variance identity,
      sum ||x||^2 over the z-scored vectors) equals d_eff * (n - 1)
      analytically — z-scoring makes every non-constant column's sample
      variance exactly 1, so the identity cross-checks the whole feature
      -> assemble -> scale pipeline dimensionally, not just the sweep.

    A driver green row therefore certifies real fits, not constants:
    any regression in the scaler, the feature parser, or the sweep turns
    a boolean FALSE and hash-mismatches."""
    rows = _elbow_curve(spark, sf_dir)
    stats = (
        cluster_features(spark, sf_dir)
        .agg(
            F.count("*").alias("n"),
            *[
                (F.stddev_samp(F.col(f).cast("double")) > 0)
                .cast("int")
                .alias(f"nz_{f}")
                for f in _FEATURES
            ],
        )
        .collect()[0]
    )
    n = stats["n"]
    d_eff = sum(stats[f"nz_{f}"] for f in _FEATURES)
    tss = rows[0][1]  # k=1 WCSS is TSS by construction
    tss_ok = abs(tss - d_eff * (n - 1)) <= 1e-6 * max(tss, 1.0)
    out = []
    prev_w, prev_p = None, None
    for k, wcss, pct in rows:
        out.append((
            k,
            prev_w is None or wcss <= prev_w * (1 + 1e-9) + 1e-9,
            -1e-9 <= pct <= 100 + 1e-9,
            prev_p is None or pct >= prev_p - 1e-9,
            bool(tss_ok),
        ))
        prev_w, prev_p = wcss, pct
    return spark.createDataFrame(
        out,
        T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("wcss_nonincreasing", T.BooleanType()),
            T.StructField("pct_var_in_range", T.BooleanType()),
            T.StructField("pct_var_nondecreasing", T.BooleanType()),
            T.StructField("tss_matches_dims", T.BooleanType()),
        ]),
    )


def _final_model(spark: SparkSession, sf_dir: str, data):
    """The final k=10 model is deterministic (pinned seeds, canonical input
    layout), so one session-memoized best-of-_SEEDS fit serves m3's
    published rows AND the m3b certificate without doubling the 20 fits."""
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    def fit():
        with ThreadPoolExecutor(max_workers=len(_SEEDS)) as pool:
            return _fit_best(data, 10, pool)  # reference K (clustering.py:83)

    return session_memo(spark, sf_dir, "kmeans_model", fit)


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m3 — final clustering at the reference's K=10: cluster sizes +
    per-cluster mean of the unscaled features (clustering.py:83-92);
    best-of-_SEEDS fit. The corpus has 15 distinct feature shapes, so
    all 10 clusters populate at every fixture scale. Raw cluster ids and
    means are fit-dependent -> rows-only for the driver; the hash-matched
    evidence is the m3b certificate over the same fit."""
    data = _assembled(spark, sf_dir)
    model = _final_model(spark, sf_dir, data)
    out = (
        model.transform(data)
        .groupBy("prediction")
        .agg(
            F.count("*").alias("n_queries"),
            *[F.round(F.avg(f), 8).alias(f"avg_{f}") for f in _FEATURES],
        )
    )
    data.unpersist()
    return out


def kmeans_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m3b — final-clustering CERTIFICATE (the m2 pattern applied to the
    k=10 fit, reference ``clustering.py:83-92``): the raw clusters are
    fit-dependent, so the hashed output is one row per cluster id 0..9 of
    booleans a correct final clustering must satisfy, which a DuckDB
    oracle asserts literally TRUE:

    - row presence itself: all 10 cluster ids appear (the corpus has 15
      distinct feature shapes, so no cluster may come back empty — a
      missing id is a row-count mismatch, not just a FALSE);
    - ``sizes_sum_to_n``: cluster sizes sum to the number of clustered
      statements (no row dropped or double-assigned);
    - ``nearest_centroid_ok``: every member row is nearer (squared
      euclidean, scaled space) to its own centroid than to any other —
      computed JVM-side from the published centers, independently of
      ``model.transform``'s internal distance code;
    - ``centroid_is_assigned_mean``: the centroid equals the mean of its
      assigned scaled points — Lloyd's fixed point at convergence. This
      is the analytic cross-check (tss_matches_dims' role in m2): a fit
      that stopped early, a scaler drift, or a wrong assignment path all
      break the identity.

    A driver green row therefore certifies a real converged clustering,
    not constants."""
    from pyspark.ml.functions import vector_to_array  # noqa: PLC0415
    from pyspark.sql import Window  # noqa: PLC0415

    data = _assembled(spark, sf_dir)
    model = _final_model(spark, sf_dir, data)
    centers = [[float(v) for v in c] for c in model.clusterCenters()]
    n_dim = len(centers[0])

    arr = vector_to_array("features")
    dists = [
        F.aggregate(
            F.zip_with(
                arr,
                F.array(*[F.lit(v) for v in c]),
                lambda x, cv: (x - cv) * (x - cv),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        for c in centers
    ]
    pred = model.transform(data).select(
        F.col("prediction").cast("long").alias("cluster"),
        F.element_at(F.array(*dists), F.col("prediction").cast("int") + 1)
        .alias("d_own"),
        F.least(*dists).alias("d_min"),
        *[arr[i].alias(f"s{i}") for i in range(n_dim)],
    )
    # Materialize the 10-row rollup eagerly (it is the only consumer of
    # the full-width pred scan) so the cached feature frame can be
    # unpersisted before returning the lazy result — ADVICE r9: an
    # unpersist before the driver collects rebuilt the assembled frame.
    per_cluster = pred.groupBy("cluster").agg(
        F.count("*").alias("n_k"),
        F.min(F.col("d_own") <= F.col("d_min") + F.lit(1e-9))
        .alias("nearest_centroid_ok"),
        *[F.avg(f"s{i}").alias(f"m{i}") for i in range(n_dim)],
    ).localCheckpoint(eager=True)
    centers_df = spark.createDataFrame(
        [(j, *centers[j]) for j in range(len(centers))],
        ["cluster", *[f"c{i}" for i in range(n_dim)]],
    )
    # Lloyd fixed point: converged Lloyd ends on an assignment step whose
    # preceding update left centers unmoved, so center == assigned-mean to
    # float precision; 1e-6 absolute covers the accumulation order.
    mean_ok = None
    for i in range(n_dim):
        ok_i = F.abs(F.col(f"m{i}") - F.col(f"c{i}")) <= F.lit(1e-6)
        mean_ok = ok_i if mean_ok is None else (mean_ok & ok_i)
    total = data.count()  # O(1) scalar, mirrors m2's stats collect
    out = (
        per_cluster.join(F.broadcast(centers_df), "cluster")
        .withColumn(
            "sizes_sum_to_n",
            F.sum("n_k").over(Window.partitionBy()) == F.lit(total),
        )
        .select(
            "cluster",
            (F.col("n_k") > 0).alias("populated"),
            "sizes_sum_to_n",
            "nearest_centroid_ok",
            mean_ok.alias("centroid_is_assigned_mean"),
        )
    )
    data.unpersist()
    return out


# m0 is fully oracle-checkable: expected features per corpus template
ORACLES = {
    # SELECT statements rotate through 4 shape variants on k % 4
    # (profile_render.sql_stmt_for): order+limit / group-by agg /
    # IN-subquery / analytic+LIKE
    "m0_cluster_features": with_corpus("""
        SELECT query_id, num_tables,
               CAST(CASE WHEN sql_type = 'SelectStmt' AND k % 4 = 2 THEN 1 ELSE 0 END
                 AS BIGINT) AS num_subqueries,
               CAST(CASE WHEN sql_type = 'SelectStmt' AND k % 4 = 2 THEN 1 ELSE 0 END
                 AS BIGINT) AS max_depth_subqueries,
               CAST(CASE WHEN sql_type = 'SelectStmt' AND k % 4 = 1 THEN 1 ELSE 0 END
                 AS BIGINT) AS num_group_by_columns,
               CAST(CASE WHEN sql_type = 'SelectStmt' AND k % 4 = 0 THEN 1 ELSE 0 END
                 AS BIGINT) AS num_order_by_columns,
               CAST(CASE WHEN sql_type = 'SelectStmt' AND k % 4 = 0 THEN 1 ELSE 0 END
                 AS BIGINT) AS num_limits,
               CAST(CASE WHEN sql_type = 'SelectStmt' AND k % 4 = 2 THEN 2 ELSE 1 END
                 AS BIGINT) AS num_predicates,
               CAST(0 AS BIGINT) AS num_where_fn_exprs,
               CAST(CASE WHEN sql_type = 'SelectStmt' AND k % 4 = 1 THEN 1
                    WHEN sql_type = 'SelectStmt' AND k % 4 = 3 THEN 2 ELSE 0 END
                 AS BIGINT) AS num_select_exprs,
               CAST(0 AS BIGINT) AS num_select_predicates
        FROM iwa_queries
        WHERE k % 41 <> 0 AND sql_type IN ('SelectStmt', 'UnionStmt')"""),
    # m2 publishes only its in-engine certificate booleans (the raw WCSS
    # has no cross-engine twin); the oracle asserts every one literally
    # TRUE for the full k=1..69 sweep — a19's certificate pattern.
    "m2_kmeans_elbow": """
        SELECT CAST(range + 1 AS BIGINT) AS k,
               TRUE AS wcss_nonincreasing,
               TRUE AS pct_var_in_range,
               TRUE AS pct_var_nondecreasing,
               TRUE AS tss_matches_dims
        FROM range(69)""",
    # m3b asserts the final k=10 clustering certificate literally TRUE for
    # all 10 cluster ids; an empty cluster is a missing row (rows mismatch).
    "m3b_kmeans_certificate": """
        SELECT CAST(range AS BIGINT) AS cluster,
               TRUE AS populated,
               TRUE AS sizes_sum_to_n,
               TRUE AS nearest_centroid_ok,
               TRUE AS centroid_is_assigned_mean
        FROM range(10)""",
}

SPARK_QUERIES = {
    "m0_cluster_features": cluster_features,
    "m2_kmeans_elbow": kmeans_elbow,
    "m2b_kmeans_elbow_curve": kmeans_elbow_curve,
    "m3_kmeans_clusters": kmeans_clusters,
    "m3b_kmeans_certificate": kmeans_certificate,
}
