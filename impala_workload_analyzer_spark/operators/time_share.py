"""Operator time-share analytics (reference: ``stats.py:73-115, 356-374``;
SURVEY.md A12-A14, W2).

Per query, total "accounted" time = sum of per-operator-name times plus the
four synthetic components Plan / Fragment Start / CodeGen / HdfsTableSink
(stats.py:79-100). Each name's share of that total is averaged across ALL
queries, zero-filling queries where the operator does not appear
(stats.py:356-362): dividing the share sum by the total query count is
exactly the reference's zero-extension.

W2 is the per-query share window (``sum over (partition by query_id)``);
A14 is the workload-absolute variant (share of the grand total).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..corpus import corpus_fragments, corpus_operators, with_corpus
from .workload_stats import _FQ, _filtered_queries


def _per_query_name_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of real per-operator-name sums (A1) and the four synthetic
    rows per query, as (query_id, name, sum_time<double>)."""
    q = _filtered_queries(spark, sf_dir).select(
        "query_id", "plan_time", "fragment_start_time")
    ops = corpus_operators(spark, sf_dir)
    frags = corpus_fragments(spark, sf_dir)
    real = (
        ops.join(q.select("query_id"), "query_id")
        .groupBy("query_id", "name")
        .agg(F.sum("avg_time").cast("double").alias("sum_time"))
    )
    frag_sums = (
        frags.join(q.select("query_id"), "query_id")
        .groupBy("query_id")
        .agg(
            F.sum(F.element_at("avg_code_gen", F.lit("TotalTime"))).alias("cg"),
            F.sum(F.element_at("avg_hdfs_table_sink", F.lit("TotalTime"))).alias("sink"),
        )
    )
    synthetic = (
        q.join(frag_sums, "query_id", "left")
        .select(
            "query_id",
            F.expr(
                "stack(4,"
                " 'Plan', CAST(plan_time AS DOUBLE),"
                " 'Fragment Start', CAST(fragment_start_time AS DOUBLE),"
                " 'CodeGen', COALESCE(cg, CAST(0 AS DOUBLE)),"
                " 'HdfsTableSink', COALESCE(sink, CAST(0 AS DOUBLE))"
                ") AS (name, sum_time)"
            ),
        )
    )
    return real.unionByName(synthetic)


def time_share_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — each operator name's share of its query's accounted time
    (stats.py:73-78), via a partition-total window."""
    t = _per_query_name_times(spark, sf_dir)
    w = Window.partitionBy("query_id")
    return t.select(
        "query_id",
        "name",
        "sum_time",
        F.round(F.col("sum_time") / F.sum("sum_time").over(w), 9).alias("time_pct"),
    )


def avg_time_pct_per_operator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — mean over all queries of each name's per-query share, zero-
    filled (stats.py:356-367): sum(shares) / total query count."""
    shares = time_share_per_query(spark, sf_dir)
    nq = _filtered_queries(spark, sf_dir).agg(F.count("*").alias("num_queries"))
    return (
        shares.groupBy("name")
        .agg(F.sum("time_pct").alias("pct_sum"))
        .crossJoin(F.broadcast(nq))
        .select("name", F.round(F.col("pct_sum") / F.col("num_queries"), 9).alias("avg_time_pct"))
    )


def abs_time_pct_per_operator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — each name's share of the workload-wide total accounted time
    (stats.py:369-374); total time also in ms (py2 floor division,
    stats.py:378)."""
    t = _per_query_name_times(spark, sf_dir)
    per_name = t.groupBy("name").agg(F.sum("sum_time").alias("total_time"))
    # grand total as a broadcast 1-row join, not an unpartitioned window:
    # same numbers, but no single-partition WindowExec in the plan
    tot = per_name.agg(F.sum("total_time").alias("grand_total"))
    return per_name.crossJoin(F.broadcast(tot)).select(
        "name",
        F.expr("CAST(FLOOR(total_time / CAST(1000000 AS DOUBLE)) AS BIGINT)").alias("total_time_ms"),
        F.round(F.col("total_time") / F.col("grand_total"), 9).alias("abs_time_pct"),
    )


_PQT = f"""
, fq AS ({_FQ}),
real AS (
  SELECT o.query_id, o.name, CAST(SUM(o.avg_time) AS DOUBLE) AS sum_time
  FROM iwa_operators o JOIN fq ON o.query_id = fq.query_id
  GROUP BY o.query_id, o.name
),
fragsums AS (
  SELECT f.query_id, SUM(f.avg_code_gen_total) AS cg, SUM(f.avg_hdfs_table_sink_total) AS sink
  FROM iwa_fragments f JOIN fq ON f.query_id = fq.query_id
  GROUP BY f.query_id
),
pqt AS (
  SELECT query_id, name, sum_time FROM real
  UNION ALL
  SELECT fq.query_id, 'Plan', CAST(fq.plan_time AS DOUBLE) FROM fq
  UNION ALL
  SELECT fq.query_id, 'Fragment Start', CAST(fq.fragment_start_time AS DOUBLE) FROM fq
  UNION ALL
  SELECT fq.query_id, 'CodeGen', COALESCE(fs.cg, CAST(0 AS DOUBLE))
  FROM fq LEFT JOIN fragsums fs ON fq.query_id = fs.query_id
  UNION ALL
  SELECT fq.query_id, 'HdfsTableSink', COALESCE(fs.sink, CAST(0 AS DOUBLE))
  FROM fq LEFT JOIN fragsums fs ON fq.query_id = fs.query_id
),
shares AS (
  SELECT query_id, name, sum_time,
         ROUND(sum_time / SUM(sum_time) OVER (PARTITION BY query_id), 9) AS time_pct
  FROM pqt
)
"""

ORACLES = {
    "w2_time_share_per_query": with_corpus(_PQT + "SELECT * FROM shares"),
    "a13_avg_time_pct_per_operator": with_corpus(
        _PQT
        + """SELECT name,
                    ROUND(SUM(time_pct) / (SELECT COUNT(*) FROM fq), 9) AS avg_time_pct
             FROM shares GROUP BY name"""
    ),
    "a14_abs_time_pct_per_operator": with_corpus(
        _PQT
        + """SELECT name,
                    CAST(FLOOR(SUM(sum_time) / CAST(1000000 AS DOUBLE)) AS BIGINT) AS total_time_ms,
                    ROUND(SUM(sum_time) / SUM(SUM(sum_time)) OVER (), 9) AS abs_time_pct
             FROM pqt GROUP BY name"""
    ),
}

SPARK_QUERIES = {
    "w2_time_share_per_query": time_share_per_query,
    "a13_avg_time_pct_per_operator": avg_time_pct_per_operator,
    "a14_abs_time_pct_per_operator": abs_time_pct_per_operator,
}
