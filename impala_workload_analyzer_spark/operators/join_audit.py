"""Join-strategy correctness audit (reference: ``code/python/joins.py``).

The reference runs two ``find_one`` lookups per join operator (N+1 pattern,
``joins.py:51-58``); here the child resolution unpivots each join into its
two (side, child_id) rows and resolves both against ``operators`` in ONE
``(query_id, child_id = id)`` join, re-pivoting by the join's own key
(SURVEY.md J2). The r15 shape — a double self-join — shuffled the
corpus-sized children frame twice; the unpivot trades the second
children exchange for a joins-sized re-pivot exchange, marginal at
sf0.1 (1.67 vs 1.84 s) and 1.58x faster at the 10x key-offset corpus
(4.84 vs 3.06 s, the r15 verdict's requested sf1 A/B; OPTIMIZATION_r16.md
records the measurement), because the saved exchange grows with the
corpus while the re-pivot stays join-count-sized.

Cost model (joins.py:5-30, audited exactly):

- broadcastCost  = min(leftBytes, rightBytes) * num_hosts
- partitionedCost = leftBytes + rightBytes   (bytes = num_rows * row_size)
- wrong impl  : equal costs -> correct; else the cheaper strategy must be
  the chosen ``join_impl``
- wrong side  : only checked when impl is correct (elif, joins.py:60-65);
  BROADCAST builds on the right child, so leftBytes < rightBytes is wrong
- rollup (A9): counts + summed avg_time per class, ms via py2 floor div
  (joins.py:73-97)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import IDIV, corpus_operators, corpus_queries, with_corpus


def _classified_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = corpus_queries(spark, sf_dir).filter(F.col("tag") == "tpch").select("query_id")
    return _classify(corpus_operators(spark, sf_dir), q)


def _classify(ops: DataFrame, q: DataFrame) -> DataFrame:
    """Audit every join in ``ops`` whose query is in ``q``."""
    joins = ops.filter(F.col("name").isin("HASH JOIN", "CROSS JOIN")).join(q, "query_id")
    children = ops.select(
        "query_id",
        F.col("id").alias("child_id"),
        (F.col("num_rows") * F.col("row_size")).alias("child_bytes"),
    )
    # Unpivot: each join contributes (side, child_id) rows, resolved in
    # one (query_id, child_id) join; the re-pivot groups by the join's
    # own key ((query_id, id) is unique, so the carried attributes ride
    # the group-by key). The both-sides-matched filter reproduces the
    # double inner join's semantics: a join whose left OR right child is
    # unresolvable is out of the audit, while a resolved child with NULL
    # num_rows/row_size stays in with NULL bytes.
    sides = joins.select(
        "query_id", "id", "name", "join_impl", "num_hosts", "avg_time",
        F.explode(
            F.array(
                F.struct(F.lit("l").alias("side"),
                         F.col("left_child_id").alias("child_id")),
                F.struct(F.lit("r").alias("side"),
                         F.col("right_child_id").alias("child_id")),
            )
        ).alias("s"),
    ).select("query_id", "id", "name", "join_impl", "num_hosts",
             "avg_time", "s.side", "s.child_id")
    j = (
        sides.join(children, ["query_id", "child_id"])
        .groupBy("query_id", "id", "name", "join_impl", "num_hosts", "avg_time")
        .agg(
            F.max(F.when(F.col("side") == "l", F.col("child_bytes")))
            .alias("left_bytes"),
            F.max(F.when(F.col("side") == "r", F.col("child_bytes")))
            .alias("right_bytes"),
            F.count(F.when(F.col("side") == "l", 1)).alias("left_matches"),
            F.count(F.when(F.col("side") == "r", 1)).alias("right_matches"),
        )
        .filter((F.col("left_matches") > 0) & (F.col("right_matches") > 0))
    )
    bcost = F.least("left_bytes", "right_bytes") * F.col("num_hosts")
    pcost = F.col("left_bytes") + F.col("right_bytes")
    wrong_impl = F.when(bcost == pcost, F.lit(False)).otherwise(
        F.when(bcost < pcost, F.col("join_impl") != "BROADCAST").otherwise(
            F.col("join_impl") != "PARTITIONED"
        )
    )
    wrong_side = (
        (F.col("join_impl") == "BROADCAST")
        & (F.col("left_bytes") < F.col("right_bytes"))
    )
    return j.withColumn(
        "classification",
        F.when(wrong_impl, "wrong_impl")
        .when(wrong_side, "wrong_side")
        .otherwise("correct"),
    )


def join_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + A7/A8 per-join detail: each join with its resolved child sizes
    and audit classification."""
    return _classified_joins(spark, sf_dir).select(
        "query_id", "id", "name", "join_impl",
        "left_bytes", "right_bytes", "classification",
    )


def join_audit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — counts and total time per audit class (joins.py:35-68)."""
    return (
        _classified_joins(spark, sf_dir)
        .groupBy("classification")
        .agg(F.count("*").alias("num_joins"), F.sum("avg_time").alias("total_time"))
        .select(
            "classification",
            "num_joins",
            F.expr("CAST(FLOOR(total_time / CAST(1000000 AS DOUBLE)) AS BIGINT)").alias("total_time_ms"),
        )
    )


_CLASSIFIED = f"""
, jc AS (
  SELECT j.query_id, j.id, j.name, j.join_impl, j.avg_time,
         l.num_rows * l.row_size AS left_bytes,
         r.num_rows * r.row_size AS right_bytes,
         CASE
           WHEN NOT (CASE
                 WHEN LEAST(l.num_rows * l.row_size, r.num_rows * r.row_size) * j.num_hosts
                      = l.num_rows * l.row_size + r.num_rows * r.row_size THEN FALSE
                 WHEN LEAST(l.num_rows * l.row_size, r.num_rows * r.row_size) * j.num_hosts
                      < l.num_rows * l.row_size + r.num_rows * r.row_size
                   THEN j.join_impl <> 'BROADCAST'
                 ELSE j.join_impl <> 'PARTITIONED' END)
                AND j.join_impl = 'BROADCAST'
                AND l.num_rows * l.row_size < r.num_rows * r.row_size
             THEN 'wrong_side'
           WHEN (CASE
                 WHEN LEAST(l.num_rows * l.row_size, r.num_rows * r.row_size) * j.num_hosts
                      = l.num_rows * l.row_size + r.num_rows * r.row_size THEN FALSE
                 WHEN LEAST(l.num_rows * l.row_size, r.num_rows * r.row_size) * j.num_hosts
                      < l.num_rows * l.row_size + r.num_rows * r.row_size
                   THEN j.join_impl <> 'BROADCAST'
                 ELSE j.join_impl <> 'PARTITIONED' END)
             THEN 'wrong_impl'
           ELSE 'correct' END AS classification
  FROM iwa_operators j
  JOIN iwa_queries q ON j.query_id = q.query_id AND q.tag = 'tpch'
  JOIN iwa_operators l ON j.query_id = l.query_id AND j.left_child_id = l.id
  JOIN iwa_operators r ON j.query_id = r.query_id AND j.right_child_id = r.id
  WHERE j.name IN ('HASH JOIN', 'CROSS JOIN')
)
"""

ORACLES = {
    "j2_join_children": with_corpus(
        _CLASSIFIED
        + """SELECT query_id, id, name, join_impl, left_bytes, right_bytes, classification
             FROM jc"""
    ),
    "a9_join_audit_rollup": with_corpus(
        _CLASSIFIED
        + f"""SELECT classification, COUNT(*) AS num_joins,
                    {IDIV('SUM(avg_time)', 1000000)} AS total_time_ms
             FROM jc GROUP BY classification"""
    ),
}

SPARK_QUERIES = {
    "j2_join_children": join_children,
    "a9_join_audit_rollup": join_audit_rollup,
}
