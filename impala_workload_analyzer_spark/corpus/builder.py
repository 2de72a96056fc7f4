"""Spark-side corpus DataFrames (the engine-native data model).

The flat deterministic corpus comes from the shared SQL in ``corpus_sql``;
this module layers on the rich types the reference model carries
(SURVEY.md §1.4): ``hosts`` arrays, ``counters``/``avg_counters`` maps with
per-instance value lists, nested code-gen / sink counter maps. Analytics
consume these via ``element_at`` / higher-order functions exactly like the
reference consumes its BSON maps, while the flat twin columns keep every
analytic DuckDB-oracle-checkable.

All three tables are derived from the ``orders`` parquet and landed once
per corpus through ``catalog.land`` (bucketed on query_id); analytics read
the landed tables. At cluster scale the derivation is an embarrassingly
parallel projection (no shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import build_landed, land
from .corpus_sql import with_corpus


def _orders_view(spark: SparkSession, sf_dir: str) -> None:
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .createOrReplaceTempView("orders")


def ensure_corpus(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the three corpus tables as parquet, once per sf_dir
    (each table stamped on its own), without registering them in the
    session catalog — ``corpus_*`` do that on first read.

    This mirrors the reference architecture: ingest MATERIALIZES the
    collections (profile_analyzer.py:278-313), analytics query them. A
    lazily re-derived corpus made every analytic re-execute the 9-branch
    UNION over orders (~1.35M generated rows at sf0.1) per query — column
    pruning, predicate pushdown, and scan statistics all need a real table.
    At cluster scale these writes are the ingest job's output, partitioned
    by tag/date.
    """
    for which, derive in (("queries", _derive_queries),
                          ("operators", _derive_operators),
                          ("fragments", _derive_fragments)):
        build_landed("corpus", sf_dir, which, lambda d=derive: d(spark, sf_dir))


def _derive_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``queries`` table: one row per executed statement
    (profile_analyzer.py:293-336 + QueryAnalyzer.java:284-331 enrichment).

    Adds ``hosts`` (sorted array, profile_analyzer.py:284-290); ``cluster``
    is md5 of the host-set label (profile_analyzer.py:302).
    """
    _orders_view(spark, sf_dir)
    df = spark.sql(with_corpus("SELECT * FROM iwa_queries"))
    return df.withColumn(
        "hosts",
        F.expr(
            "transform(sequence(1, int(q_nh)),"
            " i -> concat('host', cast(k % 8 as string), '-', cast(i as string), ':22000'))"
        ),
    ).drop("k", "c", "q_nh")


def _derive_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``operators`` table: one row per plan node per query
    (profile_analyzer.py:59-270).

    ``avg_counters`` (map<string,double>) and ``counters``
    (map<string,array<bigint>>) mirror the averaged-fragment vs per-instance
    counter harvest at profile_analyzer.py:250-270. The stored average is
    the floor-mean of the instance list (py2 division,
    profile_analyzer.py:423) except for the deliberate k%29 violations the
    A16 consistency check must surface.
    """
    _orders_view(spark, sf_dir)
    df = spark.sql(with_corpus("SELECT * FROM iwa_operators"))
    return (
        df.withColumn(
            "avg_counters",
            F.create_map(
                F.lit("RowsReturned"), F.col("rows_returned").cast("double"),
                F.lit("TotalTime"), F.col("avg_time").cast("double"),
                # skipped by the consistency check (profile_analyzer.py:418-421)
                F.lit("InactiveTotalTime"), (F.col("avg_time") / 3).cast("double"),
            ),
        )
        .withColumn(
            "counters",
            F.create_map(
                F.lit("RowsReturned"), F.array("rr_i1", "rr_i2"),
                F.lit("TotalTime"), F.array("tt_i1", "tt_i2"),
            ),
        )
        .withColumn(
            "info",
            F.create_map(F.lit("ExecOption"), F.array(F.lit("Codegen Enabled"))),
        )
    )


def _derive_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``fragments`` table: per plan fragment per query
    (profile_analyzer.py:88-111, 220-248). ``exchange_id`` NULL marks the
    root/coordinator fragment (draw_plan.py:36)."""
    _orders_view(spark, sf_dir)
    df = spark.sql(with_corpus("SELECT * FROM iwa_fragments"))
    return (
        df.withColumn(
            "avg_code_gen",
            F.create_map(F.lit("TotalTime"), F.col("avg_code_gen_total")),
        )
        .withColumn(
            "code_gen",
            F.create_map(F.lit("TotalTime"), F.array("cg_i1", "cg_i2")),
        )
        .withColumn(
            "avg_hdfs_table_sink",
            F.create_map(F.lit("TotalTime"), F.col("avg_hdfs_table_sink_total")),
        )
        .withColumn(
            "hdfs_table_sink",
            F.create_map(F.lit("TotalTime"), F.array("sink_i1", "sink_i2")),
        )
    )


def corpus_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized ``queries`` table (bucketed on query_id)."""
    return land(spark, "corpus", sf_dir, "queries",
                lambda: _derive_queries(spark, sf_dir))


def corpus_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized ``operators`` table (bucketed on query_id)."""
    return land(spark, "corpus", sf_dir, "operators",
                lambda: _derive_operators(spark, sf_dir))


def corpus_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized ``fragments`` table (bucketed on query_id)."""
    return land(spark, "corpus", sf_dir, "fragments",
                lambda: _derive_fragments(spark, sf_dir))
