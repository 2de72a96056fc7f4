"""Counter-consistency assertion queries (reference:
``profile_analyzer.py:413-439``, SURVEY.md A16).

The reference recomputes each averaged counter as the mean of its
per-instance values (python-2 integer division: ``sum(l) / len(l)``) and
warns when it disagrees with the stored average, skipping the async keys
``InactiveTotalTime`` / ``AsyncTotalTime``. Here that becomes a
higher-order-function scan — ``aggregate(counters[k], 0, (a, x) -> a + x)``
floor-divided by ``size(counters[k])`` — entirely JVM-side, no UDF.

The synthetic corpus plants violations on the k%29 slice so this check has
real rows to find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import IDIV, corpus_fragments, corpus_operators, with_corpus


def _floor_mean(map_col: str, key: str):
    """py2 ``sum(values) / len(values)`` over a per-instance counter list
    (profile_analyzer.py:423), via the ``aggregate`` higher-order fn."""
    arr = F.element_at(map_col, F.lit(key))
    total = F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)
    return F.floor(total / F.size(arr).cast("double")).cast("long")


def counter_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — operators whose stored average counter differs from the
    floor-mean of the per-instance list, plus the same check for fragment
    code-gen / sink counters."""
    ops = corpus_operators(spark, sf_dir)
    frags = corpus_fragments(spark, sf_dir)

    def check(df: DataFrame, map_avg: str, map_inst: str, key: str, source: str) -> DataFrame:
        stored = F.element_at(map_avg, F.lit(key)).cast("long")
        return (
            df.filter(_floor_mean(map_inst, key) != stored)
            .select(
                "query_id",
                "id",
                F.lit(source).alias("source"),
                F.lit(key).alias("counter_name"),
            )
        )

    out = check(ops, "avg_counters", "counters", "RowsReturned", "operator")
    out = out.unionAll(check(ops, "avg_counters", "counters", "TotalTime", "operator"))
    out = out.unionAll(check(frags, "avg_code_gen", "code_gen", "TotalTime", "fragment_code_gen"))
    out = out.unionAll(
        check(frags, "avg_hdfs_table_sink", "hdfs_table_sink", "TotalTime", "fragment_sink")
    )
    return out


ORACLES = {
    "a16_counter_consistency": with_corpus(f"""
        SELECT query_id, id, 'operator' AS source, 'RowsReturned' AS counter_name
        FROM iwa_operators WHERE {IDIV('rr_i1 + rr_i2', 2)} <> rows_returned
        UNION ALL
        SELECT query_id, id, 'operator' AS source, 'TotalTime' AS counter_name
        FROM iwa_operators WHERE {IDIV('tt_i1 + tt_i2', 2)} <> avg_time
        UNION ALL
        SELECT query_id, id, 'fragment_code_gen' AS source, 'TotalTime' AS counter_name
        FROM iwa_fragments WHERE {IDIV('cg_i1 + cg_i2', 2)} <> CAST(avg_code_gen_total AS BIGINT)
        UNION ALL
        SELECT query_id, id, 'fragment_sink' AS source, 'TotalTime' AS counter_name
        FROM iwa_fragments WHERE {IDIV('sink_i1 + sink_i2', 2)} <> CAST(avg_hdfs_table_sink_total AS BIGINT)"""),
}

SPARK_QUERIES = {"a16_counter_consistency": counter_consistency}
