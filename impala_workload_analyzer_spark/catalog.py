"""Bucketed-table materialization: the one landing path for derived tables.

The corpus / ingest / feature tables are consumed by many analytics that
join or group on ``query_id`` (J1-J4, A1, A16, W2, pt1/pt2 …). Writing
them as plain parquet makes every one of those consumers re-shuffle the
same table on the same key. Instead they are written ONCE as bucketed +
sorted catalog tables: ``HashPartitioning(query_id)`` then satisfies the
clustered distribution of every downstream join/aggregate whose keys
include ``query_id``, so those exchanges (and sorts) disappear from the
plans — the Spark-native equivalent of the co-located index lookups the
reference gets from its (query_id, id) Mongo index
(profile_analyzer.py:15-21).

One file per bucket: ``write_bucketed`` hash-repartitions its input on
``query_id`` into ``N_BUCKETS`` before the bucketed write. Spark computes
a row's bucket id with the same Murmur3 ``pmod(hash(query_id), n)`` that
``HashPartitioning`` uses, so each write task holds exactly one bucket
and writes exactly one file. The layout is a function of the data, not
of the building session's width or its input's partitioning.

At 100 TB the bucket count would scale with the data (and live in a real
metastore); locally 32 matches the shuffle parallelism. Table metadata in
the in-memory catalog dies with the session, so on a warm cache in a new
process the table is re-registered over the existing bucketed files with
the same DDL — file layout and bucket hashing are unchanged.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from .cache_util import build_once, cache_dir

N_BUCKETS = 32


def _table_name(prefix: str, sf_dir: str, which: str) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir))
    return re.sub(r"[^A-Za-z0-9_]", "_", f"{prefix}_{sf}_{which}")


def write_bucketed(df: DataFrame, path: str, table: str) -> None:
    """Write ``df`` to ``path`` as ``table``, bucketed and sorted on
    query_id, one file per bucket."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.repartition(N_BUCKETS, "query_id")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(N_BUCKETS, "query_id")
        .sortBy("query_id")
        .option("path", path)
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, path: str, table: str) -> DataFrame:
    """Read a previously-written bucketed table, re-registering the
    catalog entry if this is a fresh session over a warm cache."""
    if not spark.catalog.tableExists(table):
        schema_ddl = spark.read.parquet(path).schema.toDDL()
        spark.sql(
            f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET "
            f"CLUSTERED BY (query_id) SORTED BY (query_id) "
            f"INTO {N_BUCKETS} BUCKETS LOCATION '{path}'"
        )
    return spark.table(table)


def build_landed(kind: str, sf_dir: str, which: str, build) -> str:
    """The build half of ``land``: write the frame ``build()`` returns as
    the bucketed table at ``cache_dir(kind, sf_dir, which)`` unless that
    dataset is already stamped with ``kind``'s source fingerprint; return
    its path."""
    path = cache_dir(kind, sf_dir, which)
    return build_once(kind, path, lambda: write_bucketed(
        build(), path, _table_name(kind, sf_dir, which)))


def land(spark: SparkSession, kind: str, sf_dir: str, which: str,
         build) -> DataFrame:
    """The frame ``build()`` returns, landed once per sf_dir as the
    bucketed table ``cache_dir(kind, sf_dir, which)`` (rebuilt when
    ``kind``'s source fingerprint moves) and read back bucketed."""
    return read_bucketed(spark, build_landed(kind, sf_dir, which, build),
                         _table_name(kind, sf_dir, which))
