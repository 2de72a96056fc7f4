"""Synthetic Impala-profile renderer: corpus rows -> profile log files.

Real profiles are absent from the reference snapshot (``.gitignore:7``), so
the ingest layer is exercised by RENDERING the deterministic corpus into
real ``TRuntimeProfileTree`` thrift trees — the exact wire format the
reference ingests (``analyze_profiles.py:14-21``): a pre-order node list
whose Summary node carries the ExecSummary table and indented Plan tree as
info strings (the formats ``profile_analyzer.py:59-270`` consumes), with
per-fragment / per-operator counter nodes. Each tree is serialized with
TCompactProtocol (``thrift_compact``), zlib-compressed and base64-encoded
into one log line — the third space-separated field, matching
``analyze_profiles.py:14-17``.

Because the renderer is a pure function of corpus rows, the ingest
round-trip ``parse(render(corpus)) == corpus`` is DuckDB-oracle-checkable:
the oracles in ``profiles.py`` re-derive the expected parse output from the
same corpus CTEs.

Scale: rendering is mapInPandas over corpus rows grouped per query — one
profile per row, embarrassingly parallel, no driver loop; output is written
partitioned by workload tag (mirrors ``driver.sh:5-7``'s per-tag ingest).

Formatting choices (documented deviations from real Impala output, chosen
so values survive the reference parsers exactly):
- times rendered as ``<n>ns``, counts as raw digits, sizes as ``<n> B`` —
  all exact under ``prettyPrint*`` parsing (profile_analyzer.py:341-403);
  pretty-formatted units are covered separately by f1-f3 round-trips.
- scan ``partitions=`` lines are space-indented even under a ``|--``
  junction, because the reference's regex (profile_analyzer.py:186-188)
  matches only ``^\\s+partitions=`` — a real Impala ``|``-prefixed line
  would be silently skipped.
"""

from __future__ import annotations

import base64
import os
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache_util import build_once, cache_dir
from ..corpus.corpus_sql import with_corpus
from .thrift_compact import (
    TCounter,
    TCounterType,
    TEventSequence,
    TRuntimeProfileNode,
    TRuntimeProfileTree,
    TTimeSeriesCounter,
    pack_double,
)

_NODE_NAME = {
    "SCAN HDFS": "HDFS_SCAN_NODE",
    "HASH JOIN": "HASH_JOIN_NODE",
    "CROSS JOIN": "CROSS_JOIN_NODE",
    "AGGREGATE": "AGGREGATION_NODE",
    "EXCHANGE": "EXCHANGE_NODE",
    "SORT": "SORT_NODE",
    "TOP-N": "TOP_N_NODE",
}

# plan print order: root fragment first; within a fragment, parent above
# children, join's right child first behind a |-- junction
_F1_ORDER = (6, 5, 4)


def sql_stmt_for(sql_type: str, k: int) -> str:
    """Deterministic statement text per corpus sql_type (also the subject
    corpus for the SQL-introspection operators). SELECT statements rotate
    through four shape variants (k % 4) so feature extraction and workload
    clustering have genuinely distinct subjects: plain order+limit,
    group-by aggregate, IN-subquery, analytic window + LIKE."""
    if sql_type == "DdlStmt":
        return f"CREATE TABLE t_{k} (i INT)"
    if sql_type == "InsertStmt":
        return f"INSERT INTO t_{k % 7} SELECT c1 FROM s WHERE id > {k}"
    if sql_type == "UnionStmt":
        return f"SELECT c1 FROM a WHERE id = {k} UNION ALL SELECT c1 FROM b"
    v = k % 4
    if v == 1:
        return f"SELECT c1, sum(c2) FROM t WHERE id > {k} GROUP BY c1"
    if v == 2:
        return f"SELECT c1 FROM t WHERE id IN (SELECT id FROM u WHERE x = {k})"
    if v == 3:
        return ("SELECT c1, rank() OVER (PARTITION BY c2 ORDER BY c3 DESC) "
                f"FROM t WHERE name LIKE 'a{k % 10}%'")
    return f"SELECT c1, c2 FROM t WHERE id = {k} ORDER BY c1 LIMIT 10"


def _ts(us: int) -> str:
    """'%Y-%m-%d %H:%M:%S.%f000' (profile_analyzer.py:320-325); UTC pinned
    (the reference uses local mktime; this container and our parser both
    use UTC for determinism)."""
    dt = datetime.fromtimestamp(us / 1_000_000, tz=timezone.utc).replace(
        microsecond=us % 1_000_000
    )
    return dt.strftime("%Y-%m-%d %H:%M:%S.%f") + "000"


def _exec_row(o: dict) -> str:
    return (
        f"  {o['id']}:{o['name']}  {o['num_hosts']}  {o['avg_time']}ns  "
        f"{o['max_time']}ns  {o['num_rows']}  {o['est_num_rows']}  "
        f"{o['peak_mem']} B  {o['est_peak_mem']} B  {o['detail']}"
    )


def _plan_bracket(o: dict) -> str:
    if o["name"] == "SCAN HDFS":
        return f" [{o['table_name']}, partitions: 1/1]"
    if o["name"] == "HASH JOIN":
        return f" [{o['join_type']}, {o['join_impl']}]"
    if o["name"] == "CROSS JOIN":
        return f" [{o['join_impl']}]"
    if o["name"] == "AGGREGATE" and o["agg_type"] == "POST":
        return " [FINALIZE]"
    return ""


def _card(o: dict) -> str:
    c = "unavailable" if o["cardinality"] == -1 else str(o["cardinality"])
    return f"  |  tuple-ids=0 row-size={o['row_size']}B cardinality={c}"


def _scan_lines(o: dict) -> list[str]:
    return [f"     partitions=1/1 files=1 size={o['size']}B"]


def _plan_section(ops: dict[int, dict]) -> list[str]:
    lines = ["F01:PLAN FRAGMENT [UNPARTITIONED]"]
    for oid in _F1_ORDER:
        o = ops[oid]
        lines.append(f"  {o['id']}:{o['name']}{_plan_bracket(o)}")
        lines.append(_card(o))
    lines.append("F00:PLAN FRAGMENT [RANDOM]")
    lines.append("  DATASTREAM SINK [FRAGMENT=F01, EXCHANGE=4, UNPARTITIONED]")

    def emit(oid: int, junction: bool) -> None:
        o = ops[oid]
        prefix = "  |--" if junction else "  "
        lines.append(f"{prefix}{o['id']}:{o['name']}{_plan_bracket(o)}")
        lines.append(_card(o))
        if o["name"] == "SCAN HDFS":
            lines.extend(_scan_lines(o))

    emit(3, False)
    if 8 in ops:  # CROSS JOIN present on the k%3=0 slice
        emit(8, False)
        emit(7, True)  # right child first (profile_analyzer.py:136-141)
    emit(2, False)
    emit(1, True)  # hash join right child
    emit(0, False)  # hash join left child
    return lines


def _counter_node(name: str, counters: list[TCounter], metadata: int = -1,
                  info: dict[str, str] | None = None,
                  ts_counters: list[TTimeSeriesCounter] | None = None,
                  num_children: int = 0) -> TRuntimeProfileNode:
    return TRuntimeProfileNode(
        name=name,
        num_children=num_children,
        counters=counters,
        metadata=metadata,
        indent=True,
        info_strings=dict(info or {}),
        info_strings_display_order=list(info or {}),
        # Impala convention: root-level counters hang off the "" parent
        child_counters_map={"": [c.name for c in counters]} if counters else {},
        time_series_counters=ts_counters,
    )


def _counter_nodes(ops: dict[int, dict],
                   frags: dict[int, dict]) -> list[TRuntimeProfileNode]:
    """The per-fragment counter subtree, one node per profile section the
    reference walks (profile_analyzer.py:198-270): Averaged Fragment /
    Coordinator Fragment / Fragment headers, each with CodeGen,
    HdfsTableSink, and ``*_NODE (id=N)`` children."""
    nodes: list[TRuntimeProfileNode] = []
    by_frag: dict[int, list[dict]] = {0: [], 1: []}
    for o in sorted(ops.values(), key=lambda x: x["id"]):
        by_frag[o["fragment_id"]].append(o)

    def op_node(o: dict, inst: int | None) -> TRuntimeProfileNode:
        name = f"{_NODE_NAME[o['name']]} (id={o['id']})"
        if inst is None:  # averaged: DOUBLE_VALUE counters (bit-packed)
            dv = TCounterType.DOUBLE_VALUE
            cs = [
                TCounter("RowsReturned", dv, pack_double(float(o["rows_returned"]))),
                TCounter("TotalTime", dv, pack_double(float(o["avg_time"]))),
                TCounter("InactiveTotalTime", dv, pack_double(o["avg_time"] / 3)),
            ]
            return _counter_node(name, cs, metadata=int(o["id"]))
        rr = o["rr_i1"] if inst == 1 else o["rr_i2"]
        tt = o["tt_i1"] if inst == 1 else o["tt_i2"]
        cs = [
            TCounter("RowsReturned", TCounterType.UNIT, int(rr)),
            TCounter("TotalTime", TCounterType.TIME_NS, int(tt)),
        ]
        # info strings only on instance 1 -> single-element harvest lists
        info = {"ExecOption": "Codegen Enabled"} if inst == 1 else None
        return _counter_node(name, cs, metadata=int(o["id"]), info=info)

    for fid, avg_hdr, inst_hdrs in (
        (0, "Averaged Fragment F00", ("Fragment F00", "Fragment F00")),
        (1, "Averaged Fragment F01", ("Coordinator Fragment F01", "Fragment F01")),
    ):
        fr = frags[fid]
        dv = TCounterType.DOUBLE_VALUE
        kids = by_frag[fid]
        nodes.append(_counter_node(avg_hdr, [], num_children=2 + len(kids)))
        nodes.append(_counter_node(
            "CodeGen",
            [TCounter("TotalTime", dv, pack_double(float(fr["avg_code_gen_total"])))],
        ))
        nodes.append(_counter_node(
            "HdfsTableSink",
            [TCounter("TotalTime", dv,
                      pack_double(float(fr["avg_hdfs_table_sink_total"])))],
        ))
        nodes.extend(op_node(o, None) for o in kids)
        for inst, hdr in enumerate(inst_hdrs, start=1):
            cg = fr["cg_i1"] if inst == 1 else fr["cg_i2"]
            sink = fr["sink_i1"] if inst == 1 else fr["sink_i2"]
            nodes.append(_counter_node(
                hdr, [],
                ts_counters=[TTimeSeriesCounter(
                    "MemoryUsage", TCounterType.BYTES, 500,
                    [int(cg) % 4096, int(sink) % 4096],
                )],
                num_children=2 + len(kids),
            ))
            nodes.append(_counter_node(
                "CodeGen", [TCounter("TotalTime", TCounterType.TIME_NS, int(cg))]))
            nodes.append(_counter_node(
                "HdfsTableSink",
                [TCounter("TotalTime", TCounterType.TIME_NS, int(sink))]))
            nodes.extend(op_node(o, inst) for o in kids)
    return nodes


def render_profile(q: dict, ops_list: list[dict],
                   frags_list: list[dict]) -> TRuntimeProfileTree:
    """Corpus row -> TRuntimeProfileTree: pre-order [root, Summary,
    Execution Profile, <counter nodes>], the node layout
    ``profile_analyzer.py`` indexes (nodes[1] = Summary) and walks."""
    k = int(q["query_id"])
    failed = k % 41 == 0
    is_ddl = q["query_type"] == "DDL"
    coord = f"host{k % 8}-1:22000"
    hosts = [f"host{k % 8}-{i}:22000" for i in range(1, int(q["num_hosts"]) + 1)]
    p, fst, rt = q["plan_time"], q["fragment_start_time"], q["runtime"]

    info = {
        "Query State": "EXCEPTION" if failed else "FINISHED",
        "Query Status": "Cancelled" if failed else "OK",
        "Query Type": q["query_type"],
        "Sql Statement": sql_stmt_for(q["sql_type"], k),
        "Start Time": _ts(q["start_time"]),
        "End Time": _ts(q["end_time"]),
        "Impala Version":
            f"impalad version 2.{k % 3}.0 RELEASE (build {k % 2})",
        "Coordinator": coord,
        "Query Id": str(q["query_id"]),
    }
    timeline = TEventSequence(
        "Query Timeline",
        [0, p, p, p + fst, rt],
        ["Query submitted", "Planning finished",
         "Ready to start remote fragments", "All remote fragments started",
         "Rows available"],
    )
    counter_nodes: list[TRuntimeProfileNode] = []
    if not is_ddl and not failed:
        mem = " ".join(f"{h}(45.00 MB)" for h in hosts)
        info["Per Node Peak Memory Usage"] = mem
        ops = {int(o["id"]): o for o in ops_list}
        frags = {int(f["id"]): f for f in frags_list}
        exec_summary = [
            "Operator  #Hosts  Avg Time  Max Time  #Rows  Est. #Rows  "
            "Peak Mem  Est. Peak Mem  Detail",
            "-" * 80,
            "",
        ] + [_exec_row(ops[oid]) for oid in sorted(ops, reverse=True)]
        info["ExecSummary"] = "\n".join(exec_summary)
        info["Plan"] = "\n".join(_plan_section(ops))
        counter_nodes = _counter_nodes(ops, frags)

    summary = TRuntimeProfileNode(
        name="Summary",
        num_children=0,
        metadata=-1,
        indent=False,
        info_strings=info,
        info_strings_display_order=list(info),
        event_sequences=[timeline],
    )
    root = TRuntimeProfileNode(
        name=f"Query (id={q['query_id']})",
        num_children=1 + (1 if counter_nodes else 0),
        metadata=-1,
        indent=False,
    )
    nodes = [root, summary]
    if counter_nodes:
        nodes.append(TRuntimeProfileNode(
            name=f"Execution Profile {q['query_id']}",
            num_children=6,  # 2 fragments x (averaged + 2 instances)
            metadata=-1,
            indent=False,
        ))
        nodes.extend(counter_nodes)
    return TRuntimeProfileTree(nodes)


def encode_profile(tree: TRuntimeProfileTree, seq: int) -> str:
    """One log line: seq, a filler field, then the base64(zlib(thrift))
    third field (analyze_profiles.py:14-17)."""
    blob = base64.b64encode(zlib.compress(tree.serialize())).decode("ascii")
    return f"{seq} profile {blob}"


def profiles_path(sf_dir: str) -> str:
    return cache_dir("profiles", sf_dir)


_OP_COLS = (
    "id name num_hosts avg_time max_time num_rows est_num_rows peak_mem "
    "est_peak_mem detail fragment_id table_name join_type join_impl agg_type "
    "cardinality row_size size rows_returned rr_i1 rr_i2 tt_i1 tt_i2"
).split()
_FRAG_COLS = (
    "id exchange_id avg_code_gen_total avg_hdfs_table_sink_total "
    "cg_i1 cg_i2 sink_i1 sink_i2"
).split()


def ensure_profiles(spark: SparkSession, sf_dir: str) -> str:
    """Render (once per sf_dir) the corpus into tag-partitioned profile log
    files; returns the log directory."""
    path = profiles_path(sf_dir)
    return build_once("profiles", path, lambda: _render_profiles(spark, sf_dir, path))


def _render_profiles(spark: SparkSession, sf_dir: str, path: str) -> None:
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .createOrReplaceTempView("orders")
    q = spark.sql(with_corpus("SELECT * FROM iwa_queries"))
    ops = spark.sql(with_corpus("SELECT * FROM iwa_operators")).groupBy("query_id").agg(
        F.collect_list(F.struct(*_OP_COLS)).alias("ops")
    )
    frags = spark.sql(with_corpus("SELECT * FROM iwa_fragments")).groupBy("query_id").agg(
        F.collect_list(F.struct(*_FRAG_COLS)).alias("frags")
    )
    joined = (
        q.join(ops, "query_id", "left")
        .join(frags, "query_id", "left")
        .withColumn("tag", F.when(F.col("k") % 2 == 0, "tpch").otherwise("adhoc"))
    )

    out_schema = T.StructType(
        [T.StructField("tag", T.StringType()), T.StructField("value", T.StringType())]
    )

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                raw_ops, raw_frags = rec["ops"], rec["frags"]
                ops_list = [] if raw_ops is None else [dict(o) for o in raw_ops]
                frags_list = [] if raw_frags is None else [dict(f) for f in raw_frags]
                tree = render_profile(rec, ops_list, frags_list)
                rows.append((rec["tag"], encode_profile(tree, int(rec["query_id"]))))
            yield pd.DataFrame(rows, columns=["tag", "value"])

    joined.mapInPandas(render, schema=out_schema).write.partitionBy("tag").mode(
        "overwrite"
    ).text(path)
