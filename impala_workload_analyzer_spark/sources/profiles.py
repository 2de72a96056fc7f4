"""Profile-log ingest (SURVEY.md §2.1 S1-S10): log lines -> typed tables.

Pipeline, all distributed:
- S1  ``spark.read.text`` over the tag-partitioned log dir; 3rd
      space-separated field is the payload (analyze_profiles.py:14-16).
- S2  base64 + zlib + thrift TCompactProtocol decode of the
      ``TRuntimeProfileTree`` inside ``mapInPandas``
      (analyze_profiles.py:17-21; wire reader in ``thrift_compact``).
- S3  status gate: drop unless State FINISHED / Status OK
      (profile_analyzer.py:24-26).
- S4  type dispatch QUERY/DML vs DDL (profile_analyzer.py:29-37).
- S5  ExecSummary regex parse — 10 fields/row, 3 header lines skipped
      (profile_analyzer.py:59-76).
- S6  stateful indentation parse of the Plan tree — fragment membership,
      parent edges, join children RIGHT CHILD FIRST
      (profile_analyzer.py:78-193). Kept as plain per-profile Python inside
      ``mapInPandas``: inherently sequential per profile, embarrassingly
      parallel across profiles.
- S7  counter harvest: averaged vs per-instance sections
      (profile_analyzer.py:195-270).
- S8  ``dropDuplicates(['query_id','id'])`` replaces the reference's unique
      Mongo index (profile_analyzer.py:15-21).
- S10 cascade delete by tag as a left-anti join
      (delete_queries_with_tag.py:5-9).

Correctness gate: the renderer (``profile_render``) derives profile text
from the corpus, so every parse output is oracle-checked as
``parse(render(corpus)) == corpus`` with the expected values re-derived in
DuckDB from the same corpus CTEs.
"""

from __future__ import annotations

import base64
import hashlib
import re
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus.corpus_sql import with_corpus
from .profile_render import ensure_profiles
from .thrift_compact import TRuntimeProfileTree

# --- faithful ports of the pretty-print parsers (profile_analyzer.py:341-403)

_SIZE_RE = re.compile(
    r"^((?P<GB>[0-9.]+) ?GB)?((?P<MB>[0-9.]+) ?MB)?((?P<KB>[0-9.]+) ?KB)?"
    r"((?P<B>-?[0-9.]+) ?B)?(0)?$"
)
_NUM_RE = re.compile(
    r"^((?P<B>[0-9.]+)B)?((?P<M>[0-9.]+)M)?((?P<K>[0-9.]+)K)?((?P<S>-?[0-9.]+))?$"
)
_TIME_RE = re.compile(
    r"^((?P<h>[0-9.]+)h)?((?P<m>[0-9.]+)m)?((?P<s>[0-9.]+)s)?((?P<ms>[0-9.]+)ms)?"
    r"((?P<us>[0-9.]+)us)?((?P<ns>[0-9.]+)ns)?$"
)


def _memo_str_int(fn):
    """Pretty-print parse results repeat heavily across a corpus (the same
    rendered sizes/times recur per operator); memoize string -> int."""
    cache: dict[str, int] = {}

    def wrapped(s: str) -> int:
        if s in cache:
            return cache[s]
        v = fn(s)
        if len(cache) < 1 << 16:
            cache[s] = v
        return v

    wrapped.__wrapped__ = fn
    return wrapped


# The regexes above are the spec (faithful ports of the reference's
# parsers); the _pp_* hot paths below hand-scan the same grammar because
# they run ~40x per profile x 150k profiles per ingest and the synthetic
# corpus defeats the memo (random values rarely repeat). Any input the
# scanner doesn't recognize falls back to the regex spec, and well-formed
# inputs accumulate float terms in the same descending-unit order, so the
# results are bit-identical (pinned by the f1-f3 round-trip oracles).


def _scan_num(s: str, i: int, n: int, signed: bool) -> tuple[float, int]:
    j = i
    if signed and j < n and s[j] == "-":
        j += 1
    k = j
    while k < n and (s[k] in "0123456789."):
        k += 1
    if k == j:
        raise ValueError(s)
    return float(s[i:k]), k


@_memo_str_int
def _pp_size(s: str) -> int:
    try:
        total = 0.0
        i, n = 0, len(s)
        rank = -1  # units must appear in strictly descending order (spec)
        while i < n:
            signed = s[i] == "-"
            num, j = _scan_num(s, i, n, signed=True)
            if j < n and s[j] == " ":
                j += 1
            if j < n and s[j] == "G" and s[j + 1 : j + 2] == "B" and rank < 0 and not signed:
                total += num * 1024**3
                i, rank = j + 2, 0
            elif j < n and s[j] == "M" and s[j + 1 : j + 2] == "B" and rank < 1 and not signed:
                total += num * 1024**2
                i, rank = j + 2, 1
            elif j < n and s[j] == "K" and s[j + 1 : j + 2] == "B" and rank < 2 and not signed:
                total += num * 1024
                i, rank = j + 2, 2
            elif j < n and s[j] == "B" and rank < 3:  # sign allowed here
                total += num
                i, rank = j + 1, 3
            elif j == n and s[i:j] == "0":  # the bare-"0" literal
                i = j
            else:
                raise ValueError(s)
        return int(total)
    except (ValueError, IndexError):
        g = _SIZE_RE.match(s).groupdict()
        total = 0.0
        for key, mult in (("GB", 1024**3), ("MB", 1024**2), ("KB", 1024), ("B", 1)):
            if g[key] is not None:
                total += float(g[key]) * mult
        return int(total)


@_memo_str_int
def _pp_number(s: str) -> int:
    try:
        total = 0.0
        i, n = 0, len(s)
        rank = -1
        while i < n:
            signed = s[i] == "-"
            num, j = _scan_num(s, i, n, signed=True)
            if j < n and s[j] == "B" and rank < 0 and not signed:
                total += num * 10**9
                i, rank = j + 1, 0
            elif j < n and s[j] == "M" and rank < 1 and not signed:
                total += num * 10**6
                i, rank = j + 1, 1
            elif j < n and s[j] == "K" and rank < 2 and not signed:
                total += num * 10**3
                i, rank = j + 1, 2
            elif j == n:  # bare scalar tail (sign allowed)
                total += num
                i = j
            else:
                raise ValueError(s)
        return int(total)
    except (ValueError, IndexError):
        g = _NUM_RE.match(s).groupdict()
        total = 0.0
        for key, mult in (("B", 10**9), ("M", 10**6), ("K", 10**3), ("S", 1)):
            if g[key] is not None:
                total += float(g[key]) * mult
        return int(total)


@_memo_str_int
def _pp_time(s: str) -> int:
    try:
        total = 0.0
        i, n = 0, len(s)
        rank = -1
        while i < n:
            num, j = _scan_num(s, i, n, signed=False)
            c = s[j] if j < n else ""
            if c == "h" and rank < 0:
                total += num * (3600 * 10**9)
                i, rank = j + 1, 0
            elif c == "m" and s[j + 1 : j + 2] != "s" and rank < 1:
                total += num * (60 * 10**9)
                i, rank = j + 1, 1
            elif c == "s" and rank < 2:
                total += num * 10**9
                i, rank = j + 1, 2
            elif c == "m" and s[j + 1 : j + 2] == "s" and rank < 3:  # "ms"
                total += num * 10**6
                i, rank = j + 2, 3
            elif c == "u" and s[j + 1 : j + 2] == "s" and rank < 4:
                total += num * 10**3
                i, rank = j + 2, 4
            elif c == "n" and s[j + 1 : j + 2] == "s" and rank < 5:
                total += num
                i, rank = j + 2, 5
            else:
                raise ValueError(s)
        return int(total)
    except (ValueError, IndexError):
        g = _TIME_RE.match(s).groupdict()
        total = 0.0
        for key, mult in (
            ("h", 3600 * 10**9), ("m", 60 * 10**9), ("s", 10**9),
            ("ms", 10**6), ("us", 10**3), ("ns", 1),
        ):
            if g[key] is not None:
                total += float(g[key]) * mult
        return int(total)


_EXEC_RE = re.compile(
    r"^[^0-9]*(?P<id>[0-9]+):(?P<name>[A-Z\- ]+?)\s+(?P<num_hosts>[0-9]+)\s+"
    r"(?P<avg_time>[0-9.hmsun]+)\s+(?P<max_time>[0-9.hmsun]+)\s+"
    r"(?P<num_rows>[0-9.BMK]+)\s+(?P<est_num_rows>[0-9.\-BMK]+)\s+"
    r"(?P<peak_mem>[0-9.]+( [GMKB]+)?)\s+(?P<est_peak_mem>[0-9.\-]+( [GMKB]+)?)\s+"
    r"(?P<detail>.*)$"
)
_FRAG_RE = re.compile(r"^F(?P<id>[0-9]+):PLAN FRAGMENT \[.+\]\s*$")
_SINK_RE = re.compile(
    r"^\s+DATASTREAM SINK \[FRAGMENT=F(?P<fragment_id>[0-9]+), "
    r"EXCHANGE=(?P<exchange_id>[0-9]+), (?P<detail>.*)\]\s*$"
)
_OP_RE = re.compile(
    r"^\s+(?P<indent>[|\- ]+)?(?P<id>[0-9]+):(?P<name>[A-Z\- ]+?)"
    r"(\s+\[(?P<detail>.+)\])?\s*$"
)
_CARD_RE = re.compile(
    r"^\s+[| ]+tuple-ids=(?P<tuple_ids>[0-9,N]+) row-size=(?P<row_size>[0-9.]+[GMKB]+) "
    r"cardinality=(?P<cardinality>[0-9]+|unavailable)\s*$"
)
_SCAN_RE = re.compile(
    r"^\s+partitions=(?P<partitions>[0-9]+/[0-9]+) files=(?P<files>[0-9]+) "
    r"size=(?P<size>[0-9.]+[GMKB]+)\s*$"
)
_NODE_RE = re.compile(r"^(?P<name>.+_NODE) \(id=(?P<id>[0-9]+)\)$")
_HOST_RE = re.compile(r"(?P<host>[^() ]+:[0-9]+)")
_VERSION_RE = re.compile(
    r"^impalad version (?P<impala_version>[^ ]+) (?P<impala_flag>[^ ]+) "
    r"\(build (?P<impala_build>[0-9a-zA-Z]+)\)$"
)


_DAY_CACHE: dict[str, int] = {}  # "YYYY-MM-DD" -> epoch seconds at midnight


def _micros(ts: str) -> int:
    # fixed-width "YYYY-MM-DD HH:MM:SS.ffffff000" (profile_render._ts);
    # strptime re-parses the format string every call (~10x slower), and
    # a corpus clusters on few distinct dates, so the date part is memoized
    if len(ts) == 29 and ts[19] == ".":
        day = _DAY_CACHE.get(ts[:10])
        if day is None:
            d = datetime.strptime(ts[:10], "%Y-%m-%d")
            day = int(d.replace(tzinfo=timezone.utc).timestamp())
            _DAY_CACHE[ts[:10]] = day
        sec = day + int(ts[11:13]) * 3600 + int(ts[14:16]) * 60 + int(ts[17:19])
        return sec * 1_000_000 + int(ts[20:26])
    dt = datetime.strptime(ts, "%Y-%m-%d %H:%M:%S.%f000")
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)


def parse_profile(tree: TRuntimeProfileTree, tag: str):
    """One decoded TRuntimeProfileTree -> (query_row | None, operator_rows,
    fragment_rows).

    Mirrors ProfileAnalyzer.analyze / analyzeQuery / analyzeDDL
    (profile_analyzer.py:23-313): ``nodes[1]`` is the Summary node whose
    info strings carry the ExecSummary table and Plan text; the remaining
    nodes are walked linearly for counters.
    """
    info = tree.nodes[1].info_strings
    # S3 status gate (profile_analyzer.py:24-26)
    if info.get("Query State") != "FINISHED" or info.get("Query Status") != "OK":
        return None, [], []
    qtype = info["Query Type"]
    timeline = next(
        es.timestamps
        for es in tree.nodes[1].event_sequences or ()
        if es.name == "Query Timeline"
    )
    vm = _VERSION_RE.match(info["Impala Version"])
    query = {
        "tag": tag,
        "query_id": info["Query Id"],
        "query_type": qtype,
        "sql_stmt": info["Sql Statement"],
        "runtime": timeline[-1],
        "start_time": _micros(info["Start Time"]),
        "end_time": _micros(info["End Time"]),
        "impala_version": vm.group("impala_version"),
        "impala_flag": vm.group("impala_flag"),
        "impala_build": vm.group("impala_build"),
        "plan_time": None, "fragment_start_time": None,
        "num_hdfs_scans": None, "num_tables": None,
    }

    if qtype == "DDL":  # analyzeDDL (profile_analyzer.py:39-48)
        hosts = [info["Coordinator"]]
        query["cluster"] = hashlib.md5(" ".join(hosts).encode()).hexdigest()
        query["num_hosts"] = len(hosts)
        return query, [], []
    if qtype not in ("QUERY", "DML"):
        return None, [], []
    if "ExecSummary" not in info:  # e.g. GET_SCHEMAS (profile_analyzer.py:51-53)
        return None, [], []

    # S5 ExecSummary (profile_analyzer.py:59-76); 3 header lines skipped
    operators: dict[int, dict] = {}
    for line in info["ExecSummary"].split("\n")[3:]:
        m = _EXEC_RE.match(line)
        if not m:
            continue
        op = {
            "id": int(m.group("id")),
            "query_id": query["query_id"],
            "name": m.group("name"),
            "num_hosts": int(m.group("num_hosts")),
            "avg_time": _pp_time(m.group("avg_time")),
            "max_time": _pp_time(m.group("max_time")),
            "num_rows": _pp_number(m.group("num_rows")),
            "est_num_rows": _pp_number(m.group("est_num_rows")),
            "peak_mem": _pp_size(m.group("peak_mem")),
            "est_peak_mem": _pp_size(m.group("est_peak_mem")),
            "detail": m.group("detail").strip(),
        }
        operators[op["id"]] = op

    # S6 Plan tree (profile_analyzer.py:78-193)
    fragments: dict[int, dict] = {}
    fragment: dict | None = None
    curr: dict | None = None
    parent_ops: dict[int, dict | None] = {0: None}
    for line in info["Plan"].split("\n"):
        # cheap substring dispatch: a plan is mostly predicate/detail lines
        # that match none of the five patterns — don't pay 5 regex fails
        if "tuple-ids=" in line:
            m = _CARD_RE.match(line)
            if m:
                card = m.group("cardinality")
                curr["cardinality"] = -1 if card == "unavailable" else int(card)
                curr["row_size"] = _pp_size(m.group("row_size"))
            continue
        if " files=" in line:
            m = _SCAN_RE.match(line)
            if m:
                curr["size"] = _pp_size(m.group("size"))
            continue
        if "DATASTREAM SINK" not in line and ":" not in line:
            continue
        m = _FRAG_RE.match(line)
        if m:
            fragment = {"id": int(m.group("id")), "query_id": query["query_id"],
                        "exchange_id": None}
            fragments[fragment["id"]] = fragment
            curr = None
            parent_ops = {0: None}
            continue
        m = _SINK_RE.match(line)
        if m:
            fragment["exchange_id"] = int(m.group("exchange_id"))
            continue
        m = _OP_RE.match(line)
        if m:
            curr = operators[int(m.group("id"))]
            indent = m.group("indent")
            if indent is None:
                parent = parent_ops[0]
            elif indent.endswith("--"):
                width = len(indent)
                parent_indent = 0
                for key in parent_ops:
                    if key < width:
                        parent_indent = max(parent_indent, key)
                parent = parent_ops[parent_indent]
            else:
                parent = parent_ops[len(indent)]
            curr["fragment_id"] = fragment["id"]
            curr["parent_id"] = None if parent is None else parent["id"]
            if parent is not None and parent["name"] in ("HASH JOIN", "CROSS JOIN"):
                # right child is listed first (profile_analyzer.py:136-141)
                if "right_child_id" not in parent:
                    parent["right_child_id"] = curr["id"]
                else:
                    parent["left_child_id"] = curr["id"]
            detail = m.group("detail")
            name = m.group("name")
            if name == "SCAN HDFS":
                curr["table"] = re.split(" |,", detail)[0]
            elif name == "HASH JOIN":
                curr["join_type"] = re.split(", ", detail)[0]
                curr["join_impl"] = re.split(", ", detail)[1]
            elif name == "CROSS JOIN":
                curr["join_impl"] = detail
            elif name == "AGGREGATE":
                if detail is None:
                    curr["agg_type"] = "PRE"
                else:
                    assert detail == "FINALIZE"
                    curr["agg_type"] = "POST"
            parent_ops[0 if indent is None else len(indent)] = curr
            continue

    # S7 counter harvest: linear node walk (profile_analyzer.py:195-270).
    # Counter values come through TCounter.scalar() — DOUBLE_VALUE counters
    # are i64 bit patterns reinterpreted as doubles (the F4 bitcast).
    is_averaged = False
    curr_frag: dict | None = None
    inst_seen: dict[int, int] = {}  # fragment id -> instance headers seen
    for node in tree.nodes:
        name = node.name
        # fragment headers, matched by fixed prefix (regex equivalents kept
        # above for reference): "Averaged Fragment F7" / "Coordinator
        # Fragment F7" / "Fragment F7"
        fid = None
        if name.startswith("Averaged Fragment F"):
            fid, avg = name[19:], True
        elif name.startswith("Coordinator Fragment F"):
            fid, avg = name[22:], False
        elif name.startswith("Fragment F"):
            fid, avg = name[10:], False
        if fid is not None and fid.isdigit():
            is_averaged = avg
            curr_frag = fragments[int(fid)]
            # TTimeSeriesCounter harvest (RuntimeProfile.thrift:50-59):
            # instance fragment headers carry sampled counters (e.g. RAM
            # every period_ms). The reference declares the field but no
            # script reads it — this is its first landing column. The
            # instance ordinal counts EVERY non-averaged header in node
            # order, including headers with no series — so a profile
            # whose first instance reports nothing still attributes the
            # second instance's samples to instance 2, never 1.
            if not avg:
                inst = inst_seen[curr_frag["id"]] = (
                    inst_seen.get(curr_frag["id"], 0) + 1
                )
                if node.time_series_counters:
                    curr_frag.setdefault("ts", []).append(
                        (inst, node.time_series_counters)
                    )
            continue
        if node.name in ("CodeGen", "HdfsTableSink"):
            which = {"CodeGen": "code_gen", "HdfsTableSink": "hdfs_table_sink"}[
                node.name
            ]
            if is_averaged:
                curr_frag["avg_" + which] = {
                    c.name: c.scalar() for c in node.counters
                }
            else:
                store = curr_frag.setdefault(which, {})
                for c in node.counters:
                    store.setdefault(c.name, []).append(c.scalar())
            continue
        # "SOME_NODE (id=7)" — direct parse of the _NODE_RE shape
        if name.endswith(")") and " (id=" in name:
            stem, _, idpart = name.rpartition(" (id=")
            if not (stem.endswith("_NODE") and idpart[:-1].isdigit()):
                continue
            op = operators[int(idpart[:-1])]
            if is_averaged:
                op["avg_counters"] = {c.name: c.scalar() for c in node.counters}
            else:
                counters = op.setdefault("counters", {})
                for c in node.counters:
                    counters.setdefault(c.name, []).append(c.scalar())
                # instance-node info strings harvested into lists
                # (profile_analyzer.py:258-262)
                for key, value in node.info_strings.items():
                    op.setdefault("info", {}).setdefault(key, []).append(value)

    # query-level rollups (profile_analyzer.py:284-308)
    if "Per Node Peak Memory Usage" in info:
        hosts = _HOST_RE.findall(info["Per Node Peak Memory Usage"])
    else:
        hosts = [info["Coordinator"]]
    hosts.sort()
    scans = [o for o in operators.values() if o["name"] == "SCAN HDFS"]
    query.update({
        "plan_time": timeline[1],
        "fragment_start_time": timeline[3] - timeline[1],
        "cluster": hashlib.md5(" ".join(hosts).encode()).hexdigest(),
        "num_hosts": max(o["num_hosts"] for o in operators.values()),
        "num_hdfs_scans": len(scans),
        "num_tables": len({o["table"] for o in scans}),
    })
    assert len(hosts) >= query["num_hosts"]
    return query, list(operators.values()), list(fragments.values())


# --- Spark plumbing ---------------------------------------------------------

_L, _S, _D = T.LongType(), T.StringType(), T.DoubleType()


def _schema(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


OP_SCHEMA = _schema(
    [("tag", _S), ("query_id", _S), ("id", _L), ("name", _S), ("num_hosts", _L),
     ("avg_time", _L), ("max_time", _L), ("num_rows", _L), ("est_num_rows", _L),
     ("peak_mem", _L), ("est_peak_mem", _L), ("detail", _S), ("fragment_id", _L),
     ("parent_id", _L), ("left_child_id", _L), ("right_child_id", _L),
     ("table_name", _S), ("join_type", _S), ("join_impl", _S), ("agg_type", _S),
     ("cardinality", _L), ("row_size", _L), ("size", _L), ("rows_returned", _L),
     ("rr_i1", _L), ("rr_i2", _L), ("tt_i1", _L), ("tt_i2", _L)]
)
FRAG_SCHEMA = _schema(
    [("tag", _S), ("query_id", _S), ("id", _L), ("exchange_id", _L),
     ("avg_code_gen_total", _D), ("avg_hdfs_table_sink_total", _D),
     ("cg_i1", _L), ("cg_i2", _L), ("sink_i1", _L), ("sink_i2", _L)]
)
QUERY_SCHEMA = _schema(
    [("tag", _S), ("query_id", _S), ("query_type", _S), ("sql_stmt", _S),
     ("runtime", _L), ("plan_time", _L), ("fragment_start_time", _L),
     ("start_time", _L), ("end_time", _L), ("cluster", _S), ("num_hosts", _L),
     ("num_hdfs_scans", _L), ("num_tables", _L), ("impala_version", _S),
     ("impala_flag", _S), ("impala_build", _S)]
)
# TTimeSeriesCounter landing table: one row per fragment instance, the
# sampled counters as a map keyed "name|unit|period_ms" -> samples. A map
# (not exploded columns) because a node may carry any number of series of
# any length — the wire format's shape survives into the column type.
TS_SCHEMA = _schema(
    [("tag", _S), ("query_id", _S), ("fragment_id", _L), ("instance", _L),
     ("time_series", T.MapType(_S, T.ArrayType(_L)))]
)
# TCounterType enum names (RuntimeProfile.thrift:19-27)
_UNIT_NAME = ("UNIT", "UNIT_PER_SECOND", "CPU_TICKS", "BYTES",
              "BYTES_PER_SECOND", "TIME_NS", "DOUBLE_VALUE")


def _decoded_lines(spark: SparkSession, sf_dir: str,
                   input_dir: str | None = None,
                   tag: str | None = None) -> DataFrame:
    """S1: read log lines; payload is the 3rd space-separated field.

    Default source is the rendered fixture corpus (tag from its partition
    column); ``input_dir`` points the same reader at any directory of
    profile log lines with the given ``tag`` — the CLI ``ingest --input``
    path, i.e. the reference's ``analyze_profiles.py tag file`` loop as
    one job."""
    if input_dir is None:
        src, tag_col = ensure_profiles(spark, sf_dir), F.col("tag").cast("string")
    else:
        src, tag_col = input_dir, F.lit(tag or "default")
    lines = spark.read.text(src).select(
        F.split("value", " ").getItem(2).alias("blob"), tag_col.alias("tag")
    )
    # decode+parse is CPU-bound per profile, not byte-bound: the log dir's
    # file count (not core count) would otherwise set task parallelism.
    # Only pay the repartition shuffle when the source actually has too few
    # splits — the rendered logs land as ~2x core-count uniform files, so
    # the common case reads pre-parallel with zero extra exchange.
    if lines.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        lines = lines.repartition(spark.sparkContext.defaultParallelism)
    return lines


def _decode(blob: str) -> TRuntimeProfileTree:
    """S2: base64 + zlib + thrift compact (analyze_profiles.py:17-21), as
    the lean projection decode — the tree fields no analyzer consumes are
    skipped, not materialized."""
    return TRuntimeProfileTree.deserialize(
        zlib.decompress(base64.b64decode(blob)), lean=True
    )


def _op_row(tag: str, o: dict) -> tuple:
    avg = o.get("avg_counters", {})
    cnt = o.get("counters", {})
    rr = cnt.get("RowsReturned", [None, None])
    tt = cnt.get("TotalTime", [None, None])
    return (
        tag, o["query_id"], o["id"], o["name"], o["num_hosts"], o["avg_time"],
        o["max_time"], o["num_rows"], o["est_num_rows"], o["peak_mem"],
        o["est_peak_mem"], o["detail"], o.get("fragment_id"), o.get("parent_id"),
        o.get("left_child_id"), o.get("right_child_id"), o.get("table"),
        o.get("join_type"), o.get("join_impl"), o.get("agg_type"),
        o.get("cardinality"), o.get("row_size"), o.get("size"),
        None if "RowsReturned" not in avg else int(avg["RowsReturned"]),
        rr[0], rr[1], tt[0], tt[1],
    )


def _frag_row(tag: str, fr: dict) -> tuple:
    cg = fr.get("code_gen", {}).get("TotalTime", [None, None])
    sink = fr.get("hdfs_table_sink", {}).get("TotalTime", [None, None])
    return (
        tag, fr["query_id"], fr["id"], fr.get("exchange_id"),
        fr.get("avg_code_gen", {}).get("TotalTime"),
        fr.get("avg_hdfs_table_sink", {}).get("TotalTime"),
        cg[0], cg[1], sink[0], sink[1],
    )


def _query_row(q: dict) -> tuple:
    return tuple(q[f.name] for f in QUERY_SCHEMA.fields)


def _parse_table(spark: SparkSession, sf_dir: str, which: str,
                 schema: T.StructType,
                 input_dir: str | None = None,
                 tag: str | None = None) -> DataFrame:
    lines = _decoded_lines(spark, sf_dir, input_dir, tag)
    # mapInPandas, deliberately: a mapInArrow twin emitting RecordBatch
    # via pa.array() benched SLOWER end to end (best-of-3 5.63 s vs
    # 4.96 s on sf0.1 operators) — Spark's pandas->Arrow serializer
    # converts the object-Series columns faster than per-batch pa.array
    # over Python lists. Measured r05; see commit for the A/B.
    out = lines.mapInPandas(batch_parser(which, schema), schema=schema)
    if which in ("operators", "fragments"):
        # S8: replaces the unique (query_id, id) index (profile_analyzer.py:15-21)
        out = out.dropDuplicates(["query_id", "id"])
    elif which == "time_series":
        out = out.dropDuplicates(["query_id", "fragment_id", "instance"])
    else:
        out = out.dropDuplicates(["query_id"])
    return out


def _parse_one(blob: str, tag: str):
    """Decode+parse one log line: ``(query, ops, frags)``, "rejected" by
    the S3 status gate, or "bad" (corrupt base64/zlib/thrift). A 100 TB
    ingest cannot abort on one bad blob: undecodable lines are quarantined
    (the badRecordsPath pattern), never raised. Every table and ing5 go
    through this routine, so ing5's ``n_bad`` is what the tables drop."""
    try:
        query, ops, frags = parse_profile(_decode(blob), tag)
    except Exception:  # noqa: BLE001 — quarantine, don't abort
        return "bad"
    return "rejected" if query is None else (query, ops, frags)


def _parse_rows(which: str, blobs, tags) -> list[tuple]:
    """Decode+parse one batch of (blob, tag) pairs into output rows."""
    rows: list[tuple] = []
    for blob, tag in zip(blobs, tags):
        parsed = _parse_one(blob, tag)
        if isinstance(parsed, str):
            continue
        query, ops, frags = parsed
        if which == "operators":
            rows.extend(_op_row(tag, o) for o in ops)
        elif which == "fragments":
            rows.extend(_frag_row(tag, fr) for fr in frags)
        elif which == "time_series":
            for fr in frags:
                for inst, tscs in fr.get("ts", []):
                    series: dict[str, list[int]] = {}
                    for t in tscs:
                        # unknown future TCounterType values land as the
                        # raw enum number instead of crashing the batch
                        unit = (_UNIT_NAME[t.type]
                                if 0 <= t.type < len(_UNIT_NAME)
                                else str(t.type))
                        key = f"{t.name}|{unit}|{t.period_ms}"
                        # Impala keys counters uniquely by name per node;
                        # if a foreign writer ever repeats one, keep the
                        # samples under a disambiguated name (documented
                        # lossy RENAME, never a silent drop)
                        n = 2
                        while key in series:
                            key = f"{t.name}#{n}|{unit}|{t.period_ms}"
                            n += 1
                        series[key] = list(t.values)
                    rows.append((tag, fr["query_id"], fr["id"], inst, series))
        else:
            rows.append(_query_row(query))
    return rows


def batch_parser(which: str, schema: T.StructType):
    """The decode+parse Arrow-batch worker, shared by the batch ingest
    (``_parse_table``) and the streaming ingest
    (``streaming.stream_queries.streaming_profile_ingest``) — identical
    rows either way, which is what the stream's ing1-oracle check pins."""
    col_names = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = _parse_rows(which, pdf["blob"].tolist(), pdf["tag"].tolist())
            if not rows:  # yielding empty frames only feeds pandas'
                continue  # all-NA concat deprecation path downstream
            # columnar build: pandas infers dtype per column, not per cell —
            # measurably faster than the row-wise list-of-tuples path on
            # wide schemas, and Arrow serializes the same either way
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=object)
                 for n, c in zip(col_names, zip(*rows))}
            )

    return run


def parsed_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ing1 — full ingest to the operators table (S1-S8)."""
    return _parse_table(spark, sf_dir, "operators", OP_SCHEMA)


def parsed_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ing2 — full ingest to the fragments table."""
    return _parse_table(spark, sf_dir, "fragments", FRAG_SCHEMA)


def parsed_queries(spark: SparkSession, sf_dir: str,
                   input_dir: str | None = None,
                   tag: str | None = None) -> DataFrame:
    """ing3 — full ingest to the queries table (incl. DDL path + status
    gate). ``input_dir``/``tag`` ingest an arbitrary log directory."""
    return _parse_table(spark, sf_dir, "queries", QUERY_SCHEMA, input_dir, tag)


def parsed_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTimeSeriesCounter harvest to a ``time_series`` MapType column —
    the last declared wire field with no landing column anywhere
    (RuntimeProfile.thrift:50-59 declares it; no reference script reads
    it). One row per fragment instance; the map key is
    "name|unit|period_ms", the value the raw sample vector, so every
    byte of field 10 survives into the table."""
    return _parse_table(spark, sf_dir, "time_series", TS_SCHEMA)


def explode_time_series(df: DataFrame) -> DataFrame:
    """Shared explode of the ``time_series`` MapType column to one row
    per (fragment instance, counter) with plain columns. Used by BOTH
    the batch harvest (ing6) and its streaming twin (st20) so their
    column contract holds by construction, not by parallel edits.

    The key re-parse is RIGHT-anchored — period_ms and unit are the
    last two '|' fields, the counter name is everything before them —
    so a counter whose own name contains '|' round-trips exactly.

    Every published column is SCALAR: the sample vector lands as a
    canonical CSV string (``samples_csv``) plus the integers
    (n_samples, first_sample, last_sample), because the driver's
    correctness harness canonicalizes result cells with pandas
    ``sort_values`` and an ArrayType cell is unhashable there (the
    round-13 ing6 red row). The raw array stays queryable on the
    MapType landing table itself; this projection is the published,
    driver-hashable surface. first/last use try_element_at so a
    wire-legal zero-sample series lands as NULLs, never an error."""
    e = df.select(
        "tag", "query_id", "fragment_id", "instance",
        F.explode("time_series").alias("series_key", "samples"),
    )
    parts = F.split("series_key", "\\|")
    return e.select(
        "tag", "query_id", "fragment_id", "instance",
        F.expr(
            "array_join(slice(split(series_key, '\\\\|'), 1,"
            " size(split(series_key, '\\\\|')) - 2), '|')"
        ).alias("counter_name"),
        F.element_at(parts, -2).alias("unit"),
        F.element_at(parts, -1).cast("bigint").alias("period_ms"),
        F.size("samples").cast("bigint").alias("n_samples"),
        F.try_element_at("samples", F.lit(1)).alias("first_sample"),
        F.try_element_at("samples", F.lit(-1)).alias("last_sample"),
        F.array_join(F.col("samples").cast("array<string>"), ",")
        .alias("samples_csv"),
    )


def time_series_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ing6 — the harvested time series, exploded to one row per
    (fragment instance, counter): full wire fidelity as plain columns
    (name, unit, period_ms, samples array). The MapType landing column
    itself is exercised here via map explosion (F12 HOF surface); ts1
    consumes it analytically.

    Scale: rides the ingest scan (one mapInPandas pass, no extra
    shuffle beyond the S8 dedup the other ingest tables pay)."""
    return explode_time_series(parsed_time_series(spark, sf_dir))


def time_series_ramp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts1 — memory-ramp rollup over the harvested time series: per
    (tag, fragment id, instance slot), how many sampled series ramp up
    vs down between first and last sample, the signed total/extreme
    deltas, and the total sampled span in ms. Pure integer arithmetic
    (no division), computed from the MapType column with JVM-side HOFs
    — first/last via element_at, span from the parsed period and the
    sample count; nothing crosses into Python.

    Scale: explode fans out |series| rows per instance (bounded by the
    wire payload), then one small groupBy — the aggregate output is
    |tags| x |fragments| x |instances| rows regardless of corpus size."""
    return ramp_over(parsed_time_series(spark, sf_dir))


def ramp_over(df: DataFrame) -> DataFrame:
    """ts1's rollup over a ``time_series``-bearing frame (split out so a
    constructed frame can exercise wire-legal shapes the rendered corpus
    never emits — e.g. a zero-sample series, whose span contribution
    must clamp to 0, not -period, and whose first/last land as NULL
    instead of raising; ADVICE r13)."""
    s = df.select(
        "tag", "fragment_id", "instance",
        F.explode("time_series").alias("series_key", "samples"),
    )
    first = F.try_element_at("samples", F.lit(1))
    last = F.try_element_at("samples", F.lit(-1))
    # right-anchored: period_ms is the LAST '|' field (names may contain '|')
    period = F.element_at(F.split("series_key", "\\|"), -1).cast("bigint")
    delta = (last - first).alias("delta")
    return (
        s.select(
            "tag", "fragment_id", "instance", delta,
            (period * F.greatest(F.size("samples") - 1, F.lit(0)))
            .alias("span_ms"),
        )
        .groupBy("tag", "fragment_id", "instance")
        .agg(
            F.count("*").alias("n_series"),
            # coalesce: a NULL delta (zero-sample series) ramps neither
            # way — count it as 0, matching the oracle's CASE ... ELSE 0
            F.sum(F.coalesce((F.col("delta") > 0).cast("bigint"), F.lit(0)))
            .alias("n_ramp_up"),
            F.sum(F.coalesce((F.col("delta") < 0).cast("bigint"), F.lit(0)))
            .alias("n_ramp_down"),
            F.sum("delta").alias("sum_delta"),
            F.max("delta").alias("max_delta"),
            F.min("delta").alias("min_delta"),
            F.sum("span_ms").alias("sum_span_ms"),
        )
    )


def materialized_table(spark: SparkSession, sf_dir: str, which: str) -> DataFrame:
    """Ingest output as a materialized parquet table (written once per
    sf_dir). Downstream consumers (SQL enrichment, clustering, cascade
    delete) read THIS — the reference's Java/analytics passes likewise read
    the materialized Mongo collections, not re-parsed profiles. The ing1-3
    driver queries still run the real parse; this is the sink they would
    write (S8)."""
    from ..catalog import land  # noqa: PLC0415

    fn = {"operators": parsed_operators, "fragments": parsed_fragments,
          "queries": parsed_queries}[which]
    return land(spark, "ingest", sf_dir, which, lambda: fn(spark, sf_dir))


def delete_by_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ing4 — S10 cascade delete re-expressed as a left-anti join
    (delete_queries_with_tag.py:5-9): drop the 'adhoc' workload, return the
    surviving operators."""
    doomed = materialized_table(spark, sf_dir, "queries").filter(
        F.col("tag") == "adhoc"
    ).select("query_id")
    return (
        materialized_table(spark, sf_dir, "operators")
        .join(doomed, "query_id", "left_anti")
        .select("query_id", "id", "name")
    )


HEALTH_SCHEMA = _schema([
    ("tag", _S), ("n_lines", _L), ("n_parsed", _L),
    ("n_rejected", _L), ("n_bad", _L),
])


def ingest_health(spark: SparkSession, sf_dir: str,
                  input_dir: str | None = None,
                  tag: str | None = None) -> DataFrame:
    """ing5 — ingest health / quarantine accounting: per tag, how many log
    lines arrived, parsed into query rows, were rejected by the status
    gate (S3: non-FINISHED/OK, unknown types, missing ExecSummary), or
    failed to decode at all (corrupt base64/zlib/thrift) — counted by the
    same ``_parse_one`` the tables skip those lines with.

    Scale: the counters aggregate per Arrow batch inside the scan (a few
    rows per task), then one tiny groupBy(tag) — the profile stream is
    read once and never shuffled."""
    lines = _decoded_lines(spark, sf_dir, input_dir, tag)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            counts: dict[str, list[int]] = {}
            for blob, tg in zip(pdf["blob"].tolist(), pdf["tag"].tolist()):
                c = counts.setdefault(tg, [0, 0, 0, 0])
                c[0] += 1
                outcome = _parse_one(blob, tg)
                c[3 if outcome == "bad" else 2 if outcome == "rejected" else 1] += 1
            yield pd.DataFrame(
                [(t, *c) for t, c in counts.items()],
                columns=[f.name for f in HEALTH_SCHEMA.fields],
            )

    return (
        lines.mapInPandas(run, schema=HEALTH_SCHEMA)
        .groupBy("tag")
        .agg(
            F.sum("n_lines").alias("n_lines"),
            F.sum("n_parsed").alias("n_parsed"),
            F.sum("n_rejected").alias("n_rejected"),
            F.sum("n_bad").alias("n_bad"),
        )
    )


# --- DuckDB oracles: expected parse output re-derived from the corpus -------

_K = "CAST(query_id AS BIGINT)"
_TAG = f"CASE WHEN {_K} % 2 = 0 THEN 'tpch' ELSE 'adhoc' END"

_HOSTS_SORTED = (
    "array_to_string(list_sort(list_transform(range(1, CAST(num_hosts AS BIGINT) + 1),"
    " i -> 'host' || CAST(k % 8 AS VARCHAR) || '-' || CAST(i AS VARCHAR) || ':22000')), ' ')"
)

ORACLES = {
    "ing1_parsed_operators": with_corpus(f"""
        SELECT {_TAG} AS tag, query_id, id, name, num_hosts, avg_time, max_time,
               num_rows, est_num_rows, peak_mem, est_peak_mem, detail,
               fragment_id, parent_id, left_child_id, right_child_id,
               table_name, join_type, join_impl, agg_type,
               cardinality, row_size, size,
               rows_returned, rr_i1, rr_i2, tt_i1, tt_i2
        FROM iwa_operators WHERE {_K} % 41 <> 0"""),
    "ing2_parsed_fragments": with_corpus(f"""
        SELECT {_TAG} AS tag, query_id, id, exchange_id,
               avg_code_gen_total, avg_hdfs_table_sink_total,
               cg_i1, cg_i2, sink_i1, sink_i2
        FROM iwa_fragments WHERE {_K} % 41 <> 0"""),
    "ing3_parsed_queries": with_corpus(f"""
        SELECT {_TAG} AS tag, query_id, query_type,
               CASE sql_type
                 WHEN 'DdlStmt' THEN 'CREATE TABLE t_' || CAST(k AS VARCHAR) || ' (i INT)'
                 WHEN 'InsertStmt' THEN 'INSERT INTO t_' || CAST(k % 7 AS VARCHAR)
                      || ' SELECT c1 FROM s WHERE id > ' || CAST(k AS VARCHAR)
                 WHEN 'UnionStmt' THEN 'SELECT c1 FROM a WHERE id = ' || CAST(k AS VARCHAR)
                      || ' UNION ALL SELECT c1 FROM b'
                 ELSE CASE k % 4
                   WHEN 1 THEN 'SELECT c1, sum(c2) FROM t WHERE id > '
                        || CAST(k AS VARCHAR) || ' GROUP BY c1'
                   WHEN 2 THEN 'SELECT c1 FROM t WHERE id IN (SELECT id FROM u WHERE x = '
                        || CAST(k AS VARCHAR) || ')'
                   WHEN 3 THEN 'SELECT c1, rank() OVER (PARTITION BY c2 ORDER BY c3 DESC) '
                        || 'FROM t WHERE name LIKE ''a' || CAST(k % 10 AS VARCHAR) || '%'''
                   ELSE 'SELECT c1, c2 FROM t WHERE id = ' || CAST(k AS VARCHAR)
                        || ' ORDER BY c1 LIMIT 10'
                 END
               END AS sql_stmt,
               runtime,
               CASE WHEN query_type = 'DDL' THEN NULL ELSE plan_time END AS plan_time,
               CASE WHEN query_type = 'DDL' THEN NULL ELSE fragment_start_time END
                 AS fragment_start_time,
               start_time, end_time,
               CASE WHEN query_type = 'DDL'
                    THEN md5('host' || CAST(k % 8 AS VARCHAR) || '-1:22000')
                    ELSE md5({_HOSTS_SORTED}) END AS cluster,
               CASE WHEN query_type = 'DDL' THEN 1 ELSE num_hosts END AS num_hosts,
               CASE WHEN query_type = 'DDL' THEN NULL ELSE num_hdfs_scans END
                 AS num_hdfs_scans,
               CASE WHEN query_type = 'DDL' THEN NULL ELSE num_tables END AS num_tables,
               '2.' || CAST(k % 3 AS VARCHAR) || '.0' AS impala_version,
               'RELEASE' AS impala_flag,
               CAST(k % 2 AS VARCHAR) AS impala_build
        FROM iwa_queries WHERE k % 41 <> 0"""),
    "ing4_delete_by_tag": with_corpus(f"""
        SELECT query_id, id, name
        FROM iwa_operators WHERE {_K} % 41 <> 0 AND {_K} % 2 = 0"""),
    # the rendered corpus carries one MemoryUsage series per fragment
    # instance: BYTES, period 500 ms, samples [cg % 4096, sink % 4096]
    # (profile_render.py's _counter_nodes); the oracle re-derives both
    # instances from the corpus fragment columns. The sample vector is
    # published as scalars (csv string + n/first/last) — the driver's
    # canonicalizer cannot hash a list cell (round-13 red row)
    "ing6_time_series": with_corpus(f"""
        SELECT {_TAG} AS tag, query_id, id AS fragment_id,
               CAST(1 AS BIGINT) AS instance,
               'MemoryUsage' AS counter_name, 'BYTES' AS unit,
               CAST(500 AS BIGINT) AS period_ms,
               CAST(2 AS BIGINT) AS n_samples,
               CAST(cg_i1 % 4096 AS BIGINT) AS first_sample,
               CAST(sink_i1 % 4096 AS BIGINT) AS last_sample,
               CAST(cg_i1 % 4096 AS VARCHAR) || ',' ||
                 CAST(sink_i1 % 4096 AS VARCHAR) AS samples_csv
        FROM iwa_fragments WHERE {_K} % 41 <> 0
        UNION ALL
        SELECT {_TAG} AS tag, query_id, id AS fragment_id,
               CAST(2 AS BIGINT) AS instance,
               'MemoryUsage' AS counter_name, 'BYTES' AS unit,
               CAST(500 AS BIGINT) AS period_ms,
               CAST(2 AS BIGINT) AS n_samples,
               CAST(cg_i2 % 4096 AS BIGINT) AS first_sample,
               CAST(sink_i2 % 4096 AS BIGINT) AS last_sample,
               CAST(cg_i2 % 4096 AS VARCHAR) || ',' ||
                 CAST(sink_i2 % 4096 AS VARCHAR) AS samples_csv
        FROM iwa_fragments WHERE {_K} % 41 <> 0"""),
    "ts1_memory_ramp": with_corpus(f"""
        SELECT tag, fragment_id, instance,
               COUNT(*) AS n_series,
               CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_ramp_up,
               CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_ramp_down,
               CAST(SUM(delta) AS BIGINT) AS sum_delta,
               MAX(delta) AS max_delta,
               MIN(delta) AS min_delta,
               CAST(SUM(span_ms) AS BIGINT) AS sum_span_ms
        FROM (
          SELECT {_TAG} AS tag, id AS fragment_id,
                 CAST(1 AS BIGINT) AS instance,
                 (sink_i1 % 4096) - (cg_i1 % 4096) AS delta,
                 CAST(500 AS BIGINT) AS span_ms
          FROM iwa_fragments WHERE {_K} % 41 <> 0
          UNION ALL
          SELECT {_TAG} AS tag, id AS fragment_id,
                 CAST(2 AS BIGINT) AS instance,
                 (sink_i2 % 4096) - (cg_i2 % 4096) AS delta,
                 CAST(500 AS BIGINT) AS span_ms
          FROM iwa_fragments WHERE {_K} % 41 <> 0
        ) GROUP BY tag, fragment_id, instance"""),
    # the fixture corpus has no undecodable blobs, so n_bad = 0; the
    # corrupt-line quarantine path is pinned by tests/test_ingest.py
    "ing5_ingest_health": with_corpus(f"""
        SELECT {_TAG} AS tag,
               COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN k % 41 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_parsed,
               CAST(SUM(CASE WHEN k % 41 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_rejected,
               CAST(0 AS BIGINT) AS n_bad
        FROM iwa_queries GROUP BY 1"""),
}

SPARK_QUERIES = {
    "ing1_parsed_operators": parsed_operators,
    "ing2_parsed_fragments": parsed_fragments,
    "ing3_parsed_queries": parsed_queries,
    "ing4_delete_by_tag": delete_by_tag,
    "ing5_ingest_health": ingest_health,
    "ing6_time_series": time_series_harvest,
    "ts1_memory_ramp": time_series_ramp,
}
