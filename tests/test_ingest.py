"""Ingest-layer unit tests: the TCompactProtocol wire format, the stateful
plan parser, and unit parsers (reference: RuntimeProfile.thrift:28-95,
analyze_profiles.py:14-21, profile_analyzer.py:78-193, 341-403)."""

from __future__ import annotations

import textwrap

from impala_workload_analyzer_spark.sources import profiles as P
from impala_workload_analyzer_spark.sources import thrift_compact as TC

_EXEC_SUMMARY = textwrap.dedent("""\
    Operator  #Hosts  Avg Time  Max Time  #Rows  Est. #Rows  Peak Mem  Est. Peak Mem  Detail
    --------
    ""
      2:HASH JOIN  2  1h2m  2h  2.85K  -1  278.73 KB  100 B  j
      1:SCAN HDFS  2  795.202us  1ms  10  9  1.00 MB  1.00 MB  t1 x
      0:SCAN HDFS  2  250ms  1s  20  18  2 B  1 B  lineitem y""")

_PLAN = textwrap.dedent("""\
    F00:PLAN FRAGMENT [RANDOM]
      2:HASH JOIN [LEFT OUTER JOIN, BROADCAST]
      |  tuple-ids=0 row-size=12B cardinality=unavailable
      |--1:SCAN HDFS [t1, partitions: 1/1]
      |  tuple-ids=0 row-size=8B cardinality=10
         partitions=1/1 files=1 size=4KB
      0:SCAN HDFS [lineitem]
      |  tuple-ids=0 row-size=4B cardinality=20
         partitions=1/1 files=2 size=1MB""")


def _summary_tree(info: dict[str, str],
                  timeline: list[int]) -> TC.TRuntimeProfileTree:
    summary = TC.TRuntimeProfileNode(
        name="Summary", info_strings=info,
        info_strings_display_order=list(info),
        event_sequences=[TC.TEventSequence(
            "Query Timeline", timeline, ["l"] * len(timeline))],
    )
    root = TC.TRuntimeProfileNode(name="Query (id=x)", num_children=1)
    return TC.TRuntimeProfileTree([root, summary])


def _query_tree(state: str = "FINISHED") -> TC.TRuntimeProfileTree:
    info = {
        "Query State": state,
        "Query Status": "OK",
        "Query Type": "QUERY",
        "Sql Statement": "SELECT 1",
        "Start Time": "2024-01-01 00:00:00.000001000",
        "End Time": "2024-01-01 00:00:01.000000000",
        "Impala Version": "impalad version 2.1.0 RELEASE (build 1)",
        "Coordinator": "h1:22000",
        "Query Id": "77",
        "Per Node Peak Memory Usage": "h2:22000(1.00 MB) h1:22000(1.00 MB)",
        "ExecSummary": _EXEC_SUMMARY,
        "Plan": _PLAN,
    }
    return _summary_tree(info, [0, 10, 10, 25, 100])


def test_compact_protocol_golden_bytes():
    """Pin the wire format against hand-computed TCompactProtocol bytes:
    field 1 (string, delta 1) = 0x18; field 2 (i32) = 0x15 zigzag(0)=0x00;
    field 3 (i64) = 0x16 zigzag(5)=0x0a; STOP."""
    w = TC._Writer()
    TC.TCounter("x", TC.TCounterType.UNIT, 5).write(w)
    assert bytes(w.buf) == bytes.fromhex("1801781500160a00")


def test_compact_protocol_round_trip_all_field_types():
    node = TC.TRuntimeProfileNode(
        name="HDFS_SCAN_NODE (id=0)", num_children=2,
        counters=[
            TC.TCounter("TotalTime", TC.TCounterType.TIME_NS, 12345),
            TC.TCounter("Avg", TC.TCounterType.DOUBLE_VALUE,
                        TC.pack_double(1.5)),
        ],
        metadata=-7, indent=False,
        info_strings={"ExecOption": "Codegen Enabled", "k2": "v2"},
        info_strings_display_order=["ExecOption", "k2"],
        child_counters_map={"TotalTime": ["a", "b"], "": []},
        event_sequences=[TC.TEventSequence("tl", [0, 5, -3], ["a", "b", "c"])],
        time_series_counters=[TC.TTimeSeriesCounter(
            "mem", TC.TCounterType.BYTES, 500, [1, 2, 3])],
    )
    # >14 elements exercises long-form collection headers
    big = TC.TRuntimeProfileNode(
        "n", counters=[TC.TCounter(f"c{i}", 0, i) for i in range(20)],
        info_strings={f"k{i}": "v" for i in range(20)},
    )
    tree = TC.TRuntimeProfileTree([node, big])
    assert TC.TRuntimeProfileTree.deserialize(tree.serialize()) == tree


def test_double_value_counters_bit_reinterpret():
    """DOUBLE_VALUE counters carry IEEE-754 bits in the i64 value
    (profile_analyzer.py:405-411)."""
    c = TC.TCounter("t", TC.TCounterType.DOUBLE_VALUE, TC.pack_double(-2.25))
    assert c.scalar() == -2.25
    assert TC.TCounter("t", TC.TCounterType.UNIT, 42).scalar() == 42


def test_unit_parsers_match_reference_cases():
    assert P._pp_size("278.73 KB") == 285419
    assert P._pp_size("-1.00 B") == -1
    assert P._pp_size("0") == 0
    assert P._pp_number("2.85K") == 2850
    assert P._pp_number("-1") == -1
    assert P._pp_time("795.202us") == 795202
    assert P._pp_time("1h2m") == 3720 * 10**9


def test_plan_tree_parse_right_child_first():
    query, ops, frags = P.parse_profile(_query_tree(), "t")
    by_id = {o["id"]: o for o in ops}
    join = by_id[2]
    # right child listed first in plan text (profile_analyzer.py:136-141)
    assert join["right_child_id"] == 1
    assert join["left_child_id"] == 0
    assert join["join_type"] == "LEFT OUTER JOIN"
    assert join["join_impl"] == "BROADCAST"
    assert join["cardinality"] == -1 and join["row_size"] == 12
    assert by_id[1]["parent_id"] == 2 and by_id[0]["parent_id"] == 2
    assert by_id[1]["table"] == "t1" and by_id[1]["size"] == 4096
    assert by_id[0]["size"] == 1024**2
    assert join["parent_id"] is None
    # exec summary values parsed through the pretty-print parsers
    assert join["avg_time"] == 3720 * 10**9
    assert join["num_rows"] == 2850 and join["est_num_rows"] == -1
    assert join["peak_mem"] == 285419 and join["est_peak_mem"] == 100
    # query-level rollups
    assert query["num_hdfs_scans"] == 2 and query["num_tables"] == 2
    assert query["num_hosts"] == 2
    assert query["plan_time"] == 10 and query["fragment_start_time"] == 15
    assert query["runtime"] == 100
    assert frags[0]["exchange_id"] is None


def test_lean_decode_equals_full_on_consumed_fields():
    """The ingest hot path's projection decode must agree with a full
    decode on every field the analyzer reads, and the emitted output rows
    (the actual contract — lean drops data parse harvests but never
    emits, e.g. non-RowsReturned/TotalTime counters and instance-node
    info strings) must be identical."""
    tree = _query_tree()
    tree.nodes.append(TC.TRuntimeProfileNode(
        "Averaged Fragment F00",
        counters=[TC.TCounter("TotalTime", TC.TCounterType.TIME_NS, 7),
                  TC.TCounter("PeakMemoryUsage", TC.TCounterType.BYTES, 9)],
        info_strings={"ExecOption": "Codegen Enabled"},
        info_strings_display_order=["x"],
        child_counters_map={"": ["TotalTime"]},
        event_sequences=[TC.TEventSequence("Node Lifecycle", [1, 2], ["a", "b"])],
        time_series_counters=[TC.TTimeSeriesCounter("m", 3, 500, [1, 2])],
    ))
    blob = tree.serialize()
    full = TC.TRuntimeProfileTree.deserialize(blob)
    lean = TC.TRuntimeProfileTree.deserialize(blob, lean=True)
    assert full == tree
    for nf, nl in zip(full.nodes, lean.nodes):
        assert (nf.name, nf.num_children, nf.metadata, nf.indent) == \
               (nl.name, nl.num_children, nl.metadata, nl.indent)
        # lean keeps exactly the consumed counter names, in order
        assert nl.counters == [
            c for c in nf.counters if c.name in ("RowsReturned", "TotalTime")]
        for es in nl.event_sequences or ():
            assert es.name == "Query Timeline"
    assert lean.nodes[1].info_strings == full.nodes[1].info_strings  # Summary
    assert not lean.nodes[-1].info_strings  # instance info skipped
    assert not lean.nodes[-1].child_counters_map  # skipped, default left
    assert not lean.nodes[-1].event_sequences  # non-timeline seq skipped

    # the contract: identical emitted rows
    qf, opsf, frf = P.parse_profile(full, "t")
    ql, opsl, frl = P.parse_profile(lean, "t")
    assert P._query_row(ql) == P._query_row(qf)
    assert [P._op_row("t", o) for o in opsl] == [P._op_row("t", o) for o in opsf]
    assert [P._frag_row("t", f) for f in frl] == [P._frag_row("t", f) for f in frf]


def test_parse_survives_thrift_round_trip():
    """Decoding serialize(tree) must parse identically to the tree itself
    — the ingest path's actual wire round-trip."""
    tree = _query_tree()
    back = TC.TRuntimeProfileTree.deserialize(tree.serialize())
    assert P.parse_profile(back, "t") == P.parse_profile(tree, "t")


def test_counter_node_walk():
    """Averaged vs instance counter harvest (profile_analyzer.py:195-270)."""
    tree = _query_tree()
    dv = TC.TCounterType.DOUBLE_VALUE
    extra = [
        TC.TRuntimeProfileNode("Averaged Fragment F00", counters=[]),
        TC.TRuntimeProfileNode("CodeGen", counters=[
            TC.TCounter("TotalTime", dv, TC.pack_double(1.5))]),
        TC.TRuntimeProfileNode("HDFS_SCAN_NODE (id=0)", counters=[
            TC.TCounter("RowsReturned", dv, TC.pack_double(20.0))]),
        TC.TRuntimeProfileNode("Fragment F00", counters=[]),
        TC.TRuntimeProfileNode("CodeGen", counters=[
            TC.TCounter("TotalTime", TC.TCounterType.TIME_NS, 7)]),
        TC.TRuntimeProfileNode(
            "HDFS_SCAN_NODE (id=0)",
            counters=[TC.TCounter("RowsReturned", TC.TCounterType.UNIT, 21)],
            info_strings={"ExecOption": "Codegen Enabled"},
        ),
    ]
    tree.nodes.extend(extra)
    query, ops, frags = P.parse_profile(tree, "t")
    scan0 = {o["id"]: o for o in ops}[0]
    assert scan0["avg_counters"] == {"RowsReturned": 20.0}
    assert scan0["counters"] == {"RowsReturned": [21]}
    assert scan0["info"] == {"ExecOption": ["Codegen Enabled"]}
    frag0 = {f["id"]: f for f in frags}[0]
    assert frag0["avg_code_gen"] == {"TotalTime": 1.5}
    assert frag0["code_gen"] == {"TotalTime": [7]}


def test_time_series_harvest_walk():
    """TTimeSeriesCounter harvest (RuntimeProfile.thrift:50-59): instance
    fragment headers contribute one ``ts`` entry per series-bearing
    instance, in node order; averaged headers are ignored; the emitted
    time_series row maps "name|unit|period_ms" -> samples."""
    tree = _query_tree()
    tree.nodes.extend([
        TC.TRuntimeProfileNode("Averaged Fragment F00"),  # no ts harvested
        TC.TRuntimeProfileNode(
            "Fragment F00",
            time_series_counters=[
                TC.TTimeSeriesCounter(
                    "MemoryUsage", TC.TCounterType.BYTES, 500, [10, 30]),
                TC.TTimeSeriesCounter(
                    "ThreadUsage", TC.TCounterType.UNIT, 1000, [1, 2, 4]),
            ],
        ),
        TC.TRuntimeProfileNode(
            "Fragment F00",
            time_series_counters=[TC.TTimeSeriesCounter(
                "MemoryUsage", TC.TCounterType.BYTES, 500, [7, 5])],
        ),
    ])
    _q, _ops, frags = P.parse_profile(tree, "t")
    frag0 = {f["id"]: f for f in frags}[0]
    assert len(frag0["ts"]) == 2  # two instances, averaged node skipped
    import base64
    import zlib
    blob = base64.b64encode(zlib.compress(tree.serialize())).decode()
    out = P._parse_rows("time_series", [blob], ["t"])
    assert out == [
        ("t", "77", 0, 1, {"MemoryUsage|BYTES|500": [10, 30],
                           "ThreadUsage|UNIT|1000": [1, 2, 4]}),
        ("t", "77", 0, 2, {"MemoryUsage|BYTES|500": [7, 5]}),
    ]


def test_time_series_instance_ordinal_counts_empty_headers():
    """A profile whose FIRST instance reports no series must still land
    the second instance's samples under instance=2 — the ordinal counts
    every non-averaged header in node order, not just series-bearing
    ones (review r13: list-position numbering misattributed slots)."""
    tree = _query_tree()
    tree.nodes.extend([
        TC.TRuntimeProfileNode("Fragment F00"),  # instance 1, no series
        TC.TRuntimeProfileNode(
            "Fragment F00",
            time_series_counters=[TC.TTimeSeriesCounter(
                "MemoryUsage", TC.TCounterType.BYTES, 500, [9, 8])],
        ),
    ])
    _q, _ops, frags = P.parse_profile(tree, "t")
    assert {f["id"]: f for f in frags}[0]["ts"] == [
        (2, tree.nodes[-1].time_series_counters)]


def test_time_series_hostile_names_and_unknown_units():
    """Wire values the rendered corpus never produces must not corrupt
    the harvest: '|' inside a counter name survives the composite key's
    right-anchored re-parse, an out-of-enum counter type lands as its
    raw number instead of raising, and a (hostile) duplicate name keeps
    its samples under a disambiguated rename — never a silent drop.
    A zero-sample series (wire-legal: the values list may be empty)
    must survive the harvest as an empty vector (ADVICE r13; its
    downstream span/first/last semantics are pinned in
    tests/test_driver_shape.py)."""
    import base64
    import zlib
    tree = _query_tree()
    tree.nodes.append(TC.TRuntimeProfileNode(
        "Fragment F00",
        time_series_counters=[
            TC.TTimeSeriesCounter("Weird|Name", TC.TCounterType.BYTES,
                                  500, [1, 2]),
            TC.TTimeSeriesCounter("Future", 9, 250, [3]),  # unknown enum
            TC.TTimeSeriesCounter("Dup", TC.TCounterType.UNIT, 100, [4]),
            TC.TTimeSeriesCounter("Dup", TC.TCounterType.UNIT, 100, [5]),
            TC.TTimeSeriesCounter("NoSamples", TC.TCounterType.BYTES,
                                  500, []),
        ],
    ))
    blob = base64.b64encode(zlib.compress(tree.serialize())).decode()
    (row,) = P._parse_rows("time_series", [blob], ["t"])
    assert row[4] == {
        "Weird|Name|BYTES|500": [1, 2],
        "Future|9|250": [3],
        "Dup|UNIT|100": [4],
        "Dup#2|UNIT|100": [5],
        "NoSamples|BYTES|500": [],
    }


def test_time_series_survives_lean_wire_round_trip():
    """The ingest hot path decodes lean — field 10 must be materialized
    there (it used to be skip-scanned) or the harvest emits nothing."""
    tree = _query_tree()
    tree.nodes.append(TC.TRuntimeProfileNode(
        "Fragment F00",
        time_series_counters=[TC.TTimeSeriesCounter(
            "MemoryUsage", TC.TCounterType.BYTES, 500, [123, -4, 0])],
    ))
    blob = tree.serialize()
    lean = TC.TRuntimeProfileTree.deserialize(blob, lean=True)
    full = TC.TRuntimeProfileTree.deserialize(blob)
    assert lean.nodes[-1].time_series_counters == \
        full.nodes[-1].time_series_counters == \
        tree.nodes[-1].time_series_counters
    _q, _ops, frags = P.parse_profile(lean, "t")
    assert {f["id"]: f for f in frags}[0]["ts"] == [
        (1, tree.nodes[-1].time_series_counters)]


def test_status_gate_drops_failed_profiles():
    query, ops, frags = P.parse_profile(_query_tree(state="EXCEPTION"), "t")
    assert query is None and ops == [] and frags == []


def test_ddl_path():
    info = {
        "Query State": "FINISHED",
        "Query Status": "OK",
        "Query Type": "DDL",
        "Sql Statement": "CREATE TABLE x (i INT)",
        "Start Time": "2024-01-01 00:00:00.000000000",
        "End Time": "2024-01-01 00:00:01.000000000",
        "Impala Version": "impalad version 2.0.0 RELEASE (build 0)",
        "Coordinator": "h9:22000",
        "Query Id": "31",
    }
    query, ops, frags = P.parse_profile(_summary_tree(info, [0, 5, 5, 9, 50]), "t")
    assert query["query_type"] == "DDL"
    assert query["num_hosts"] == 1
    assert query["plan_time"] is None  # DDL has no plan (profile_analyzer.py:39-48)
    assert ops == [] and frags == []


# --- property-based wire round-trip (hypothesis) ----------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_names = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
    min_size=0, max_size=200,
)
_i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
# the names the lean decode keeps, mixed with arbitrary (incl. >127-byte)
# ones, so both the keep and the skip branches of the fast scanner run
_KEPT_COUNTERS = ("RowsReturned", "TotalTime")
_TIMELINE = "Query Timeline"
_counters = st.lists(
    st.builds(TC.TCounter, st.one_of(st.sampled_from(_KEPT_COUNTERS), _names),
              st.integers(0, 6), _i64),
    max_size=5,
)
_nodes = st.builds(
    TC.TRuntimeProfileNode,
    name=_names,
    num_children=st.integers(-(2**31), 2**31 - 1),
    counters=_counters,
    metadata=_i64,
    indent=st.booleans(),
    info_strings=st.dictionaries(_names, _names, max_size=4),
    info_strings_display_order=st.lists(_names, max_size=4),
    child_counters_map=st.dictionaries(
        _names, st.lists(_names, max_size=3), max_size=3
    ),
    event_sequences=st.one_of(
        st.none(),
        st.lists(
            st.builds(TC.TEventSequence, st.one_of(st.just(_TIMELINE), _names),
                      st.lists(_i64, max_size=4), st.lists(_names, max_size=4)),
            max_size=2,
        ),
    ),
    time_series_counters=st.one_of(
        st.none(),
        st.lists(
            st.builds(TC.TTimeSeriesCounter, _names, st.integers(0, 6),
                      st.integers(0, 2**31 - 1), st.lists(_i64, max_size=4)),
            max_size=2,
        ),
    ),
)


def _project(tree):
    """The lean decode contract: per node, the scalar fields, only the
    RowsReturned/TotalTime counters, info strings only on node 1 (the
    Summary), only the "Query Timeline" sequence, and field 10."""
    return [
        (n.name, n.num_children, n.metadata, n.indent,
         [c for c in n.counters if c.name in _KEPT_COUNTERS],
         n.info_strings if i == 1 else {},
         None if n.event_sequences is None
         else [e for e in n.event_sequences if e.name == _TIMELINE],
         n.time_series_counters)
        for i, n in enumerate(tree.nodes)
    ]


@settings(max_examples=200, deadline=None)
@given(st.lists(_nodes, max_size=4))
def test_wire_roundtrip_property(nodes):
    """Any tree our writer can emit decodes back identically through the
    general reader, and through the lean path ingest runs to the same
    projection — including >127 byte names (multi-byte varint lengths,
    which bounce the fast scanner to the general reader), unicode,
    negative metadata, and huge i64 values."""
    tree = TC.TRuntimeProfileTree(nodes)
    blob = tree.serialize()
    assert TC.TRuntimeProfileTree.deserialize(blob) == tree
    assert _project(TC.TRuntimeProfileTree.deserialize(blob, lean=True)) \
        == _project(tree)


def test_scan_cache_concurrent_builders(tmp_path):
    """Two processes racing to build the same scan-cache table must both
    succeed (flock serializes the build) and agree on one immutable
    signature directory."""
    import os
    import subprocess
    import sys

    env = dict(os.environ)
    script = r"""
import sys
sys.path.insert(0, "/root/repo")
import impala_workload_analyzer_spark.io as io
io._REPO_ROOT = sys.argv[1]          # cache under the test's tmp dir
from impala_workload_analyzer_spark.session import get_spark
spark = get_spark("cc-race")
d = io.scan_cache_dir(spark, "/root/testdata/sf0.001", "supplier")
n = spark.read.parquet(d).count()
print(f"OK {n} {d}")
"""
    procs = [
        subprocess.Popen([sys.executable, "-c", script, str(tmp_path)],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         env=env, text=True)
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=180)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    lines = [o.strip().splitlines()[-1] for o in outs]
    counts = {ln.split()[1] for ln in lines}
    dirs = {ln.split()[2] for ln in lines}
    assert len(counts) == 1 and len(dirs) == 1, lines
    sig_dirs = [d for d in os.listdir(os.path.dirname(dirs.pop()))
                if d != ".lock"]
    assert len(sig_dirs) == 1


def test_ingest_health_quarantines_corrupt_lines(spark, tmp_path):
    """ing5: undecodable blobs are counted as n_bad and skipped — the
    ingest never aborts on a corrupt line; status-gate rejects and good
    parses are tallied separately. The table ingest over the same
    directory skips exactly those lines: it lands the good line's row."""
    import base64
    import zlib

    good = base64.b64encode(
        zlib.compress(_query_tree().serialize())
    ).decode()
    rejected = base64.b64encode(
        zlib.compress(_query_tree(state="EXCEPTION").serialize())
    ).decode()
    lines = [
        f"ts1 host {good}",
        f"ts2 host {rejected}",
        "ts3 host !!!not-base64!!!",
        f"ts4 host {base64.b64encode(b'not zlib').decode()}",
        f"ts5 host {base64.b64encode(zlib.compress(b'not thrift')).decode()}",
    ]
    (tmp_path / "profiles.log").write_text("\n".join(lines) + "\n")
    rows = P.ingest_health(
        spark, sf_dir="", input_dir=str(tmp_path), tag="q"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["tag"], r["n_lines"], r["n_parsed"], r["n_rejected"], r["n_bad"]) \
        == ("q", 5, 1, 1, 3)
    landed = P.parsed_queries(
        spark, sf_dir="", input_dir=str(tmp_path), tag="q"
    ).collect()
    query, _ops, _frags = P.parse_profile(_query_tree(), "q")
    assert [tuple(r) for r in landed] == [P._query_row(query)]  # noqa: SLF001


def test_normalize_event_ts_all_encodings(spark, tmp_path):
    """The r03 bench died on a fixture ts-encoding change; pin that all
    three physical encodings (INT64 nanos, TIMESTAMP_NTZ micros, plain
    TIMESTAMP) normalize to identical TimestampType values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from impala_workload_analyzer_spark.io import normalize_event_ts

    us = [1704067200_000_000, 1704067201_500_000]
    pq.write_table(
        pa.table({"ts": pa.array([u * 1000 for u in us],
                                 type=pa.timestamp("ns"))}),
        str(tmp_path / "nanos.parquet"))
    pq.write_table(
        pa.table({"ts": pa.array(us, type=pa.timestamp("us"))}),
        str(tmp_path / "micros.parquet"))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    outs = []
    for f in ("nanos.parquet", "micros.parquet"):
        df = normalize_event_ts(spark.read.parquet(str(tmp_path / f)))
        assert dict(df.dtypes)["ts"] == "timestamp", (f, df.dtypes)
        outs.append([r["ts"] for r in df.orderBy("ts").collect()])
    # plain TimestampType passes through unchanged
    from pyspark.sql import functions as F

    passthrough = normalize_event_ts(
        spark.read.parquet(str(tmp_path / "micros.parquet"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    outs.append([r["ts"] for r in passthrough.orderBy("ts").collect()])
    assert outs[0] == outs[1] == outs[2]
