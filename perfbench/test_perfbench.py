"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_metric_names_are_well_formed_and_unique():
    names = [n for n, _ in run.END_TO_END + tuple(run.PER_LAYER)]
    assert len(names) == len(set(names))
    for name in names + list(workloads.WORKLOADS):
        assert harness.METRIC_NAME.fullmatch(name), name
        assert len(name) <= 64, name


def test_benchmark_json_matches_the_metrics_printed():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_every_operation_has_an_expected_value():
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    ops = [op for names in workloads.WORKLOADS.values() for op in names]
    assert sorted(expected) == sorted(ops)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert harness.tail_percentile(19) is None
    assert harness.tail_percentile(20) == 50
    assert harness.tail_percentile(40) == 75
    assert harness.tail_percentile(199) == 90
    assert harness.tail_percentile(200) == 95
    for n in range(20, 500):
        p = harness.tail_percentile(n)
        assert n * (100 - p) / 100 >= harness.TAIL_BEYOND
        if p < 95:  # the next step up would leave fewer than ten beyond
            assert n * (95 - p) / 100 < harness.TAIL_BEYOND


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert harness.percentile(xs, 0) == 1.0
    assert harness.percentile(xs, 100) == 4.0
    assert harness.median(xs) == 2.5
    assert harness.percentile(xs, 75) == 3.25


def test_self_time_subtracts_direct_children_only(monkeypatch):
    spans = harness.Spans("r", enabled=True)
    # pass [0, 10] > call [1, 4] > inner [2, 3]; call [5, 9]
    clock = iter([0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 9.0, 10.0])
    monkeypatch.setattr(harness.time, "perf_counter", lambda: next(clock))
    p = spans.open("pass")
    c1 = spans.open("call")
    inner = spans.open("inner")
    spans.close(inner)
    spans.close(c1)
    c2 = spans.open("call")
    spans.close(c2)
    spans.close(p)
    monkeypatch.undo()
    selfs = harness.self_times(spans.records)
    assert selfs == {p: 3.0, c1: 2.0, inner: 1.0, c2: 4.0}
    assert [r["parent"] for r in spans.records] == [None, p, c1, p]
    assert {r["run_id"] for r in spans.records} == {"r"}


def test_disabled_spans_record_nothing():
    spans = harness.Spans("r", enabled=False)
    spans.close(spans.open("pass"))
    assert spans.records == []


def test_rows_digest_ignores_row_order_but_not_content():
    rows = [["a", "1", "2.5"], ["b", "2", ""], ["a", "1", "2.5"], ["c", "3", "1e-3"]]
    n, h = harness.rows_digest(rows)
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    assert harness.rows_digest(shuffled) == (n, h) == (4, h)
    assert harness.rows_digest(rows[:3])[1] != h  # a dropped duplicate shows
    changed = [r[:] for r in rows]
    changed[1][1] = "3"
    assert harness.rows_digest(changed)[1] != h


def test_rows_digest_canonicalizes_float_noise_and_nulls():
    assert harness.rows_digest([["0.30000000000000004"]]) == harness.rows_digest([["0.3"]])
    assert harness.rows_digest([[None]]) == harness.rows_digest([[""]])
    assert harness.rows_digest([["NaN"]]) != harness.rows_digest([["0"]])
    assert harness.rows_digest([["name"]]) != harness.rows_digest([["NAME"]])


def test_csv_digest_reads_every_part_under_one_header(tmp_path):
    (tmp_path / "part-00000.csv").write_text("k,v\nb,2\n")
    (tmp_path / "part-00001.csv").write_text("k,v\na,1\n")
    (tmp_path / "_SUCCESS").write_text("")
    n, h, header = harness.csv_digest(str(tmp_path))
    assert (n, header) == (2, ["k", "v"])
    assert h == harness.rows_digest([["a", "1"], ["b", "2"]])[1]
