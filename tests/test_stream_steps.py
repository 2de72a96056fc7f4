"""Micro-batch carry-over of every keyed-state step, without Spark.

``stream_queries._keyed_state`` hands each step one key's chunk per
micro-batch plus the state it stored last time. A finite replay may cut a
key's in-order input anywhere, so each step must give the same answer when
that input arrives as one chunk or as 2-way and 3-way contiguous splits:

- append steps (st5, st12, st13, st14) emit the same rows;
- update steps end in the same final state — st3's profile, the st10/st22
  tail and st9's k-min set, whose min-per-rank over every emission is what
  st9 publishes. The n-gram steps' emissions are per-batch deltas, so
  their rows must match too.

The input is the sf0.001 events table, shaped the way the JVM hands it
over (nanosecond ``ts``, ``us``/``epoch`` columns, micro-unit values).
"""

from __future__ import annotations

import functools
import os

import pandas as pd
import pytest

from impala_workload_analyzer_spark.pipeline.events_analytics import _KMV_K
from impala_workload_analyzer_spark.streaming import stream_queries as sq


@pytest.fixture(scope="module")
def events(sf_dir) -> pd.DataFrame:
    ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"),
                         columns=["event_id", "ts", "user_id", "event_type", "value"])
    ev["ts"] = ev["ts"].astype("datetime64[ns]")
    ns = ev["ts"].astype("int64")
    ev["us"] = ns // 1000
    ev["epoch"] = ns // 10**9
    ev["value_micros"] = (ev["value"] * 10**6).round().astype("int64")
    return ev


def _splits(frame: pd.DataFrame):
    """The key's in-order input as 1, 2 and 3 contiguous chunks."""
    n = len(frame)
    for ways in (1, 2, 3):
        cuts = [n * i // ways for i in range(ways + 1)]
        yield [frame.iloc[a:b].reset_index(drop=True)
               for a, b in zip(cuts, cuts[1:])]


def _replay(step, key, chunks):
    """Drive ``step`` the way the runner does; return the final stored
    state and every batch's emitted rows."""
    state, emitted = None, []
    for chunk in chunks:
        new_state, rows = step(key, state, chunk)
        if new_state is not None:
            state = new_state
        emitted.append(list(rows))
    return state, emitted


def _keys(ev: pd.DataFrame, key: str, order: list[str]):
    for k, frame in ev.groupby(key, sort=True):
        yield k, frame.sort_values(order).reset_index(drop=True)


def _assert_append_invariant(ev, key, order, step):
    n_rows = 0
    for k, frame in _keys(ev, key, order):
        runs = [_replay(step, k, chunks) for chunks in _splits(frame)]
        (state1, emitted1), *split_runs = runs
        rows1 = [r for batch in emitted1 for r in batch]
        n_rows += len(rows1)
        for state, emitted in split_runs:
            assert [r for batch in emitted for r in batch] == rows1, k
            assert state == state1, k
    return n_rows


def test_anomaly_step_emits_the_same_rows_under_any_split(events):
    assert _assert_append_invariant(
        events, "event_type", ["event_id"], sq._anomaly_step) > 0


def test_rate_alert_step_emits_the_same_rows_under_any_split(events):
    assert _assert_append_invariant(
        events, "event_type", ["epoch", "event_id"], sq._rate_alert_step) > 0


def test_cusum_step_emits_the_same_rows_under_any_split(events):
    assert _assert_append_invariant(
        events, "event_type", ["epoch", "event_id"], sq._cusum_step) > 0


def test_gap_step_emits_the_same_rows_under_any_split(events):
    # st14 declares no order: its step dedups each chunk's hours itself
    assert _assert_append_invariant(
        events, "event_type", ["epoch"], sq._gap_step) > 0


@pytest.mark.parametrize("n", [2, 3])
def test_ngram_step_emits_the_same_grams_under_any_split(events, n):
    step = functools.partial(sq._ngram_step, n)
    for k, frame in _keys(events, "user_id", ["us", "event_id"]):
        types = frame["event_type"].tolist()
        want = list(zip(*(types[i:len(types) - n + 1 + i] for i in range(n))))
        for chunks in _splits(frame):
            state, emitted = _replay(step, k, chunks)
            assert [g for batch in emitted for g in batch] == want, (k, len(chunks))
            assert list(state[0]) == types[-(n - 1):]


def test_user_stats_step_ends_in_the_same_profile_under_any_split(events):
    for k, frame in _keys(events, "user_id", ["event_id"]):
        runs = [_replay(sq._user_stats_step, k, chunks) for chunks in _splits(frame)]
        (state1, emitted1), *split_runs = runs
        assert emitted1[-1][0][1] == len(frame)
        for state, emitted in split_runs:
            assert state == state1
            assert emitted[-1] == emitted1[-1]


def _min_per_rank(emitted):
    best: dict[int, int] = {}
    for batch in emitted:
        for _, rk, h in batch:
            best[rk] = min(h, best.get(rk, h))
    return sorted(best.items())


@pytest.mark.parametrize("source", ["sf0.001", "wide"])
def test_kmv_step_publishes_the_same_sketch_under_any_split(events, source):
    if source == "wide":
        # far more distinct users than k, each chunk holding different
        # ones, so merges really evict hashes
        frame = pd.DataFrame({"user_id": [(i * 7919) % 100_003 for i in range(6000)]})
        keyed = [("wide", frame)]
    else:
        keyed = list(_keys(events, "event_type", ["event_id"]))
    for k, frame in keyed:
        runs = [_replay(sq._kmv_step, k, chunks) for chunks in _splits(frame)]
        (state1, emitted1), *split_runs = runs
        published = _min_per_rank(emitted1)
        assert len(published) == min(_KMV_K, frame["user_id"].nunique())
        for state, emitted in split_runs:
            assert state == state1
            assert _min_per_rank(emitted) == published
