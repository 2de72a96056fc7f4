"""bench.py contract guards.

The bench harness resolves package internals lazily (the shared-build
functions, io._build_cache for the stream-setup timing), and tools/
imports the harness (prepare/best_of/ab): a rename would otherwise
surface only mid-bench at round close-out. These tests fail at pytest
time instead.
"""

from __future__ import annotations

import glob
import importlib
import os

import pytest


def test_one_time_builds_resolve():
    bench = importlib.import_module("bench")
    builds = bench._one_time_builds()
    assert len(builds) == 11
    for name, fn in builds:
        assert callable(fn), name


def test_stream_setup_dependency_resolves():
    from impala_workload_analyzer_spark.io import _build_cache  # noqa: F401


def test_headliners_are_registered_queries():
    bench = importlib.import_module("bench")
    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    missing = [n for n in bench.HEADLINERS if n not in qs]
    assert not missing, f"headliners without queries: {missing}"


class _CountingFrame:
    """Stands in for a DataFrame: counts noop drains through ``.write``."""

    drains = 0

    @property
    def write(self):
        return self

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        _CountingFrame.drains += 1


def test_best_of_times_every_rep_after_one_warmup():
    bench = importlib.import_module("bench")
    _CountingFrame.drains = 0
    times = bench.best_of(_CountingFrame, 4)
    assert len(times) == 4
    assert all(isinstance(t, float) and t >= 0 for t in times)
    assert _CountingFrame.drains == 5


def test_ab_times_equal_frames_and_rejects_different_ones(spark):
    bench = importlib.import_module("bench")
    cur, var = bench.ab(spark, lambda: spark.range(10),
                        lambda: spark.range(10).orderBy("id"), 3)
    assert len(cur) == 3 and len(var) == 3
    builds = []

    def one_row_more():
        builds.append(1)
        return spark.range(11)

    with pytest.raises(ValueError, match="exceptAll 0/1"):
        bench.ab(spark, lambda: spark.range(10), one_row_more, 3)
    assert len(builds) == 1  # raised before any warm-up or timed rep


@pytest.mark.parametrize("name", sorted(
    os.path.basename(p)[:-3]
    for p in glob.glob(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "*.py"))
))
def test_tool_imports_cleanly(name):
    importlib.import_module(f"tools.{name}")
