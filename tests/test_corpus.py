"""Corpus invariants: determinism, FK integrity, planted A16 violations."""

from __future__ import annotations

import ast
import glob
import os
import re
from pathlib import Path

from pyspark.sql import functions as F

from impala_workload_analyzer_spark.cache_util import _SOURCES, cache_dir, fingerprint
from impala_workload_analyzer_spark.catalog import N_BUCKETS, write_bucketed
from impala_workload_analyzer_spark.corpus import (
    corpus_fragments,
    corpus_operators,
    corpus_queries,
)
from impala_workload_analyzer_spark.operators.consistency import counter_consistency


def test_corpus_is_deterministic(spark, sf_dir):
    a = corpus_queries(spark, sf_dir).orderBy("query_id").collect()
    b = corpus_queries(spark, sf_dir).orderBy("query_id").collect()
    assert a == b


def test_unique_keys(spark, sf_dir):
    """The reference enforces unique (query_id, id) via a Mongo index
    (profile_analyzer.py:15-21); here it is an assertion query."""
    ops = corpus_operators(spark, sf_dir)
    frags = corpus_fragments(spark, sf_dir)
    assert ops.groupBy("query_id", "id").count().filter("count > 1").count() == 0
    assert frags.groupBy("query_id", "id").count().filter("count > 1").count() == 0
    q = corpus_queries(spark, sf_dir)
    assert q.groupBy("query_id").count().filter("count > 1").count() == 0


def test_operators_fk_into_queries(spark, sf_dir):
    q = corpus_queries(spark, sf_dir).select("query_id")
    orphans = (
        corpus_operators(spark, sf_dir).select("query_id").distinct()
        .join(q, "query_id", "left_anti")
    )
    assert orphans.count() == 0


def test_hosts_cover_num_hosts(spark, sf_dir):
    """assert len(hosts) >= num_hosts (profile_analyzer.py:308)."""
    q = corpus_queries(spark, sf_dir)
    assert q.filter(F.size("hosts") < F.col("num_hosts")).count() == 0


def test_consistency_check_finds_planted_violations(spark, sf_dir):
    """The corpus plants floor-mean violations on a deterministic slice;
    A16 must find exactly those and nothing else."""
    bad = counter_consistency(spark, sf_dir)
    rows = bad.collect()
    assert len(rows) > 0, "planted violations not detected"
    # all detected rows are real: recompute python-side
    ops = corpus_operators(spark, sf_dir).select(
        "query_id", "id", "avg_counters", "counters"
    ).collect()
    bykey = {(r["query_id"], r["id"]): r for r in ops}
    for v in rows:
        if v["source"] != "operator":
            continue
        r = bykey[(v["query_id"], v["id"])]
        inst = r["counters"][v["counter_name"]]
        assert int(sum(inst) // len(inst)) != int(r["avg_counters"][v["counter_name"]])


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cache_dir_keeps_every_derived_data_path():
    """One path rule for every disk cache kind, byte-identical to the
    layout the committed caches (and the export readers) already use."""
    for kind, parts, want in (
        ("corpus", ("operators",), ".corpus_cache/sf0.01/operators"),
        ("profiles", (), ".profiles_cache/sf0.01"),
        ("ingest", ("fragments",), ".ingest_cache/sf0.01/fragments"),
        ("features", ("sql_features",), ".features_cache/sf0.01/sql_features"),
        ("export", ("ann_index",), ".export_cache/sf0.01/ann_index"),
    ):
        for sf_dir in ("data/sf0.01", "data/sf0.01/", "sf0.01"):
            assert cache_dir(kind, sf_dir, *parts) == os.path.join(_REPO, want)


def test_committed_cache_stamps_match_source_fingerprint():
    """The committed caches (sf0.001, sf0.01) must carry their kind's
    current source fingerprint: a stale stamp is silently rebuilt on first
    touch in every checkout, so a change to a fingerprinted source must
    regenerate the committed caches of every kind that lists it."""
    stamps = glob.glob(os.path.join(_REPO, ".*_cache", "sf0.0*1", "**", "_FINGERPRINT"),
                       recursive=True)
    kind = {p: os.path.relpath(p, _REPO).split(os.sep)[0][1:-len("_cache")]
            for p in stamps}  # ".<kind>_cache/…"
    assert set(kind.values()) == set(_SOURCES)
    stale = [p for p in stamps if Path(p).read_text().strip() != fingerprint(kind[p])]
    assert not stale, stale


def test_each_cache_kind_fingerprints_its_upstream_sources():
    """A kind derives from its upstream kind, so an upstream source change
    must invalidate it too; the statement-feature queries shape only the
    features cache, so editing them leaves corpus/profiles/ingest alone."""
    chain = ("corpus", "profiles", "ingest", "features")
    assert set(_SOURCES) == set(chain)
    for up, down in zip(chain, chain[1:]):
        assert set(_SOURCES[up]) < set(_SOURCES[down]), (up, down)
    assert [k for k in chain if "sql_introspect/queries.py" in _SOURCES[k]] \
        == ["features"]


def _bucket_ids(path: str) -> list[str]:
    """The bucket id (``_000NN`` suffix) of every part file under ``path``."""
    return [re.search(r"_(\d{5})\.c\d+", os.path.basename(p)).group(1)
            for p in glob.glob(os.path.join(path, "part-*"))]


def test_write_bucketed_lands_one_file_per_bucket(spark, tmp_path):
    """The layout follows the data, not the session: with 3 shuffle
    partitions and a 7-partition input (neither divides N_BUCKETS) every
    bucket still lands in exactly one file."""
    path = str(tmp_path / "probe")
    df = spark.range(0, 2000, numPartitions=7).selectExpr(
        "concat('q', CAST(id % 499 AS STRING)) AS query_id", "id")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        write_bucketed(df, path, "layout_probe")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.sql("DROP TABLE IF EXISTS layout_probe")
    ids = _bucket_ids(path)
    assert len(ids) == len(set(ids)) == N_BUCKETS, sorted(ids)
    assert spark.read.parquet(path).count() == 2000


def test_committed_bucketed_datasets_hold_one_file_per_bucket():
    """Every committed bucketed dataset (corpus, ingest, feature store)
    holds one part file per bucket id."""
    datasets = [d for kind in ("corpus", "ingest", "features")
                for d in glob.glob(os.path.join(_REPO, f".{kind}_cache",
                                                "sf0.0*1", "*", ""))]
    assert {os.path.relpath(d, _REPO).split(os.sep)[0] for d in datasets} \
        == {".corpus_cache", ".ingest_cache", ".features_cache"}
    for d in datasets:
        ids = _bucket_ids(d)
        assert ids and len(ids) == len(set(ids)), (d, len(ids), len(set(ids)))


def _calls(tree: ast.AST, name: str) -> bool:
    return any(isinstance(n, ast.Call) and name in (
        getattr(n.func, "attr", None), getattr(n.func, "id", None))
        for n in ast.walk(tree))


def test_one_landing_path():
    """Only ``catalog`` lays out and registers a bucketed table, and only
    ``catalog`` (derived tables) and the profile renderer (text logs)
    stamp a disk cache, so a new derived table cannot grow its own
    landing code."""
    pkg = os.path.join(_REPO, "impala_workload_analyzer_spark")
    found: dict[str, set[str]] = {}
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        tree = ast.parse(Path(path).read_text())
        for name in ("bucketBy", "saveAsTable", "build_once"):
            if _calls(tree, name):
                found.setdefault(name, set()).add(os.path.relpath(path, pkg))
    assert found["bucketBy"] == found["saveAsTable"] == {"catalog.py"}
    assert found["build_once"] == {"catalog.py", "sources/profile_render.py"}
