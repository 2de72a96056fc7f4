"""One-more-decade scaling measurement: sf0.1 -> sf1-equivalent.

The shipped fixtures stop at sf0.1, so this tool materializes an
sf1-EQUIVALENT corpus for the pipeline tables (documents / events /
embeddings): ten key-offset copies of sf0.1 — 10x the rows, 10x the
users/doc ids (growing the KEY SPACE, not per-key depth, so per-user /
per-doc work stays constant the way real growth behaves). Document
TOKENS are prefixed per copy (``cN_word``) so copies are disjoint in
shingle space: verbatim replication would make every doc a 10-way exact
clone and quadratically explode near-dup pair counts — a data artifact,
not plan behavior; disjoint copies model NEW content arriving, keeping
each copy's internal dup structure identical to sf0.1. TPC-H and
profile-ingest tables are not replicated (their corpus scaffolding is
derived data); the sweep covers the dedup / similarity / text / events
families, where SCALE.md's 100 TB arguments live.

Timing protocol matches tools/scale_sweep.py: ``bench.best_of`` with 2
reps (untimed warm-up, then noop-format full drains), min kept;
alpha = log10(t_sf1 / t_sf0.1) is the fitted exponent for the new decade
(1 = linear). Prints one JSON line; the SCALE.md appendix records the
result.

Usage: python tools/sf1_sweep.py [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".sf1_equiv")
COPIES = 10

DEFAULTS = (
    "dd1_exact_dedup",            # digest shuffle
    "dd3_minhash_lsh_pairs",      # banded candidates + exact verify
    "dd8_neardup_components",     # iterative CC rounds
    "dd15_dup_span_coverage",     # shingle df join-back + positional explode
    "sim1_brute_force_topk",      # fixed-K batch x corpus scan
    "sim14_cell_balanced_sample", # salted two-phase per-cell top-K
    "ev3_sessionize",             # user-keyed gaps-and-islands
    "ev18_funnel_latency",        # two-phase quantile ranks
    "ev21_user_concentration",    # histogram-derived deciles
    "tx7_tfidf_top_terms",        # token groupBys + broadcast dims
    "tx16_bigram_logprob",        # bigram LM count tables
)


def ensure_sf1() -> None:
    import duckdb  # noqa: PLC0415

    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    copies = f"(SELECT unnest(range(0, {COPIES})) AS i) c"
    jobs = {
        "documents": f"""
            SELECT doc_id + i * 100000000 AS doc_id,
                   regexp_replace(text, '(\\S+)', 'c' || i || '_\\1', 'g')
                     AS text,
                   lang, source, n_chars
            FROM read_parquet('{SRC}/documents.parquet') CROSS JOIN {copies}""",
        "events": f"""
            SELECT event_id + i * 1000000000000 AS event_id, ts,
                   user_id + i * 100000000 AS user_id, event_type, value, props
            FROM read_parquet('{SRC}/events.parquet') CROSS JOIN {copies}""",
        "embeddings": f"""
            SELECT vec_id + i * 100000000 AS vec_id, embedding, label
            FROM read_parquet('{SRC}/embeddings.parquet') CROSS JOIN {copies}""",
        # the workload corpus (queries/operators/fragments and the profile
        # render ing1 parses) derives purely from ``orders`` (corpus_sql
        # _BASE: query_id = o_orderkey) — key-offset copies give 10x
        # distinct query_ids, covering the ingest / SQL-introspection
        # families in the sweep. The offset shifts each copy's k%m strata,
        # keeping statement-shape diversity without verbatim repetition.
        "orders": f"""
            SELECT o_orderkey + i * 100000000 AS o_orderkey,
                   o_custkey + i * 100000000 AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM read_parquet('{SRC}/orders.parquet') CROSS JOIN {copies}""",
    }
    # Per-table recipe fingerprint (ADVICE r8): a pre-built parquet is
    # reused only if it was generated by the SAME SQL — a changed
    # derivation (e.g. the round-8 orders addition) rebuilds instead of
    # silently serving stale data and skewing recorded scaling numbers.
    import hashlib  # noqa: PLC0415

    stale_marker = os.path.join(DST, "_BUILT")  # dead marker, pre-r9 builds
    if os.path.exists(stale_marker):
        os.remove(stale_marker)
    for name, sql in jobs.items():
        recipe = hashlib.md5(sql.encode()).hexdigest()
        stamp_path = os.path.join(DST, f"{name}.recipe")
        parquet = os.path.join(DST, f"{name}.parquet")
        if os.path.exists(parquet) and os.path.exists(stamp_path):
            with open(stamp_path) as f:
                if f.read().strip() == recipe:
                    continue
        con.execute(f"COPY ({sql}) TO '{parquet}' (FORMAT PARQUET)")
        with open(stamp_path, "w") as f:
            f.write(recipe + "\n")


def main() -> int:
    names = sys.argv[1:] or list(DEFAULTS)
    ensure_sf1()

    import __spark_entry__ as entrymod
    from bench import best_of, prepare
    from impala_workload_analyzer_spark.cache_util import evict_session_frames
    from impala_workload_analyzer_spark.io import scan_cache_dir
    from impala_workload_analyzer_spark.session import get_spark

    spark = get_spark("sf1-sweep")
    qs = entrymod.queries()
    # JVM warm-up plus the sf0.1 scaffolding; the sf1 copy holds only the
    # replicated tables, so it gets just the scan caches built below
    prepare(spark, SRC)

    out: dict[str, dict] = {}
    for sf_dir, tag in ((SRC, "sf0.1"), (DST, "sf1")):
        # the previous corpus's shared persisted frames (shingles, exact
        # top-k) are dead weight now — evict so they never compete with
        # this corpus's execution memory
        evict_session_frames()
        for table in ("documents", "events", "embeddings"):
            scan_cache_dir(spark, sf_dir, table)  # build outside timed region
        for name in names:
            best = min(best_of(lambda: qs[name](spark, sf_dir), 2))
            out.setdefault(name, {})[tag] = best
            print(f"# {tag} {name} best={best:.3f}s", file=sys.stderr, flush=True)

    result = {}
    for name, t in out.items():
        result[name] = {**t, "alpha_decade": round(math.log10(t["sf1"] / t["sf0.1"]), 3)}
    print(json.dumps({"metric": "sf1_sweep", "copies": COPIES, "queries": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
