"""Measured scaling sweep: times representative queries of the hottest
families at sf0.001 / sf0.01 / sf0.1 under the bench protocol
(``bench.prepare`` per scale, then ``bench.best_of`` with 2 reps, min
kept) and reports the
fitted per-decade scaling exponent alpha where t ~ sf^alpha
(alpha = log10(t_hi/t_lo) per decade, averaged over the two decades).

alpha ~ 1 is linear scaling; alpha < 1 means fixed overheads still
dominate at these SFs; alpha > 1 would flag a super-linear plan — the
thing SCALE.md's arguments claim cannot happen for these families.

Usage: python tools/scale_sweep.py [query ...]   (defaults below)
Prints one JSON line; the SCALE.md appendix records the result.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

DEFAULTS = (
    "ing1_parsed_operators",   # ingest: decode + parse + harvest
    "dd8_neardup_components",  # iterative CC rounds over the LSH graph
    "ev18_funnel_latency",     # per-pair exact quantiles (two-phase path)
    "dd3_minhash_lsh_pairs",   # banded candidate join + exact verify
    "sim1_brute_force_topk",   # fixed-K batch x corpus linear scan
    "tpch_q1",                 # scan + hash agg baseline
)


def main() -> int:
    names = sys.argv[1:] or list(DEFAULTS)

    import __spark_entry__ as entrymod
    from bench import best_of, prepare
    from impala_workload_analyzer_spark.session import get_spark

    spark = get_spark("scale-sweep")
    qs = entrymod.queries()

    out: dict[str, dict] = {}
    for sf_dir in SF_DIRS:
        prepare(spark, sf_dir)
        for name in names:
            best = min(best_of(lambda: qs[name](spark, sf_dir), 2))
            out.setdefault(name, {})[os.path.basename(sf_dir)] = best

    result = {}
    for name, t in out.items():
        lo, mid, hi = t["sf0.001"], t["sf0.01"], t["sf0.1"]
        alpha = (math.log10(hi / lo)) / 2.0  # per decade, over two decades
        result[name] = {**t, "alpha_per_decade": round(alpha, 3),
                        "alpha_last_decade": round(math.log10(hi / mid), 3)}
    print(json.dumps({"metric": "scale_sweep", "queries": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
