"""Decade exponents for the shared builds bench.py times as one_time_builds.

SCALE.md's consumer rows (dd17, dd21, sim24, ...) measure WARM-marginal
cost on top of the shared frames; bench.py publishes each build's cold
cost at the bench sf. What neither gave is the builds' own scaling —
and at 100x the truth-frame build is the dedup family's dominant cost
(r10 verdict #2), so its near-linearity must be a measured row, not an
inference from consumer rows.

Protocol: the same sf0.1 -> sf1-equivalent corpus as tools/sf1_sweep.py
(10 key-offset, shingle-disjoint copies). Builds run in bench.py's
dependency order (shingles -> jaccard3 -> minhash_pairs -> components
-> exact_topk) so each timing is COLD-TARGET / WARM-UPSTREAM — the same
decomposition bench.py publishes, which makes the alphas comparable to
its one_time_builds rows. Between reps only the target's frame is
evicted (upstreams stay persisted); between corpora everything is
evicted. Untimed warm-up is deliberately absent: a build IS a one-time
cost, so its first execution is the honest reading — we still take
best-of-2 cold runs to shave scheduler noise.

alpha = log10(t_sf1 / t_sf0.1); 1 = linear for the new decade.
Prints one JSON line; the SCALE.md builds table records the result.

Usage: python tools/builds_sweep.py [build ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.sf1_sweep import DST, SRC, ensure_sf1  # noqa: E402


def _builds():
    # bench.py's _one_time_builds, re-exported so the dependency order
    # and the set of builds can never drift between the two tools
    import bench  # noqa: PLC0415

    return bench._one_time_builds()


# build-name -> session_persisted tag the frame lives under; the second
# rep's eviction must find the first rep's frame, so a renamed tag fails
# the sweep instead of silently timing warm rebuilds
_TAGS = {
    "_shared_shingles": "shingles",
    "_shared_jaccard3": "jaccard3",
    "_shared_minhash_pairs": "minhash_pairs",
    "_shared_components": "cc_labels",
    "_exact_topk_shared": "exact_topk",
    "_lsh_recall": "lsh_recall",
    "_ivf_recall": "ivf_recall",
    "_int8_recall": "int8_recall",
    "_simhash_pairs": "simhash_pairs",
    "_ivfpq_ranked": "ivfpq_ranked",
}

# builds that read a table landed on disk rather than a session frame:
# nothing to evict between reps (every rep times the same read)
_LANDED = frozenset({"_sql_features"})

# builds whose inputs the sf1-equivalent corpus does NOT replicate
# (sf1_sweep widens documents/events/embeddings only): at "sf1" they
# would re-read the same profile-derived tables and publish a
# meaningless alpha — skipped unless named explicitly.
_NOT_SF1_SCALED = frozenset({"_sql_features"})


def main() -> int:
    only = set(sys.argv[1:])
    ensure_sf1()

    from impala_workload_analyzer_spark.cache_util import evict_session_frames
    from impala_workload_analyzer_spark.io import scan_cache_dir
    from impala_workload_analyzer_spark.session import get_spark

    spark = get_spark("builds-sweep")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    out: dict[str, dict] = {}
    for sf_dir, tag in ((SRC, "sf0.1"), (DST, "sf1")):
        evict_session_frames()
        for table in ("documents", "embeddings"):
            scan_cache_dir(spark, sf_dir, table)  # outside the timed region
        for bname, fn in _builds():
            if not only and bname in _NOT_SF1_SCALED:
                continue  # nothing downstream needs it warm either
            if only and bname not in only:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                continue  # unselected builds still run: downstream needs them warm
            best = None
            for rep in range(2):
                if bname not in _LANDED:
                    evicted = evict_session_frames(_TAGS[bname])
                    assert rep == 0 or evicted, (
                        f"{bname}: no session frame under tag {_TAGS[bname]!r}"
                        " — _TAGS is stale"
                    )
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            out.setdefault(bname, {})[tag] = round(best, 4)
            print(f"# {tag} {bname} best={best:.3f}s", file=sys.stderr, flush=True)

    result = {}
    for bname, t in out.items():
        result[bname] = {
            **t,
            "alpha_decade": round(math.log10(t["sf1"] / t["sf0.1"]), 3),
        }
    print(json.dumps({"metric": "builds_sweep", "builds": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
