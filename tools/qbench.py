"""Isolated per-query bench: time one or more registered queries with the
bench.py protocol (``bench.prepare`` scaffolding, then ``bench.best_of``)
without paying for the other 47 headliners — the measurement loop for
optimization A/Bs (guide §1: isolate each expensive query with the noop
sink).

Usage:
  python tools/qbench.py [--reps N] [--sf DIR] name [name ...]
  python tools/qbench.py [--reps N] [--sf DIR] --ab A B

The first form prints one JSON line {"queries": {name: best_sec}, "reps":
N, "all": {name: [rep..]}} so the full rep spread is visible (host noise
swings single reps; the spread says whether a delta is real).

``--ab`` runs ``bench.ab``: A (current) and B (variant) are each a
registered query name or a ``module:function`` with the ``(spark,
sf_dir) -> DataFrame`` signature. It exits non-zero before any timing
unless their outputs are equal under ``exceptAll`` both ways, then prints
{"current": A, "variant": B, "exceptAll": [0, 0], "reps": {side:
[rep..]}} from reps interleaved in one session.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def resolve(spec: str, qs: dict):
    """A registered query name, or ``module:function``."""
    if spec in qs:
        return qs[spec]
    module, sep, fn = spec.partition(":")
    if not sep:
        raise SystemExit(f"qbench: {spec!r} is neither a registered query "
                         f"nor module:function")
    return getattr(importlib.import_module(module), fn)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--sf", default=sf_dir)
    p.add_argument("--ab", nargs=2, metavar=("A", "B"))
    p.add_argument("names", nargs="*")
    args = p.parse_args()
    if bool(args.ab) == bool(args.names):
        p.error("give either query names or --ab A B")

    import __spark_entry__ as entrymod
    from bench import ab, best_of, prepare
    from impala_workload_analyzer_spark.session import get_spark

    spark = get_spark("qbench")
    qs = entrymod.queries()
    sf_dir = args.sf
    prepare(spark, sf_dir)

    if args.ab:
        current, variant = (resolve(s, qs) for s in args.ab)
        cur, var = ab(spark, lambda: current(spark, sf_dir),
                      lambda: variant(spark, sf_dir), args.reps)
        print(json.dumps({"current": args.ab[0], "variant": args.ab[1],
                          "exceptAll": [0, 0],
                          "reps": {"current": cur, "variant": var}}))
        return 0

    allreps = {}
    for name in args.names:
        spark.sparkContext.setJobDescription(f"qbench:{name}")
        allreps[name] = best_of(lambda: qs[name](spark, sf_dir), args.reps)
    print(json.dumps({"queries": {n: min(t) for n, t in allreps.items()},
                      "reps": args.reps, "all": allreps}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
