"""CLI mirroring the reference's command surface, so a user of
``jjyao/impala-workload-analyzer`` can run the same workflow verbatim:

    reference                                  this engine
    -----------------------------------------  -----------------------------------------------
    bash driver.sh TAG INPUT OUTPUT            python -m impala_workload_analyzer_spark all TAG OUTPUT
    python analyze_profiles.py TAG FILE        python -m impala_workload_analyzer_spark ingest TAG [--input DIR]
    java -jar query_analyzer.jar TAG           python -m impala_workload_analyzer_spark enrich TAG OUTPUT
    python stats.py --summary TAG OUTPUT       python -m impala_workload_analyzer_spark stats --summary TAG OUTPUT
    python aggs.py TAG OUTPUT                  python -m impala_workload_analyzer_spark aggs TAG OUTPUT
    python joins.py TAG OUTPUT                 python -m impala_workload_analyzer_spark joins TAG OUTPUT
    python clustering.py TAG OUTPUT            python -m impala_workload_analyzer_spark clustering TAG OUTPUT

Differences from the reference, by design (SURVEY.md §1.4, §3):
- outputs are CSV tables under OUTPUT instead of matplotlib PNGs — the
  analytics return DataFrames; plotting is a presentation concern;
- the corpus location comes from ``--sf-dir`` (default
  ``$SPARK_GRAFT_SF_DIR``) instead of a MongoDB connection;
- ``ingest --input DIR`` accepts any directory of profile log lines
  (the reference's per-file process loop becomes one Spark job).
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark():
    from .session import get_spark  # noqa: PLC0415

    return get_spark("iwa-cli")


def _write(df, outdir: str, name: str) -> None:
    path = os.path.join(outdir, name)
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    print(f"wrote {path}")


def cmd_ingest(args) -> int:
    from .sources.profiles import materialized_table, parsed_queries  # noqa: PLC0415

    spark = _spark()
    if args.input:
        n = parsed_queries(spark, args.sf_dir, input_dir=args.input,
                           tag=args.tag).count()
        print(f"parsed {n} queries from {args.input} (tag={args.tag})")
        return 0
    for which in ("queries", "operators", "fragments"):
        df = materialized_table(spark, args.sf_dir, which)
        print(f"{which}: {df.count()} rows materialized")
    return 0


def cmd_enrich(args) -> int:
    from .sql_introspect.queries import feature_table, features_rollup  # noqa: PLC0415

    spark = _spark()
    os.makedirs(args.output, exist_ok=True)
    _write(feature_table(spark, args.sf_dir), args.output, "sql_features")
    _write(features_rollup(spark, args.sf_dir), args.output, "features_rollup")
    return 0


_STATS = (  # stats.py's summary tables, by our query names
    "a1_op_time_by_name", "a2_codegen_sink_totals", "a3_join_counts",
    "a4_distinct_scan_tables", "a5_scan_size_per_query",
    "a6_workload_distributions", "a13_avg_time_pct_per_operator",
    "a14_abs_time_pct_per_operator", "a15_rollup_by_sql_type",
    "a16_counter_consistency", "a17_query_num_hosts",
    "w1_concurrency_sweep", "w2_time_share_per_query", "p5_operator_skew",
)
_AGGS = ("a10_preagg_reduction", "a11_preagg_reduction_hist")
_JOINS = ("j2_join_children", "a9_join_audit_rollup")
_CLUSTERING = ("m0_cluster_features", "m2_kmeans_elbow", "m3_kmeans_clusters")


def _run_named(names, args) -> int:
    from .registry import all_queries  # noqa: PLC0415

    spark = _spark()
    qs = all_queries()
    os.makedirs(args.output, exist_ok=True)
    for name in names:
        _write(qs[name](spark, args.sf_dir), args.output, name)
    return 0


def cmd_stats(args) -> int:
    names = _STATS if args.summary else _STATS[:6]
    return _run_named(names, args)


def cmd_all(args) -> int:
    rc = cmd_ingest(args)
    if rc:
        return rc
    for fn in (cmd_enrich,):
        if fn(args):
            return 1
    for names in (_AGGS, _JOINS, _STATS, _CLUSTERING):
        if _run_named(names, args):
            return 1
    return 0


def _check_name(name: str) -> int:
    """Validate a query name BEFORE booting Spark (~15s) so a typo fails
    instantly with the available names."""
    from .registry import all_queries  # noqa: PLC0415

    names = all_queries()
    if name in names:
        return 0
    print(f"unknown query {name!r}; available:", file=sys.stderr)
    print("  " + "\n  ".join(sorted(names)), file=sys.stderr)
    return 2


# query families whose construction materializes work up front (streaming
# runs to completion, KMeans/CC iterate): explain shows the final cursor
_EAGER_PREFIXES = ("st", "m2_", "m3_", "dd8_", "dd9_")


def cmd_run(args) -> int:
    """Run any registered query by name (the driver-contract names)."""
    return _check_name(args.name) or _run_named([args.name], args)


def cmd_explain(args) -> int:
    """Print a registered query's physical plan — the operator UX for
    auditing shuffles/broadcasts/pushdown before a big run."""
    rc = _check_name(args.name)
    if rc:
        return rc
    if args.name.startswith(_EAGER_PREFIXES):
        print(f"note: {args.name} materializes during construction "
              "(streaming/iterative); the plan below is its final cursor",
              file=sys.stderr)
    from .registry import all_queries  # noqa: PLC0415

    spark = _spark()
    all_queries()[args.name](spark, args.sf_dir).explain(mode=args.mode)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="impala_workload_analyzer_spark",
                                description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="fixture/corpus directory (reference analog: the MongoDB)")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("ingest", help="EP1: decode+parse profiles into tables")
    s.add_argument("tag")
    s.add_argument("--input", help="directory of profile log lines")
    s.set_defaults(fn=cmd_ingest)

    s = sub.add_parser("enrich", help="EP2: SQL feature extraction")
    s.add_argument("tag")
    s.add_argument("output")
    s.set_defaults(fn=cmd_enrich)

    s = sub.add_parser("stats", help="EP3: workload summary analytics")
    s.add_argument("--summary", action="store_true")
    s.add_argument("tag")
    s.add_argument("output")
    s.set_defaults(fn=cmd_stats)

    for name, queries in (("aggs", _AGGS), ("joins", _JOINS),
                          ("clustering", _CLUSTERING)):
        s = sub.add_parser(name, help=f"EP3: {name} analytics")
        s.add_argument("tag")
        s.add_argument("output")
        s.set_defaults(fn=lambda a, q=queries: _run_named(q, a))

    s = sub.add_parser("run", help="run one registered query by name")
    s.add_argument("name")
    s.add_argument("output")
    s.set_defaults(fn=cmd_run)

    s = sub.add_parser("explain", help="print a query's physical plan")
    s.add_argument("name")
    s.add_argument("--mode", default="formatted",
                   choices=("simple", "extended", "formatted", "cost"))
    s.set_defaults(fn=cmd_explain)

    s = sub.add_parser("all", help="driver.sh: the full workflow")
    s.add_argument("tag")
    s.add_argument("output")
    s.add_argument("--input", default=None)
    s.set_defaults(fn=cmd_all)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
