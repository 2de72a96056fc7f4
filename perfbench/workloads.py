"""The two workloads: the operations each pass runs, how each output is
checked, and the module each operation is accounted to.

Every timed call goes through the package's public surface the way its
CLI does: ingest lands tables with ``catalog.write_bucketed`` (the
``materialized_table`` path, pointed at the benchmark's own directory);
analytics writes each output as ``__main__._write`` does.
"""

from __future__ import annotations

import contextlib
import importlib
import io
import os
from collections.abc import Callable
from dataclasses import dataclass

import harness

PKG = "impala_workload_analyzer_spark"

INGEST = ("queries", "operators", "fragments")

# The reference's driver.sh analytics, one output per analytics module:
# from the 23 outputs of the ``all`` CLI after ingest, plus pt8 standing in
# for draw_plan.py. The full list costs more than a run can spend, so each
# module gets its cheaper output where it has two; features_rollup still
# runs q1's SQL parse over every statement, because its shared frame is
# rebuilt in each fresh session.
REPORT = (
    "a1_op_time_by_name", "a9_join_audit_rollup",
    "a10_preagg_reduction", "w1_concurrency_sweep",
    "a16_counter_consistency", "a13_avg_time_pct_per_operator",
    "features_rollup", "m0_cluster_features", "pt8_plan_shape_profile",
)

# bench.py headliners from the pipeline and streaming modules, one per
# module. Those that read a shared persisted frame (dd3, dd17, sim16,
# tx33) are left out: building the frames costs more than a run can spend.
CURATION = (
    "dd1_exact_dedup", "sim4_ivf_topk", "tx13_boilerplate_stats",
    "ev3_sessionize", "mm4_multimodal_packing", "st15_streaming_shard_manifest",
)

WORKLOADS = {"ingest": INGEST, "analytics": REPORT + CURATION}

# modules the analytics operations are accounted to (layer rollups)
MODULES = (
    "operators.workload_stats", "operators.join_audit", "operators.preagg",
    "operators.concurrency", "operators.consistency", "operators.time_share",
    "sql_introspect.queries", "ml.clustering", "plans.draw_plan",
    "pipeline.dedup", "pipeline.similarity", "pipeline.text",
    "pipeline.events_analytics", "pipeline.multimodal",
    "streaming.stream_queries",
)

# CLI-only outputs that no module's SPARK_QUERIES lists
_CLI_ONLY = {"features_rollup": "sql_introspect.queries"}


@dataclass(frozen=True)
class Op:
    name: str
    module: str  # layer the op is accounted to, e.g. "operators.preagg"
    run: Callable[[], None]  # the timed call
    digest: Callable[[], tuple]  # (rows, hash, header) read back untimed


def _query_modules() -> dict[str, str]:
    out = dict(_CLI_ONLY)
    for mod in MODULES:
        for q in getattr(importlib.import_module(f"{PKG}.{mod}"), "SPARK_QUERIES", {}):
            out[q] = mod
    return out


def ops(workload: str, spark_ref: Callable, sf_dir: str, out_dir: str) -> list[Op]:
    """The operations of one pass, in canonical order. ``spark_ref``
    returns the current session (set-up restarts it)."""
    if workload == "ingest":
        return [_ingest_op(t, spark_ref, sf_dir, out_dir) for t in INGEST]
    from impala_workload_analyzer_spark.__main__ import _write  # noqa: PLC0415
    from impala_workload_analyzer_spark.registry import all_queries  # noqa: PLC0415
    from impala_workload_analyzer_spark.sql_introspect import queries as sqlq  # noqa: PLC0415

    qs = dict(all_queries())
    qs["features_rollup"] = sqlq.features_rollup
    modules = _query_modules()
    result = []
    for name in WORKLOADS[workload]:
        def run(fn=qs[name], name=name):
            # _write announces each file on stdout; the result line must
            # stay the last line there
            with contextlib.redirect_stdout(io.StringIO()):
                _write(fn(spark_ref(), sf_dir), out_dir, name)

        def digest(path=os.path.join(out_dir, name)):
            return harness.csv_digest(path)

        result.append(Op(name, modules[name], run, digest))
    return result


def _ingest_op(table: str, spark_ref, sf_dir: str, out_dir: str) -> Op:
    from impala_workload_analyzer_spark.catalog import write_bucketed  # noqa: PLC0415
    from impala_workload_analyzer_spark.sources import profiles  # noqa: PLC0415

    fn = {"queries": profiles.parsed_queries,
          "operators": profiles.parsed_operators,
          "fragments": profiles.parsed_fragments}[table]
    path = os.path.join(out_dir, table)

    def run():
        write_bucketed(fn(spark_ref(), sf_dir), path, f"perfbench_{table}")

    def digest():
        df = spark_ref().read.parquet(path)
        n, h = harness.table_digest(df)
        return n, h, df.columns

    return Op(table, "sources.profiles", run, digest)

