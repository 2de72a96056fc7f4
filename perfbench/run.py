#!/usr/bin/env python3
"""The repository benchmark: one workload, one process, one result line.

    python3 perfbench/run.py --workload {ingest,analytics} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It boots one ``local[nproc]`` session,
renders or validates the fixture-derived caches untimed, times set-up,
then runs passes over the workload's operations (the seed permutes their
order) until ``--seconds`` of measured time have passed, checking every
output against ``expected.json``. The last stdout line is the result
JSON; the line before it records the run's context (cpus, versions,
scale, seed, sample count, tail percentile, failed fraction, per-call
latencies).

``--trace 1`` adds spans around prepare, set-up, each pass and each call
(written to ``.perfbench_work/traces/``), Spark status-store counters per
call, and driver-side per-profile and per-statement timings, and prints
the per-layer metrics instead of the end-to-end ones.

``--record`` rewrites the expected value of every operation the run
executed from its outputs; use it only on a commit whose outputs are
known good.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import random
import sys
import tempfile
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import workloads  # noqa: E402

SCALE = "sf0.01"
# a copy of the sf0.01 fixture tables under its own basename, so every
# cache the package derives from it is the benchmark's and none of the
# repository's committed caches is touched
FIXTURES = "perfbench_sf0.01"
SETUP_REPS = 3
MICRO_SAMPLE = 1000  # profiles / statements timed driver-side when traced
MICRO_ROUNDS = 3

# Per-call latency (its median, and a tail where a run has enough calls),
# failed fraction, profiles/s and peak RSS go to the info line instead:
# with three calls a pass, the ingest median follows whichever table the
# seed puts first (that call pays 2-4 s of first-use cost), and peak RSS
# varies 20-40% run to run with JVM heap growth.
END_TO_END = (("setup_s", "s"), ("wall_s", "s"))

_ROLLUP = (("s", "s"), ("executor_ms", "ms"), ("shuffle_bytes", "bytes"),
           ("input_bytes", "bytes"), ("spill_bytes", "bytes"),
           ("stages", "count"), ("tasks", "count"))

PER_LAYER = (
    [("session.boot_s", "s"), ("session.gc_ms", "ms"), ("session.peak_rss_mb", "MB"),
     ("sources.thrift_compact.deserialize_us", "us"),
     ("sources.profiles.b64_zlib_us", "us"),
     ("sources.profiles.parse_profile_us", "us")]
    + [(f"sources.profiles.{t}.{k}", u) for t in workloads.INGEST
       for k, u in (("s", "s"), ("executor_ms", "ms"), ("rows", "count"))]
    + [("sources.profiles.shuffle_bytes", "bytes"),
       ("sources.profiles.lines_read_per_profile", "lines/profile"),
       ("catalog.bytes_written", "bytes"), ("catalog.bytes_per_row", "bytes/row"),
       ("sql_introspect.parser.extract_features_us", "us"),
       ("sql_introspect.parser.parameterize_us", "us")]
    + [(f"{m}.{k}", u) for m in workloads.MODULES for k, u in _ROLLUP]
    + [("trace.overhead_s", "s")]
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, workloads.PKG, "__init__.py")):
        print(f"no {workloads.PKG} package under {root}: run from a checkout root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    _launch_env(root, work)

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    bench = Bench(args, os.path.join(HERE, "fixtures", FIXTURES), work, run_id)
    try:
        result, info = bench.run()
    finally:
        bench.shutdown()
    if args.record:
        _record(bench.digests)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


def _launch_env(root: str, work: str) -> None:
    """Set before the JVM starts; the JVM and the Python workers inherit it.

    One core per Spark task slot (the package defaults to 32), Spark's
    scratch space and every temporary file inside the checkout, and the
    checkout on the workers' path (their ``mapInPandas`` functions import
    the package)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tempfile.tempdir = tmp
    sys.path.insert(0, root)


class Bench:
    def __init__(self, args, sf_dir: str, work: str, run_id: str):
        self.args = args
        self.sf_dir = sf_dir
        self.work = work
        self.out_dir = os.path.join(work, "out", args.workload)
        self.spans = harness.Spans(run_id, bool(args.trace))
        self.spark = None
        self.child_pids: list[int] = []
        self.digests: dict[str, dict] = {}
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)

    # -- phases ------------------------------------------------------------

    def run(self):
        from impala_workload_analyzer_spark.session import get_spark  # noqa: PLC0415

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        boot_s = time.perf_counter() - t0

        sp = self.spans.open("prepare")
        n_profiles = self._prepare()
        self.spans.close(sp)

        setup_reps = []
        for _ in range(SETUP_REPS):
            sp = self.spans.open("setup")
            t0 = time.perf_counter()
            self.spark.stop()
            self.spark = get_spark("perfbench")
            self._validate()
            setup_reps.append(time.perf_counter() - t0)
            self.spans.close(sp)

        calls, passes = self._passes()
        self.child_pids = harness.descendants(os.getpid())
        rss = harness.peak_rss_mb([os.getpid()] + self.child_pids)

        ok = [c for c in calls if c["ok"]]
        failed = len(calls) - len(ok)
        lat = [c["latency"] for c in ok] or [0.0]
        wall_s = harness.median(
            [sum(c["latency"] for c in calls if c["pass"] == p) for p in range(passes)])
        metrics = {"setup_s": harness.median(setup_reps), "wall_s": wall_s}
        info = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "scale": SCALE,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "python": platform.python_version(), "spark": self.spark.version,
            "passes": passes, "samples": len(lat),
            "query_p50_s": harness.median(lat),
            # the highest percentile with ten samples beyond it; None when
            # a run has too few operations for any
            "tail_percentile": harness.tail_percentile(len(lat)),
            "attempted": len(calls), "failed": failed,
            "failed_frac": failed / len(calls),
            "failures": [f"{c['name']}: {c['error']}" for c in calls if not c["ok"]],
            "profiles": n_profiles,
            "setup_reps_s": setup_reps, "peak_rss_mb": rss,
            "latencies_s": {f"{c['pass']}:{c['name']}": c["latency"] for c in calls},
        }
        if self.args.workload == "ingest":
            info["profiles_per_s"] = n_profiles / wall_s
        if self.args.trace:
            metrics = self._layers(calls, passes, boot_s, n_profiles)
            metrics["session.peak_rss_mb"] = rss
            sp_path = os.path.join(self.work, "traces", f"{self.spans.run_id}.jsonl")
            selfs = harness.self_times(self.spans.records)
            for r in self.spans.records:
                r["self_s"] = selfs[r["id"]]
            self.spans.write(sp_path)
            info["wall_s"] = wall_s
            info["trace_file"] = os.path.relpath(sp_path)
        units = dict(PER_LAYER if self.args.trace else END_TO_END)
        result = {
            "correct": failed == 0,
            "attempted": len(calls),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
        return result, info

    def _prepare(self) -> int:
        """Render or validate every cache the workloads read (untimed);
        returns the number of profiles in the rendered logs."""
        from impala_workload_analyzer_spark.sources.profile_render import profiles_path  # noqa: PLC0415

        self._validate()
        n = 0
        for part in glob.glob(os.path.join(profiles_path(self.sf_dir), "tag=*", "part-*")):
            with open(part, "rb") as f:
                n += sum(1 for _ in f)
        return n

    def _validate(self) -> None:
        from impala_workload_analyzer_spark.corpus.builder import ensure_corpus  # noqa: PLC0415
        from impala_workload_analyzer_spark.io import ensure_scan_cache  # noqa: PLC0415
        from impala_workload_analyzer_spark.sources.profile_render import ensure_profiles  # noqa: PLC0415
        from impala_workload_analyzer_spark.sources.profiles import materialized_table  # noqa: PLC0415

        ensure_scan_cache(self.spark, self.sf_dir)
        ensure_corpus(self.spark, self.sf_dir)
        ensure_profiles(self.spark, self.sf_dir)
        for table in workloads.INGEST:
            materialized_table(self.spark, self.sf_dir, table)

    def _passes(self):
        ops = workloads.ops(self.args.workload, lambda: self.spark,
                            self.sf_dir, self.out_dir)
        rng = random.Random(self.args.seed)
        counters = harness.StageCounters(self.spark) if self.args.trace else None
        calls: list[dict] = []
        measured = 0.0
        p = 0
        while p == 0 or measured < self.args.seconds:
            order = list(ops)
            rng.shuffle(order)
            sp_pass = self.spans.open("pass", index=p)
            for op in order:
                call = {"name": op.name, "module": op.module, "pass": p,
                        "ok": False, "error": None, "latency": 0.0}
                group = f"{harness.StageCounters.prefix}{self.spans.run_id}:{p}:{op.name}"
                if counters:
                    tb = time.perf_counter()
                    sp = self.spans.open("call", op=op.name, module=op.module)
                    counters.begin(group)
                    self.spans.overhead_s += time.perf_counter() - tb
                ms0 = int(time.time() * 1000)
                t0 = time.perf_counter()
                try:
                    op.run()
                except Exception as e:  # noqa: BLE001 - counted, never dropped
                    call["error"] = f"{type(e).__name__}: {str(e)[:200]}"
                call["latency"] = time.perf_counter() - t0
                ms1 = int(time.time() * 1000)
                if counters:
                    tb = time.perf_counter()
                    self.spans.close(sp)
                    self.spans.overhead_s += time.perf_counter() - tb
                    call["counters"] = counters.collect(group, ms0, ms1)
                measured += call["latency"]
                if call["error"] is None:
                    call["error"] = self._check(op)
                    call["ok"] = call["error"] is None
                calls.append(call)
            self.spans.close(sp_pass)
            p += 1
        return calls, p

    def _check(self, op) -> str | None:
        try:
            rows, digest, header = op.digest()
        except Exception as e:  # noqa: BLE001 - reported as a failed call
            return f"output unreadable: {type(e).__name__}: {str(e)[:200]}"
        self.digests[op.name] = {"rows": rows, "hash": digest, "columns": list(header)}
        if self.args.record:
            return None
        want = self.expected.get(op.name)
        if want is None:
            return "no expected value recorded"
        if rows != want["rows"]:
            return f"rows {rows} != expected {want['rows']}"
        if list(header) != want["columns"]:
            return "columns differ from expected"
        if digest != want["hash"]:
            return f"content hash {digest} != expected {want['hash']}"
        return None

    # -- traced run ------------------------------------------------------------

    def _layers(self, calls, passes, boot_s, n_profiles) -> dict[str, float]:
        m = {name: 0.0 for name, _ in PER_LAYER}
        per = 1.0 / passes
        m["session.boot_s"] = boot_s
        m["trace.overhead_s"] = self.spans.overhead_s * per
        for c in calls:
            cnt = c.get("counters", Counter())
            m["session.gc_ms"] += cnt["jvmGcTime"] * per
            if c["module"] == "sources.profiles":
                t = f"sources.profiles.{c['name']}"
                m[f"{t}.s"] += c["latency"] * per
                m[f"{t}.executor_ms"] += cnt["executorRunTime"] * per
                m[f"{t}.rows"] += self.digests.get(c["name"], {}).get("rows", 0) * per
                m["sources.profiles.shuffle_bytes"] += cnt["shuffleWriteBytes"] * per
                m["sources.profiles.lines_read_per_profile"] += cnt["inputRecords"] * per / n_profiles
                continue
            mod = c["module"]
            m[f"{mod}.s"] += c["latency"] * per
            m[f"{mod}.executor_ms"] += cnt["executorRunTime"] * per
            m[f"{mod}.shuffle_bytes"] += cnt["shuffleWriteBytes"] * per
            m[f"{mod}.input_bytes"] += cnt["inputBytes"] * per
            m[f"{mod}.spill_bytes"] += (cnt["memoryBytesSpilled"] + cnt["diskBytesSpilled"]) * per
            m[f"{mod}.stages"] += cnt["stages"] * per
            m[f"{mod}.tasks"] += cnt["numTasks"] * per
        m.update(self._catalog_size())
        sp = self.spans.open("micro")
        m.update(_decode_micro(self.sf_dir))
        m.update(_parser_micro(self.spark, self.sf_dir))
        self.spans.close(sp)
        return m

    def _catalog_size(self) -> dict[str, float]:
        """On-disk size of the three landed tables the workload wrote
        (ingest) or read (analytics), in total and per row."""
        from urllib.parse import urlparse  # noqa: PLC0415

        from impala_workload_analyzer_spark.sources.profiles import materialized_table  # noqa: PLC0415

        size = rows = 0
        for table in workloads.INGEST:
            df = (self.spark.read.parquet(os.path.join(self.out_dir, table))
                  if self.args.workload == "ingest"
                  else materialized_table(self.spark, self.sf_dir, table))
            size += sum(os.path.getsize(urlparse(f).path) for f in df.inputFiles())
            rows += df.count()
        return {"catalog.bytes_written": size, "catalog.bytes_per_row": size / rows}

    def shutdown(self) -> None:
        """Stop Spark, the JVM and the Python workers, and wait for each."""
        pids = harness.descendants(os.getpid()) or self.child_pids
        if self.spark is not None:
            from pyspark import SparkContext  # noqa: PLC0415

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    proc.wait(timeout=60)
        left = harness.wait_gone(pids)
        if left:
            print(f"processes still running after shutdown: {left}", file=sys.stderr)


def _median_rounds(fn, rounds: int = MICRO_ROUNDS) -> float:
    vals = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        fn()
        vals.append(time.perf_counter() - t0)
    return harness.median(vals)


def _decode_micro(sf_dir: str) -> dict[str, float]:
    """Per-profile driver-side decode stages over a fixed log sample."""
    import base64  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    from impala_workload_analyzer_spark.sources.profile_render import profiles_path  # noqa: PLC0415
    from impala_workload_analyzer_spark.sources.profiles import parse_profile  # noqa: PLC0415
    from impala_workload_analyzer_spark.sources.thrift_compact import TRuntimeProfileTree  # noqa: PLC0415

    sample: list[tuple[str, str]] = []
    tag_dirs = sorted(glob.glob(os.path.join(profiles_path(sf_dir), "tag=*")))
    for tag_dir in tag_dirs:
        tag = tag_dir.rsplit("=", 1)[1]
        take = MICRO_SAMPLE // len(tag_dirs)
        for part in sorted(glob.glob(os.path.join(tag_dir, "part-*"))):
            with open(part) as f:
                for line in f:
                    if take == 0:
                        break
                    sample.append((line.split(" ")[2].strip(), tag))
                    take -= 1
    raws = [zlib.decompress(base64.b64decode(b)) for b, _ in sample]
    trees = [TRuntimeProfileTree.deserialize(r, lean=True) for r in raws]
    n = len(sample)
    return {
        "sources.profiles.b64_zlib_us": 1e6 / n * _median_rounds(
            lambda: [zlib.decompress(base64.b64decode(b)) for b, _ in sample]),
        "sources.thrift_compact.deserialize_us": 1e6 / n * _median_rounds(
            lambda: [TRuntimeProfileTree.deserialize(r, lean=True) for r in raws]),
        "sources.profiles.parse_profile_us": 1e6 / n * _median_rounds(
            lambda: [parse_profile(t, tag) for t, (_, tag) in zip(trees, sample)]),
    }


def _parser_micro(spark, sf_dir: str) -> dict[str, float]:
    """Per-statement SQL parser timings over a fixed sample of the corpus's
    distinct statements."""
    from impala_workload_analyzer_spark.sources.profiles import materialized_table  # noqa: PLC0415
    from impala_workload_analyzer_spark.sql_introspect.parser import (  # noqa: PLC0415
        extract_sql_features,
        parameterize_sql,
    )

    stmts = sorted(r[0] for r in materialized_table(spark, sf_dir, "queries")
                   .select("sql_stmt").where("sql_stmt IS NOT NULL").distinct().collect())
    step = max(1, len(stmts) // MICRO_SAMPLE)
    stmts = stmts[::step][:MICRO_SAMPLE]
    n = len(stmts)
    return {
        "sql_introspect.parser.extract_features_us": 1e6 / n * _median_rounds(
            lambda: [extract_sql_features(s) for s in stmts]),
        "sql_introspect.parser.parameterize_us": 1e6 / n * _median_rounds(
            lambda: [parameterize_sql(s) for s in stmts]),
    }


def _record(digests: dict) -> None:
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        data = json.load(f)
    data.update(digests)
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
