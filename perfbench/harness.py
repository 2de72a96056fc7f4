"""Measurement plumbing for the benchmark: statistics, output hashing,
spans, Spark status-store counters and process accounting.

Nothing here imports the package under test; ``run.py`` and
``workloads.py`` do.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import math
import os
import re
import time
from collections import Counter

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# samples that must lie beyond the reported tail percentile
TAIL_BEYOND = 10


# --- statistics --------------------------------------------------------------

def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method), p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Highest percentile, from 50 up in steps of 5, with at least
    ``beyond`` of ``n`` samples above it; None when not even the median
    has that many."""
    best = None
    for p in range(50, 100, 5):
        if n * (100 - p) >= beyond * 100:
            best = p
    return best


def median(values: list[float]) -> float:
    return percentile(values, 50)


# --- output checks -----------------------------------------------------------

def _canon(field: str | None) -> str:
    """One CSV cell in canonical form: floats to 9 significant digits, so
    a last-bit difference from summation order does not read as a change."""
    if field is None or field == "":
        return "\\N"
    if any(c in field for c in ".eEnN") and not field.isalpha():
        try:
            v = float(field)
        except ValueError:
            return field
        if math.isfinite(v):
            return format(v, ".9g")
    return field


def rows_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive content hash) of an iterable of rows.

    Each canonical row hashes to 64 bits; the sum mod 2**64 is a multiset
    hash, so row order does not matter and duplicates still count."""
    n = 0
    acc = 0
    for row in rows:
        line = "\x1f".join(_canon(None if v is None else str(v)) for v in row)
        acc = (acc + int.from_bytes(hashlib.sha1(line.encode()).digest()[:8], "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


def csv_digest(path: str) -> tuple[int, str, list[str]]:
    """Digest a Spark CSV output directory: (rows, hash, header)."""
    header: list[str] = []
    rows: list[list[str]] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="") as f:
            r = csv.reader(f)
            head = next(r, None)
            if head is not None:
                header = head
            rows.extend(r)
    n, h = rows_digest(rows)
    return n, h, header


def table_digest(df) -> tuple[int, str]:
    """Digest a landed Spark table without collecting it: row count plus
    two order-insensitive aggregates of a per-row xxhash64."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    h = F.xxhash64(*[F.col(c) for c in df.columns])
    n, s, x = df.select(
        F.count(F.lit(1)),
        F.sum(F.pmod(h, F.lit(2_147_483_647))),
        F.bit_xor(h),
    ).first()
    return int(n), f"{int(s or 0):x}-{int(x or 0) & ((1 << 64) - 1):016x}"


# --- spans ---------------------------------------------------------------------

class Spans:
    """In-memory span log: (name, start, end, parent, run id). ``enabled``
    False makes every call a no-op so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # bookkeeping time spent inside timed calls

    def open(self, name: str, **attrs) -> int:
        if not self.enabled:
            return -1
        parent = self._stack[-1] if self._stack else None
        self.records.append({"id": len(self.records), "name": name,
                             "start": time.perf_counter(), "end": None,
                             "parent": parent, "run_id": self.run_id, **attrs})
        self._stack.append(len(self.records) - 1)
        return len(self.records) - 1

    def close(self, span_id: int) -> None:
        if span_id < 0:
            return
        self.records[span_id]["end"] = time.perf_counter()
        assert self._stack.pop() == span_id, "spans must nest"

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.records:
                f.write(json.dumps(rec) + "\n")


def self_times(records: list[dict]) -> dict[int, float]:
    """Per-span self time: its duration minus its direct children's."""
    out = {r["id"]: r["end"] - r["start"] for r in records}
    for r in records:
        if r["parent"] is not None:
            out[r["parent"]] -= r["end"] - r["start"]
    return out


# --- Spark status store ------------------------------------------------------

STAGE_FIELDS = ("executorRunTime", "jvmGcTime", "inputBytes", "inputRecords",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
                "numTasks")


class StageCounters:
    """Sums status-store stage counters over the jobs of one call.

    A call's jobs are those in its job group plus any job submitted while
    it ran under a group it did not set (a streaming query's micro-batch
    thread sets its own). Calls run one at a time, so the window is
    unambiguous. Works with ``spark.ui.enabled=false``."""

    prefix = "perfbench:"  # job groups this class sets

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._seen_stages: set[int] = set()
        self._seen_jobs: set[int] = set()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str, t0_ms: int, t1_ms: int) -> Counter:
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        jobs = self.store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in job_ids or jid in self._seen_jobs:
                continue
            sub = j.submissionTime()
            grp = j.jobGroup()
            if (sub.isDefined() and t0_ms <= sub.get().getTime() <= t1_ms
                    and not (grp.isDefined() and grp.get().startswith(self.prefix))):
                job_ids.add(jid)
        totals: Counter = Counter(stages=0)
        for jid in job_ids:
            self._seen_jobs.add(jid)
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in self._seen_stages:
                    continue
                seq = self.store.stageData(
                    sid, False, self.sc._jvm.java.util.ArrayList(), False,
                    self.sc._gateway.new_array(self.sc._jvm.double, 0))
                for k in range(seq.size()):
                    s = seq.apply(k)
                    if s.status().toString() != "COMPLETE":
                        continue
                    self._seen_stages.add(sid)
                    totals["stages"] += 1
                    for f in STAGE_FIELDS:
                        totals[f] += int(getattr(s, f)())
        return totals


# --- processes -----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait for the processes to exit; SIGKILL stragglers. Returns any
    pid still present afterwards."""
    import signal  # noqa: PLC0415

    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return [p for p in alive if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rfind(")") + 2] == "Z"
