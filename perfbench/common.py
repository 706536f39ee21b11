"""Machinery shared by the workloads: machine sizing, spans, Spark
counters, sample statistics, result canonicalisation and check
accounting. Nothing here imports the package under test."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from datetime import date, datetime
from decimal import Decimal


# -- machine ---------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def physical_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_arg(share: float = 0.3) -> str:
    """Driver heap for local mode: a share of physical memory, so the run
    is sized from the machine rather than from a fixed default."""
    return f"{max(1024, int(physical_mem_bytes() * share) >> 20)}m"


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot: a sign
    of interference from other tenants of the machine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def retained_mb(spark) -> tuple[float, float]:
    """Memory the run holds on to: the driver JVM's heap still in use
    after a full GC (cached tables, broadcast state, listeners) and the
    Python process's resident set (collected results, index metadata).
    Peak RSS would instead follow the GC's timing."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = (rt.totalMemory() - rt.freeMemory()) / 2**20
    with open("/proc/self/status") as f:
        rss = next(int(line.split()[1]) for line in f
                   if line.startswith("VmRSS:")) / 1024
    return heap, rss


# -- statistics -------------------------------------------------------------

def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, p: int) -> float:
    """Inclusive-method percentile (linear interpolation)."""
    vals = sorted(values)
    if len(vals) == 1:
        return float(vals[0])
    return float(statistics.quantiles(vals, n=100, method="inclusive")[p - 1])


def tail_percentile(n: int) -> int | None:
    """Highest of the usual tail percentiles with at least ten of ``n``
    samples beyond it."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


# -- spans ------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    when the run ends. Disabled tracers record nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.overhead_s = 0.0  # time spent collecting counters

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": None, "name": name, "parent": stack[-1] if stack else None,
               "run_id": self.run_id, "start": time.perf_counter(),
               "end": None, "thread": threading.get_ident(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str, lo: float | None = None,
              hi: float | None = None) -> float:
        """Summed duration of spans called ``name`` inside [lo, hi]."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and (lo is None or s["start"] >= lo)
                   and (hi is None or s["end"] <= hi))

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        return [{**s, "self_s": selfs[s["id"]]} for s in self.spans]


class TimedProxy:
    """Stands in for an object and records a span around each call of the
    named methods; every other attribute passes through."""

    def __init__(self, target, tracer: Tracer, spans: dict[str, str]):
        self._target, self._tracer, self._spans = target, tracer, spans

    def __getattr__(self, attr):
        value = getattr(self._target, attr)
        name = self._spans.get(attr)
        if name is None:
            return value

        def timed(*a, **kw):
            with self._tracer.span(name):
                return value(*a, **kw)
        return timed


# -- Spark counters ---------------------------------------------------------

class SparkCounters:
    """Job, stage and task figures from outside the package: each
    operation runs under its own job group, job ids come from the status
    tracker (per group, plus the ungrouped jobs of helper threads and the
    streaming queries' run-id groups), and per-stage task, shuffle, spill
    and run-time figures from Spark's status store."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.groups: set[str | None] = {None}
        self.seen: set[int] = set()

    def group(self, name: str) -> None:
        self.groups.add(name)
        self.sc.setJobGroup(name, name)

    def watch(self, group: str) -> None:
        self.groups.add(group)

    def new_jobs(self) -> list[int]:
        st = self.sc.statusTracker()
        ids = set()
        for g in self.groups:
            ids.update(st.getJobIdsForGroup(g))
        fresh = sorted(ids - self.seen)
        self.seen.update(fresh)
        return fresh

    def collect(self) -> dict:
        """Figures for the jobs finished since the previous call."""
        t0 = time.perf_counter()
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        jvm, gw = self.sc._jvm, self.sc._gateway  # noqa: SLF001
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        stages = set()
        for jid in self.new_jobs():
            info = st.getJobInfo(jid)
            out["jobs"] += 1
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for sid in sorted(stages):
            seq = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                  False, gw.new_array(jvm.double, 0))
            for i in range(seq.size()):
                d = seq.apply(i)
                if str(d.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks()
                out["run_ms"] += d.executorRunTime()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += (d.memoryBytesSpilled()
                                       + d.diskBytesSpilled())
        self.tracer.overhead_s += time.perf_counter() - t0
        return out


def add_counts(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


# -- results and checks -----------------------------------------------------

def _canon_value(v):
    import pandas as pd

    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalar or array
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_canon_value(x)) for x in v) + "]"
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (float, Decimal)):
        return format(float(v), ".6g")
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return str(v)


def canonical_rows(pdf) -> list[tuple]:
    """Order-insensitive canonical form of a pandas result: columns by
    name, values as strings (floats to 6 significant digits), rows
    sorted."""
    cols = sorted(pdf.columns)
    rows = [tuple(_canon_value(v) for v in rec)
            for rec in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, x or "") for x in r))


def result_hash(pdf) -> str:
    h = hashlib.sha1(repr(sorted(pdf.columns)).encode())
    for r in canonical_rows(pdf):
        h.update(repr(r).encode())
    return h.hexdigest()


def rows_close(a: list[tuple], b: list[tuple], rel: float = 1e-6) -> bool:
    """Canonical rows equal up to a relative float tolerance (guards the
    hash against values that round on either side of a digit)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x == y:
                continue
            try:
                fx, fy = float(x), float(y)
            except (TypeError, ValueError):
                return False
            if abs(fx - fy) > rel * max(1.0, abs(fx), abs(fy)):
                return False
    return True


class Checks:
    """Failure accounting: every operation and every output check is
    attempted once; an exception or a wrong output counts as failed and
    the run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    @contextmanager
    def guard(self, what: str):
        """Run a block as one operation; its exception is counted, logged
        and swallowed."""
        ok = False
        try:
            yield
            ok = True
        except Exception:  # noqa: BLE001 — a failed operation is data
            traceback.print_exc(file=sys.stderr)
        finally:
            self.record(ok, what)
