"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_lakehouse --seed 1 --seconds 20 --trace 0

Runs one workload in this process against ``local[nproc]`` and prints,
as the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: every end-to-end metric of
``BENCHMARK.json`` with ``--trace 0``, every per-layer metric with
``--trace 1``. A run record (machine, versions, samples, result hashes
and, when traced, the spans) is written under ``perfbench/results/``.
See ``perfbench/README.md``."""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sport_advantages_moderne_data_infrastructure_spark"
#: read-only input fixture per workload. The query mix runs at sf0.01:
#: its cost is per-job overhead (a warm sf0.1 pass is within 20% of an
#: sf0.01 one on 4 cores) and sf0.1 does not fit the run budget.
DEFAULT_SF = {"cdc_lakehouse": "/root/testdata/sf0.1",
              "llm_corpus": "/root/testdata/sf0.01"}

sys.path[:0] = [ROOT, HERE]

from common import (  # noqa: E402
    Checks,
    SparkCounters,
    Tracer,
    add_counts,
    cpu_steal_s,
    driver_mem_arg,
    nproc,
    physical_mem_bytes,
    retained_mb,
)


class Run:
    """One benchmark run: the session, the tracer, the check accounting
    and the Spark counters the workloads report through."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.sf_dir, self.corrupt = args.sf_dir, args.corrupt
        self.work, self.tmp = work, os.path.join(work, "tmp")
        self.tracer = Tracer(bool(args.trace),
                             f"{args.workload}-{args.seed}-{os.getpid()}")
        self.checks = Checks()
        self.counters: SparkCounters | None = None
        self.spark = None
        self.measuring = False
        self.spark_totals: dict = {}

    def start_session(self, cpus: int) -> float:
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        from sport_advantages_moderne_data_infrastructure_spark.session import (
            get_spark,
        )
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        })
        dt = time.perf_counter() - t0
        if self.tracer.enabled:
            self.counters = SparkCounters(self.spark, self.tracer)
        return dt

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def group(self, name: str) -> None:
        if self.counters:
            self.counters.group(name)

    def watch(self, group: str) -> None:
        if self.counters:
            self.counters.watch(group)

    def count_spark(self) -> dict:
        """Spark figures since the previous call (traced runs only)."""
        if not self.counters:
            return {}
        c = self.counters.collect()
        if self.measuring:
            add_counts(self.spark_totals, c)
        return c


def _versions(spark) -> dict:
    import pyspark

    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": nproc(), "mem_bytes": physical_mem_bytes(),
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty(  # noqa: SLF001
                "java.version"),
            "git_commit": commit}


def execute(args, run: Run) -> dict:
    from cdc import CdcLakehouse
    from corpus import LlmCorpus

    cls = {"cdc_lakehouse": CdcLakehouse, "llm_corpus": LlmCorpus}[args.workload]
    n = nproc()
    tr = run.tracer
    steal0 = cpu_steal_s()
    t0 = time.perf_counter()
    with tr.span("session.start"):
        start_s = run.start_session(n)
    wl = cls(run)
    try:
        with tr.span("setup"):
            wl.setup()
        setup_s = time.perf_counter() - t0
        run.count_spark()
        run.measuring = True
        w0 = time.perf_counter()
        e2e, layers, detail = wl.run_workload(args.seconds)
        wall = time.perf_counter() - w0
        run.measuring = False
        layers["mem.jvm_heap_mb"], layers["mem.python_rss_mb"] = (
            retained_mb(run.spark))
        env = _versions(run.spark)
        if tr.enabled:
            layers.update(_spark_layers(run, tr, wall, n))
            layers["session.start_s"] = start_s
            layers["spark.speedup"] = _speedup(run, wl)
    finally:
        if hasattr(wl, "stop"):
            wl.stop()
    e2e["setup_s"] = setup_s
    env["cpu_steal_s"] = cpu_steal_s() - steal0
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "sf_dir": args.sf_dir, "env": env, "e2e": e2e,
              "layers": layers, "detail": detail,
              "failures": run.checks.failures}
    if tr.enabled:
        layers["trace.overhead_s"] = tr.overhead_s
        layers["trace.spans"] = len(tr.spans)
        record["spans"] = tr.dump()
    return record


def _spark_layers(run: Run, tr: Tracer, wall: float, n: int) -> dict:
    t = run.spark_totals
    return {"plans.build_s": tr.total("plans.build"),
            "spark.exec_s": tr.total("spark.exec"),
            "spark.jobs": t.get("jobs", 0), "spark.stages": t.get("stages", 0),
            "spark.tasks": t.get("tasks", 0),
            "spark.shuffle_write_bytes": t.get("shuffle_write_bytes", 0),
            "spark.spill_bytes": t.get("spill_bytes", 0),
            "spark.core_busy_share": t.get("run_ms", 0) / 1000 / (wall * n)}


def _speedup(run: Run, wl) -> float:
    """The same unit of work at local[1] over local[nproc]: a warm pass of
    the core query mix, or the batch prime recompute. Restarting the CDC
    queries at local[1] does not fit the run budget (README.md)."""
    multi = wl.speedup_pass()
    if hasattr(wl, "stop"):
        wl.stop()
    run.stop_session()
    run.start_session(1)
    wl.spark = run.spark
    return wl.speedup_pass() / multi


def result_line(record: dict, declared: dict, trace: bool, checks: Checks) -> str:
    values = record["layers" if trace else "e2e"]
    metrics = {}
    for m in declared["per_layer" if trace else "end_to_end"]:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return json.dumps({"correct": checks.failed == 0,
                       "attempted": checks.attempted,
                       "failed": checks.failed, "metrics": metrics})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_lakehouse", "llm_corpus"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", default=None,
                    help="read-only input fixture (default: per workload, "
                    f"{DEFAULT_SF})")
    ap.add_argument("--corrupt", default=None, metavar="QUERY",
                    help="self-test: corrupt QUERY's expected result hash")
    args = ap.parse_args(argv)
    args.sf_dir = args.sf_dir or DEFAULT_SF[args.workload]

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(args.sf_dir, "documents.parquet")):
        print(f"perfbench: input fixture missing: {args.sf_dir}",
              file=sys.stderr)
        return 2
    with open(bench_json) as f:
        declared = json.load(f)

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                            dir=os.path.join(HERE, ".work"))
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    # the catalog's index builders mkdtemp under TMPDIR: keep them (and
    # Spark's scratch space) inside this run's directory
    os.environ.update({"TMPDIR": os.path.join(work, "tmp"),
                       "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
                       "SPARK_GRAFT_DRIVER_MEM": driver_mem_arg()})
    tempfile.tempdir = None
    run = Run(args, work)
    try:
        record = execute(args, run)
    finally:
        _shutdown(run)
        shutil.rmtree(work, ignore_errors=True)
    me, kids = (resource.getrusage(resource.RUSAGE_SELF),
                resource.getrusage(resource.RUSAGE_CHILDREN))
    record["env"]["cpu_s"] = (me.ru_utime + me.ru_stime
                              + kids.ru_utime + kids.ru_stime)
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"env": record["env"], "failures": run.checks.failures}),
          file=sys.stderr)
    print(result_line(record, declared, bool(args.trace), run.checks))
    return 0


def _shutdown(run: Run) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    run.stop_session()
    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
