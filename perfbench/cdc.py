"""``cdc_lakehouse``: the reference's own data flow and the write-heavy
workload.

Debezium-style CDC records land as parquet batches in a directory that
one long-running query (``write_stream_txn_append`` with Delta export)
ingests into the activities table, while a second one
(``write_stream_final_pipeline``) maintains jmv1 -> agg -> final ->
prime. One client runs a closed loop: land the next batch, wait until
both queries have processed everything available, then serve prime.
The served prime is then checked against a batch recompute. Traced runs
then stop both queries and time a maintenance pass (HR merge, DV
delete, merge, compact)."""

from __future__ import annotations

import os
import random
import time

from common import (
    TimedProxy,
    canonical_rows,
    median,
    percentile,
    rows_close,
    tail_percentile,
)
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.operators import (
    relational as R,
)
from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (
    AggMaterializedView,
    JoinMaterializedView,
    MapMaterializedView,
)
from sport_advantages_moderne_data_infrastructure_spark.sources import (
    domain as D,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming import (
    pipeline as P,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming.finalpipeline import (
    write_stream_final_pipeline,
)

#: CDC batches staged from the fixture; the loop lands them in a seeded
#: order until its time is up
N_BATCHES = 40
#: closed-loop steps the loop runs even when --seconds is short; one
#: step keeps a run inside the run budget (see README.md)
MIN_STEPS = 1
#: buckets of each maintained view
N_BUCKETS = 4
#: employees the maintenance pass gives a salary raise
HR_KEYS = 5
#: activity ids the maintenance merge rewrites
MAINT_MERGE_KEYS = 50
PRIME_COLS = ["id_employee", "gross_salary", "business_unity",
              "constract_type", "is_valid", "count_activity",
              "mean_duration", "commute_prime", "is_valid_activities",
              "total_salary"]


def _prime_map(df):
    d = (df.withColumn("count_activity", F.col("cnt"))
         .withColumn("mean_duration", F.round(F.col("sm") / F.col("cnt"), 4)))
    return R.prime_query(d)


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def _txn_versions(root: str) -> dict[str, int]:
    out = {}
    for d, dirs, _ in os.walk(root):
        if "_txnlog" in dirs:
            out[d] = TxnTable(d).latest_version() or 0
    return out


def _is_log(path: str) -> bool:
    return "/_txnlog/" in path or "/_delta_log/" in path


def _last_data_batch(q) -> int:
    """Id of the query's latest trigger that read rows. An idle trigger
    reports the id of the batch still to come, so lastProgress cannot
    mark where a window starts."""
    return max((p.batchId for p in q.recentProgress if p.numInputRows > 0),
               default=-1)


def _write_counts(before_files: dict[str, int], before_v: dict[str, int],
                  root: str) -> dict:
    """Commits, files and bytes written under ``root`` since the
    ``_tree_files``/``_txn_versions`` snapshot given."""
    after_files, after_v = _tree_files(root), _txn_versions(root)
    new = {p: s for p, s in after_files.items() if p not in before_files}
    return {
        "commits": sum(v - before_v.get(t, 0) for t, v in after_v.items()),
        "files_written": len(new),
        "data_bytes_written": sum(s for p, s in new.items() if not _is_log(p)),
        "log_bytes_written": sum(s for p, s in new.items() if _is_log(p)),
    }


class CdcLakehouse:
    name = "cdc_lakehouse"

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.root = os.path.join(run.work, "tables")
        self.src = os.path.join(run.work, "cdc_src")
        self.stage = os.path.join(run.work, "cdc_stage")
        self.rng = random.Random(run.seed)

    # -- setup ---------------------------------------------------------

    def setup(self) -> None:
        """Stage the inputs: the employee and validation tables, and the
        CDC records split into seeded batches of Kafka-record parquet."""
        spark, sf, seed = self.spark, self.run.sf_dir, self.run.seed
        self.emp = TxnTable(f"{self.root}/emp")
        self.val = TxnTable(f"{self.root}/val")
        self.act = TxnTable(f"{self.root}/act")
        emp0 = (R.employee_projection(D.employees(spark, sf))
                .withColumn("id_employee", F.col("id_employee").cast("int")))
        val0 = (D.commute_validations(spark, sf)
                .select("id_validate",
                        F.col("id_employee").cast("int").alias("id_employee"),
                        "calculed_distance", "calculed_duration",
                        "is_valid", "error_message", "created_at"))
        self.emp.overwrite(emp0)
        self.val.overwrite(val0)

        raw = D.cdc_events(spark, sf).withColumn(
            "b", F.pmod(F.xxhash64(F.col("offset"), F.lit(seed)),
                        F.lit(N_BATCHES)).cast("int"))
        # one writer task, so one file per batch
        raw.coalesce(1).write.partitionBy("b").parquet(self.stage)
        self.order = sorted(int(d[2:]) for d in os.listdir(self.stage)
                            if d.startswith("b="))
        self.rng.shuffle(self.order)
        os.makedirs(self.src, exist_ok=True)

    def _land(self, b: int) -> tuple[int, int]:
        """Move one staged batch into the source directory; returns its
        rows and bytes."""
        import pyarrow.parquet as pq

        d = os.path.join(self.stage, f"b={b}")
        rows = size = 0
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                rows += pq.read_metadata(p).num_rows
                size += os.path.getsize(p)
                os.rename(p, os.path.join(self.src, f"b{b}-{f}"))
        return rows, size

    def build(self) -> None:
        """Start both queries: the first batch creates the activities
        table, then the chain's first trigger builds all four layers."""
        root, tr = self.root, self.run.tracer
        self._land(self.order.pop(0))
        self.jmv1 = JoinMaterializedView(f"{root}/jmv1", "id_employee",
                                         n_buckets=N_BUCKETS, capture_changes=True)
        self.aggv = AggMaterializedView(f"{root}/agg", "id_employee",
                                        "activity_duration", n_buckets=N_BUCKETS,
                                        capture_changes=True)
        self.jmv2 = JoinMaterializedView(f"{root}/final", "id_employee",
                                         n_buckets=N_BUCKETS, how="left",
                                         capture_changes=True)
        self.prime = MapMaterializedView(f"{root}/prime", "id_employee",
                                         _prime_map, n_buckets=N_BUCKETS)
        self.layers = [self.jmv1, self.aggv, self.jmv2, self.prime]
        if tr.enabled:
            self.layers = [
                TimedProxy(self.jmv1, tr, {"apply_change_batch": "mv.join_apply"}),
                TimedProxy(self.aggv, tr, {"apply_change_batch": "mv.agg_apply"}),
                TimedProxy(self.jmv2, tr, {"refresh": "mv.final_refresh"}),
                TimedProxy(self.prime, tr, {"refresh": "mv.prime_refresh"}),
            ]
        self._start_queries()
        # CDC rows only touch activities, so every later serve must
        # return this many rows
        self.n_prime = self._serve()

    def _start_queries(self) -> None:
        """Start both queries and drain them: the first batch creates the
        activities table and the chain's first trigger builds all four
        layers."""
        spark, work = self.spark, self.run.work
        feed = P.stream_cdc_from_files(spark, self.src).select(
            "id", "id_employee", "sport_type", "activity_duration")
        self.q_ingest = P.write_stream_txn_append(
            feed, self.act.path, f"{work}/ckpt_ingest",
            app_id="perfbench-ingest", available_now=False, export_delta=True)
        self.q_ingest.processAllAvailable()
        self.q_chain = write_stream_final_pipeline(
            spark, self.emp.path, self.val.path, self.act.path, *self.layers,
            f"{work}/ckpt_chain", app_id="perfbench-chain",
            available_now=False)
        self.q_chain.processAllAvailable()
        for q in (self.q_ingest, self.q_chain):
            self.run.watch(str(q.runId))

    # -- measured loop ---------------------------------------------------

    def _serve(self) -> int:
        """prime_serve: TxnTable.read of the maintained prime -> collect."""
        tr = self.run.tracer
        with tr.span("txnlog.read"):
            df = self.prime.view.read(self.spark)
        return len(df.select(*PRIME_COLS).collect())

    def _step(self, step: int) -> tuple[float, float]:
        """Land the next batch, wait for both queries, serve prime.
        Returns (freshness, serve) time."""
        b = self.order.pop(0)
        self.run.group(f"perfbench-step-{step}")
        with self.run.tracer.span("step"):
            t0 = time.perf_counter()
            rows, size = self._land(b)
            self.q_ingest.processAllAvailable()
            self.q_chain.processAllAvailable()
            t1 = time.perf_counter()
            n = self._serve()
            t2 = time.perf_counter()
        self.rows_in += rows
        self.bytes_in += size
        self.run.checks.record(n == self.n_prime,
                               f"step {step}: served {n} prime rows, "
                               f"expected {self.n_prime}")
        return t1 - t0, t2 - t1

    def loop(self, deadline: float) -> None:
        run = self.run
        self.freshness, self.serve_s = [], []
        self.rows_in = self.bytes_in = 0
        traced = run.tracer.enabled
        if traced:
            before_files, before_v = (_tree_files(self.root),
                                      _txn_versions(self.root))
        self.batch_ids = {q: _last_data_batch(q)
                          for q in (self.q_ingest, self.q_chain)}
        t_start = time.perf_counter()
        step = 0
        while self.order and (time.perf_counter() < deadline
                              or step < MIN_STEPS):
            step += 1
            with run.checks.guard(f"step {step}"):
                fresh, serve = self._step(step)
                self.freshness.append(fresh)
                self.serve_s.append(serve)
            run.count_spark()
        self.loop_s = time.perf_counter() - t_start
        self.window = (t_start, t_start + self.loop_s)
        self.batch_ids_end = {q: _last_data_batch(q)
                              for q in (self.q_ingest, self.q_chain)}
        if traced:
            self.write = _write_counts(before_files, before_v, self.root)

    def speedup_pass(self) -> float:
        """The batch prime recompute on the current session, run twice;
        returns the second (warm) time."""
        self.spark = self.run.spark
        t = 0.0
        for i in range(2):
            with self.run.checks.guard(f"scaling recompute {i}"):
                t0 = time.perf_counter()
                self._batch_prime()
                t = time.perf_counter() - t0
        return t

    def maintenance(self) -> float:
        """An HR MERGE of salary raises into the employees table, then on
        the activities table a DV delete of one employee's rows, a merge
        of seeded rows and a compaction."""
        spark, tr, act = self.spark, self.run.tracer, self.act
        hr_rows = [tuple(r) for r in self.emp.read(spark)
                   .orderBy("id_employee").collect()]
        raises = spark.createDataFrame(
            [(r[0], r[1] + 100, r[2], r[3])
             for r in self.rng.sample(hr_rows, HR_KEYS)],
            self.emp.read(spark).schema)
        ids = [r[0] for r in act.read(spark).select("id_employee")
               .distinct().orderBy("id_employee").collect()]
        victim = self.rng.choice(ids)
        picked = [tuple(r) for r in act.read(spark)
                  .filter(f"id_employee <> {victim}")
                  .orderBy("id").limit(4 * MAINT_MERGE_KEYS).collect()]
        upd_rows = [(r[0], r[1], r[2], (r[3] or 0) + 60)
                    for r in self.rng.sample(picked, min(MAINT_MERGE_KEYS,
                                                         len(picked)))]
        upd = spark.createDataFrame(upd_rows, act.read(spark).schema)
        self.run.group("perfbench-maintenance")
        t0 = time.perf_counter()
        with tr.span("maintenance"):
            with tr.span("txnlog.hr_merge"):
                self.emp.merge(spark, raises, "id_employee")
            with tr.span("txnlog.delete_dv"):
                act.delete_where(spark, f"id_employee = {victim}", use_dv=True)
            with tr.span("txnlog.merge"):
                act.merge(spark, upd, "id")
            with tr.span("txnlog.compact"):
                act.compact(spark)
        return time.perf_counter() - t0

    # -- checks ----------------------------------------------------------

    def _batch_prime(self):
        """prime_query(final_table(...)) recomputed in batch over the
        current inputs, collected."""
        spark = self.spark
        expected = R.prime_query(R.final_table(
            self.emp.read(spark), self.val.read(spark),
            self.act.read(spark).select("id_employee", "activity_duration")))
        return expected.select(*PRIME_COLS).toPandas()

    def verify(self) -> None:
        """The maintained prime equals the batch recompute."""
        want = canonical_rows(self._batch_prime())
        got = canonical_rows(self.prime.read(self.spark).select(*PRIME_COLS)
                             .toPandas())
        self.run.checks.record(
            rows_close(got, want),
            f"final prime: {len(got)} rows differ from the batch recompute "
            f"({len(want)} rows)")

    def stop(self) -> None:
        for q in (getattr(self, "q_ingest", None),
                  getattr(self, "q_chain", None)):
            if q is not None and q.isActive:
                q.stop()

    # -- reporting -------------------------------------------------------

    def stream_layers(self) -> dict:
        out = {}
        lo, hi = self.window
        for tag, q in (("ingest", self.q_ingest), ("chain", self.q_chain)):
            first, last = self.batch_ids[q], self.batch_ids_end[q]
            prog = [p for p in q.recentProgress
                    if first < p.batchId <= last and p.numInputRows > 0]
            dur = lambda k: sum(p.durationMs.get(k, 0)  # noqa: E731
                                for p in prog) / 1000
            out[f"streaming.{tag}.triggers"] = len(prog)
            out[f"streaming.{tag}.add_batch_s"] = dur("addBatch")
            out[f"streaming.{tag}.query_planning_s"] = dur("queryPlanning")
            out[f"streaming.{tag}.offset_log_s"] = (
                dur("latestOffset") + dur("walCommit") + dur("commitOffsets"))
        tr = self.run.tracer
        for m in ("join_apply", "agg_apply", "final_refresh", "prime_refresh"):
            out[f"mv.{m}_s"] = tr.total(f"mv.{m}", lo, hi)
        out["txnlog.read_s"] = tr.total("txnlog.read", lo, hi)
        return out

    def run_workload(self, deadline_s: float):
        """Set-up is timed by the caller; this returns the end-to-end and
        per-layer figures of the measured part."""
        run, tr = self.run, self.run.tracer
        t0 = time.perf_counter()
        with tr.span("build"):
            self.build()
        build_s = time.perf_counter() - t0
        run.count_spark()
        self.loop(time.perf_counter() + deadline_s)
        with run.checks.guard("verify final prime"):
            self.verify()
        pass_s = median([f + v for f, v in zip(self.freshness, self.serve_s)])
        e2e = {"build_s": build_s, "run_s": build_s + pass_s}
        layers = {
            "loop.pass_s": pass_s,
            "cdc.steps": len(self.freshness),
            "cdc.freshness_p50_s": median(self.freshness),
            "cdc.prime_serve_p50_s": median(self.serve_s),
            "cdc.rows_per_s": self.rows_in / self.loop_s,
        }
        if tr.enabled:
            layers.update({f"txnlog.{k}": v for k, v in self.write.items()})
            layers["txnlog.write_amp"] = (
                (self.write["data_bytes_written"]
                 + self.write["log_bytes_written"]) / max(1, self.bytes_in))
            layers.update(self.stream_layers())
            # the maintenance pass runs in traced runs only, with both
            # queries stopped: neither it nor a chain drain after it fits
            # the run budget (README.md)
            self.stop()
            with run.checks.guard("maintenance"):
                layers["cdc.maintenance_s"] = self.maintenance()
            run.count_spark()
            layers["txnlog.merge_s"] = (tr.total("txnlog.merge")
                                        + tr.total("txnlog.hr_merge"))
            layers["txnlog.delete_dv_s"] = tr.total("txnlog.delete_dv")
            layers["txnlog.compact_s"] = tr.total("txnlog.compact")
        p = tail_percentile(len(self.freshness)) or 50
        layers["cdc.freshness_tail_s"] = percentile(self.freshness, p)
        layers["cdc.freshness_tail_pct"] = p
        detail = {"freshness_s": self.freshness, "serve_s": self.serve_s,
                  "rows_in": self.rows_in, "loop_s": self.loop_s}
        return e2e, layers, detail
