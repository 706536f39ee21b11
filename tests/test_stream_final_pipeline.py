"""The composed reference DAG as ONE continuous streaming job
(streaming/finalpipeline.py, VERDICT r8 #4): a single writeStream whose
one checkpoint coordinates all three source change feeds, driving
jmv1 → bucketed agg → final → prime inside each trigger. These tests
drive the full five-commit CDC history through that one query with
REAL restarts mid-history (and one injected crash between layers) and
require the maintained prime output to equal the wholesale rebuild."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.operators import (
    relational as R,
)
from sport_advantages_moderne_data_infrastructure_spark.operators.cdc import (
    parse_cdc,
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
from sport_advantages_moderne_data_infrastructure_spark.streaming.finalpipeline import (  # noqa: E501
    write_stream_final_pipeline,
)
from tests.test_pipeline_mv import _expected_prime, _got_prime

SF = "/root/testdata/sf0.001"


def _sources(spark):
    emp0 = (R.employee_projection(D.employees(spark, SF))
            .withColumn("id_employee", F.col("id_employee").cast("int")))
    raises = (emp0.filter(F.col("id_employee") % 10 == 0)
              .select("id_employee",
                      (F.col("gross_salary") + 1000).cast("int")
                      .alias("gross_salary"),
                      "business_unity",
                      F.lit("CDI").alias("constract_type")))
    val0 = (D.commute_validations(spark, SF)
            .select("id_validate",
                    F.col("id_employee").cast("int")
                    .alias("id_employee"),
                    "calculed_distance", "calculed_duration",
                    "is_valid", "error_message", "created_at"))
    revoked = (val0.filter(F.col("id_validate") % 7 == 0)
               .select("id_validate", "id_employee",
                       "calculed_distance", "calculed_duration",
                       F.lit(False).alias("is_valid"),
                       F.lit("revoked by audit").alias("error_message"),
                       "created_at"))
    parsed = parse_cdc(D.cdc_events(spark, SF)).select(
        "id", "id_employee", "sport_type", "activity_duration")
    return emp0, raises, val0, revoked, parsed


def _chain(root):
    emp, val, act = (TxnTable(f"{root}/emp"), TxnTable(f"{root}/val"),
                     TxnTable(f"{root}/act"))
    jmv1 = JoinMaterializedView(f"{root}/jmv1", "id_employee",
                                n_buckets=8, capture_changes=True)
    aggv = AggMaterializedView(f"{root}/agg", "id_employee",
                               "activity_duration", n_buckets=8,
                               capture_changes=True)
    jmv2 = JoinMaterializedView(f"{root}/final", "id_employee",
                                n_buckets=8, how="left",
                                capture_changes=True)

    def prime_map(df):
        d = (df.withColumn("count_activity", F.col("cnt"))
             .withColumn("mean_duration",
                         F.round(F.col("sm") / F.col("cnt"), 4)))
        return R.prime_query(d)

    prime = MapMaterializedView(f"{root}/prime", "id_employee",
                                prime_map, n_buckets=8)
    return emp, val, act, jmv1, aggv, jmv2, prime


def test_single_stream_full_history_with_restarts(spark, tmp_path):
    """Five source commits delivered across THREE runs of the same
    continuous query (one checkpoint — each stop/start is a real
    restart mid-history); the maintained prime output must equal the
    wholesale rebuild after every run, and an idle fourth run must
    commit nothing (exactly-once)."""
    root = str(tmp_path / "pipe")
    emp0, raises, val0, revoked, parsed = _sources(spark)
    emp, val, act, jmv1, aggv, jmv2, prime = _chain(root)
    ckpt = f"{root}/ckpt"

    def run():
        q = write_stream_final_pipeline(
            spark, emp.path, val.path, act.path,
            jmv1, aggv, jmv2, prime, ckpt, app_id="fp1")
        q.awaitTermination(180)
        q.stop()

    # run 1: initial loads
    emp.overwrite(emp0)
    val.overwrite(val0)
    act.overwrite(parsed.filter("id % 3 <> 2"))
    run()
    assert _got_prime(spark, prime) == _expected_prime(spark, emp,
                                                       val, act)

    # run 2 (restart #1): employee-raise MERGE + activity append
    emp.merge(spark, raises, "id_employee")
    act.append(parsed.filter("id % 3 = 2"))
    run()
    assert _got_prime(spark, prime) == _expected_prime(spark, emp,
                                                       val, act)

    # run 3 (restart #2): validation-revoke MERGE + activity DV-DELETE
    val.merge(spark, revoked, "id_validate")
    act.delete_where(spark, "id % 5 = 0", use_dv=True)
    run()
    assert _got_prime(spark, prime) == _expected_prime(spark, emp,
                                                       val, act)

    # idle restart: nothing new — no layer may commit
    versions = [t.latest_version() for t in
                (jmv1.view, aggv.view, jmv2.view, prime.view)]
    run()
    assert [t.latest_version() for t in
            (jmv1.view, aggv.view, jmv2.view, prime.view)] == versions


def _pinned_versions(ckpt: str, batch_id: int) -> dict:
    """The per-table log versions the change-feed starter pinned in the
    checkpoint as the end of ``batch_id``."""
    with open(os.path.join(ckpt, "versions", str(batch_id))) as fh:
        return json.load(fh)


def test_single_stream_crash_between_layers_recovers(spark, tmp_path,
                                                     monkeypatch):
    """Crash INSIDE a trigger, after the jmv1/agg legs committed but
    before the final/prime refreshes ran, and an activity commit lands
    before the restart: the checkpoint has not advanced, so the restart
    replays the same batch — re-reading exactly its pinned version
    ranges, layers 1-2 skipping via the (app_id, batch_id) ledger,
    layers 3-4 catching up via their high-water refresh — and the late
    commit arrives in the next batch. The chain converges with no
    double application, and a second restart commits nothing."""
    root = str(tmp_path / "pipe")
    emp0, raises, val0, revoked, parsed = _sources(spark)
    emp, val, act, jmv1, aggv, jmv2, prime = _chain(root)
    ckpt = f"{root}/ckpt"

    def start(available_now=True):
        return write_stream_final_pipeline(
            spark, emp.path, val.path, act.path,
            jmv1, aggv, jmv2, prime, ckpt, app_id="fp2",
            available_now=available_now)

    emp.overwrite(emp0)
    val.overwrite(val0)
    act.overwrite(parsed.filter("id % 3 <> 2"))
    q = start()
    q.awaitTermination(180)
    q.stop()

    # arm the crash: jmv2.refresh raises on its next call (foreachBatch
    # runs driver-side, so an instance patch reaches the stream)
    emp.merge(spark, raises, "id_employee")
    val.merge(spark, revoked, "id_validate")
    real_refresh = jmv2.refresh
    boom = RuntimeError("injected crash between layers 2 and 3")

    def _crash(*a, **kw):
        raise boom

    jmv2.refresh = _crash
    q = start()
    try:
        q.awaitTermination(180)
    except Exception:
        pass  # the query fails with the injected error
    finally:
        q.stop()
    jmv1_v = jmv1.view.latest_version()
    assert jmv1_v is not None  # layer 1 DID commit before the crash
    before, crashed = _pinned_versions(ckpt, 0), _pinned_versions(ckpt, 1)
    # the late input: an activity commit between crash and restart
    act.append(parsed.filter("id % 3 = 2"))

    # restart: same batch replays; guarded legs skip, 3-4 catch up
    jmv2.refresh = real_refresh
    sources = (emp.path, val.path, act.path)
    reads = []
    real_read = TxnTable.read_changes

    def _read(self, spark, since_version, upto=None):
        if self.path in sources:
            reads.append((self.path, since_version, upto))
        return real_read(self, spark, since_version, upto)

    monkeypatch.setattr(TxnTable, "read_changes", _read)
    q = start(available_now=False)
    q.processAllAvailable()
    q.stop()
    replayed = [(p, before[p], crashed[p]) for p in sources
                if crashed[p] > before[p]]
    assert [p for p, _, _ in replayed] == [emp.path, val.path]
    assert reads == replayed + [(act.path, crashed[act.path],
                                 act.latest_version())]
    assert len([p for p in q.recentProgress if p.numInputRows]) == 2
    assert jmv1.view.latest_version() == jmv1_v  # no double apply
    # records older than the previous batch are purged
    assert sorted(os.listdir(os.path.join(ckpt, "versions"))) == ["1", "2"]
    assert _got_prime(spark, prime) == _expected_prime(spark, emp,
                                                       val, act)

    # second restart: nothing new — no layer may commit
    versions = [t.latest_version() for t in
                (jmv1.view, aggv.view, jmv2.view, prime.view)]
    q = start()
    q.awaitTermination(180)
    q.stop()
    assert [t.latest_version() for t in
            (jmv1.view, aggv.view, jmv2.view, prime.view)] == versions


def test_empty_activity_feed_still_materializes_final(spark, tmp_path):
    """r10 (ADVICE r9 low): a deployment whose activity feed is empty
    must still materialize final/prime — the reference's `final` is a
    LEFT join (employee rows with NULL aggregates, read_delta.py:
    280-294) — and late-arriving activities must then fold in
    incrementally on the same checkpoint."""
    root = str(tmp_path / "pipe_noact")
    emp0, raises, val0, revoked, parsed = _sources(spark)
    emp, val, act, jmv1, aggv, jmv2, prime = _chain(root)
    ckpt = f"{root}/ckpt"

    def run():
        q = write_stream_final_pipeline(
            spark, emp.path, val.path, act.path,
            jmv1, aggv, jmv2, prime, ckpt, app_id="fpe")
        q.awaitTermination(180)
        q.stop()

    emp.overwrite(emp0)
    val.overwrite(val0)
    act.overwrite(parsed.limit(0).repartition(1))  # schema, zero rows
    run()
    got = _got_prime(spark, prime)
    assert got == _expected_prime(spark, emp, val, act)
    assert len(got) > 0  # employee rows ARE there, aggregates NULL
    assert all(t[5] is None for t in got)  # count_activity all NULL

    # the activities arrive much later: same checkpoint, incremental
    act.append(parsed)
    run()
    assert _got_prime(spark, prime) == _expected_prime(spark, emp,
                                                       val, act)
