"""Streaming approximate-distinct (r10): the driver gate
(stream_approx_distinct_equiv) hash-matches the served contract
against DuckDB's exact COUNT(DISTINCT); these pin the maintenance
machinery — real writeStream restart exactly-once, crash-between-legs
recovery + replay no-op, the pinned-pair serve consistency, and the
flat (ungrouped) surface."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
    load_table,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming import (
    distinct as X,
)


def _events(spark, sf_dir):
    return (load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "user_id"))


def _contract_ok(rows, pct="within_3pct"):
    assert len(rows) > 0
    assert all(r[pct] for r in rows), rows


def test_flat_served_matches_exact(spark, sf_dir):
    e = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="hll_flat_")
    events, sketch = X._tables(root)
    for i in range(3):
        X.ingest_batch(events, sketch,
                       e.filter(F.col("event_id") % 3 == i),
                       i, "user_id", app_id="flat")
    got = X.distinct_contract_served(spark, root, "user_id").collect()
    _contract_ok(got)
    exact = e.filter(F.col("user_id").isNotNull()) \
             .select("user_id").distinct().count()
    assert got[0]["n_exact"] == exact
    # the O(1) serve agrees within tolerance too
    [apx] = X.approx_distinct_served(spark, root).collect()
    assert abs(apx["n_approx"] - exact) <= 0.03 * exact


def test_stream_restart_exactly_once(spark, sf_dir, tmp_path_factory):
    """Real writeStream twin: restart on the same checkpoint must not
    double-ingest (versions and served estimates unchanged)."""
    base = tmp_path_factory.mktemp("hllstream")
    src = str(base / "src")
    e = _events(spark, sf_dir)
    e.write.parquet(src)

    def _stream():
        return (spark.readStream.schema(e.schema)
                .option("maxFilesPerTrigger", "1").parquet(src))

    root, ckpt = str(base / "hll"), str(base / "ckpt")
    q = X.write_stream_approx_distinct(_stream(), root, ckpt,
                                       "user_id", app_id="hs",
                                       group_col="event_type")
    q.awaitTermination(120)
    q.stop()
    events, sketch = X._tables(root)
    v1 = (events.latest_version(), sketch.latest_version())
    served1 = sorted(
        tuple(r) for r in X.distinct_contract_served(
            spark, root, "user_id", group_col="event_type").collect())
    _contract_ok([dict(zip(["event_type", "n_exact", "within_3pct"],
                           t)) for t in served1])

    q2 = X.write_stream_approx_distinct(_stream(), root, ckpt,
                                        "user_id", app_id="hs",
                                        group_col="event_type")
    q2.awaitTermination(60)
    q2.stop()
    assert (events.latest_version(), sketch.latest_version()) == v1
    assert sorted(tuple(r) for r in X.distinct_contract_served(
        spark, root, "user_id",
        group_col="event_type").collect()) == served1


def test_crash_between_legs_recovers(spark, sf_dir, crash_at_commit):
    """Crash AFTER the events append but BEFORE the sketch union
    commits: the next batch's change-feed fold covers the gap, and a
    replayed batch id is a no-op on both legs."""
    e = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="hll_crash_")
    events, sketch = X._tables(root)
    X.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 3 == 0),
                   0, "user_id", app_id="cr", group_col="event_type")

    with crash_at_commit(sketch.path, 1) as crash:
        try:
            X.ingest_batch(events, sketch,
                           e.filter(F.col("event_id") % 3 == 1),
                           1, "user_id", app_id="cr",
                           group_col="event_type")
            raise AssertionError("injected crash did not fire")
        except RuntimeError as ex:
            assert ex is crash.error
    assert events.latest_version() > sketch.latest_version()  # torn

    # redelivery of batch 1: events leg skips (guard), sketch leg
    # folds the uncovered feed; then batch 2 proceeds; a pure replay
    # of batch 2 is a no-op on both legs
    X.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 3 == 1),
                   1, "user_id", app_id="cr", group_col="event_type")
    X.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 3 == 2),
                   2, "user_id", app_id="cr", group_col="event_type")
    vs = (events.latest_version(), sketch.latest_version())
    X.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 3 == 2),
                   2, "user_id", app_id="cr", group_col="event_type")
    assert (events.latest_version(), sketch.latest_version()) == vs
    _contract_ok(X.distinct_contract_served(
        spark, root, "user_id", group_col="event_type").collect())


def test_serve_pinned_to_sketch_version(spark, sf_dir):
    """The pinned-pair discipline: an events-leg-only append landing
    between the serve's two reads must leave the served contract
    EXACTLY the consistent pre-append one."""
    e = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="hll_pin_")
    events, sketch = X._tables(root)
    X.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 2 == 0),
                   0, "user_id", app_id="pin", group_col="event_type")
    served1 = sorted(tuple(r) for r in X.distinct_contract_served(
        spark, root, "user_id", group_col="event_type").collect())

    rel = events._write_data(  # noqa: SLF001
        e.filter(F.col("event_id") % 2 == 1)
        .select("event_type", "user_id"))
    events.commit([rel], [], {"operation": "test_torn_append"},
                  expected_version=events.latest_version())

    assert sorted(tuple(r) for r in X.distinct_contract_served(
        spark, root, "user_id",
        group_col="event_type").collect()) == served1


def test_compact_policy_and_pinned_vacuum(spark, sf_dir):
    """Maintenance policy for the HLL events table: below the dir
    threshold -> no-op; above -> fold (served contract unchanged,
    ingest continues across it), and a full vacuum with the sketch's
    recorded version as the retention floor keeps the pinned serve
    readable."""
    e = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="hll_pol_")
    events, sketch = X._tables(root)
    for i in range(4):
        X.ingest_batch(events, sketch,
                       e.filter(F.col("event_id") % 5 == i),
                       i, "user_id", app_id="pol",
                       group_col="event_type")
    before = sorted(tuple(r) for r in X.distinct_contract_served(
        spark, root, "user_id", group_col="event_type").collect())
    assert X.compact_if_needed(spark, root,
                               max_live_dirs=10_000) is None
    v = X.compact_if_needed(spark, root, max_live_dirs=2)
    assert v is not None
    pin = int(sketch.meta_with("hll_source_version")[0]
              ["hll_source_version"])
    events.vacuum(keep_versions=False, older_than_seconds=0,
                  retain_from_version=pin)
    assert sorted(tuple(r) for r in X.distinct_contract_served(
        spark, root, "user_id",
        group_col="event_type").collect()) == before

    # ingest continues across the fold
    X.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 5 == 4),
                   4, "user_id", app_id="pol", group_col="event_type")
    got = X.distinct_contract_served(
        spark, root, "user_id", group_col="event_type").collect()
    _contract_ok(got)
    exact = (e.filter(F.col("user_id").isNotNull())
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect())
    want = {r["event_type"]: r["n"] for r in exact}
    assert {r["event_type"]: r["n_exact"] for r in got} == want
