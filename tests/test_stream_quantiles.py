"""Streaming exact quantiles (r9): the driver gate
(stream_quantiles_equiv) hash-matches served quantiles against the
DuckDB order statistics; these pin the maintenance machinery —
equality with the batch operator, batching invariance, real
writeStream restart, crash-between-legs recovery, pruned-read shape."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (  # noqa: E501
    exact_quantiles,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
    load_table,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming import (
    quantiles as Q,
)

QS = [0.25, 0.5, 0.75, 0.95]
LO, HI = 0.0, 500.0


def _events(spark, sf_dir):
    return (load_table(spark, sf_dir, "events")
            .select("event_id", "value"))


def test_served_equals_batch_operator(spark, sf_dir):
    """Three-batch ingest, then served quantiles must equal the batch
    exact_quantiles over the same rows — the maintained state is a
    lossless index, not an approximation."""
    e = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="sq_eq_")
    vals, hist = Q._tables(root)
    for i in range(3):
        Q.ingest_batch(vals, hist,
                       e.filter(F.col("event_id") % 3 == i),
                       i, "value", LO, HI, app_id="eq")
    want = exact_quantiles(e, "value", QS)
    assert Q.quantiles_served(spark, root, QS) == want


def test_batching_invariance(spark, sf_dir):
    """1-batch vs 4-batch delivery must serve identical quantiles."""
    e = _events(spark, sf_dir)
    roots = []
    for parts in (1, 4):
        root = tempfile.mkdtemp(prefix=f"sq_b{parts}_")
        vals, hist = Q._tables(root)
        for i in range(parts):
            Q.ingest_batch(vals, hist,
                           e.filter(F.col("event_id") % parts == i),
                           i, "value", LO, HI, app_id=f"b{parts}")
        roots.append(root)
    a = Q.quantiles_served(spark, roots[0], QS)
    b = Q.quantiles_served(spark, roots[1], QS)
    assert a == b


def test_stream_restart_exactly_once(spark, sf_dir, tmp_path_factory):
    """Real writeStream twin: restart on the same checkpoint must not
    double-ingest (versions and served answers unchanged)."""
    base = tmp_path_factory.mktemp("sqstream")
    src = str(base / "src")
    e = _events(spark, sf_dir)
    e.write.parquet(src)

    def _stream():
        return (spark.readStream.schema(e.schema)
                .option("maxFilesPerTrigger", "1").parquet(src))

    root, ckpt = str(base / "q"), str(base / "ckpt")
    q = Q.write_stream_quantiles(_stream(), root, ckpt, "value",
                                 LO, HI, app_id="sq")
    q.awaitTermination(120)
    q.stop()
    vals, hist = Q._tables(root)
    v1 = (vals.latest_version(), hist.latest_version())
    served1 = Q.quantiles_served(spark, root, QS)
    assert served1 == exact_quantiles(e, "value", QS)

    q2 = Q.write_stream_quantiles(_stream(), root, ckpt, "value",
                                  LO, HI, app_id="sq")
    q2.awaitTermination(60)
    q2.stop()
    assert (vals.latest_version(), hist.latest_version()) == v1
    assert Q.quantiles_served(spark, root, QS) == served1


def test_crash_between_legs_recovers(spark, sf_dir, crash_at_commit):
    """Crash AFTER the vals append but BEFORE the hist fold commits:
    the next batch's change-feed fold covers the gap, and a replayed
    batch id is a no-op."""
    e = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="sq_crash_")
    vals, hist = Q._tables(root)
    Q.ingest_batch(vals, hist, e.filter(F.col("event_id") % 3 == 0),
                   0, "value", LO, HI, app_id="cr")

    with crash_at_commit(hist.path, 1) as crash:
        try:
            Q.ingest_batch(vals, hist,
                           e.filter(F.col("event_id") % 3 == 1),
                           1, "value", LO, HI, app_id="cr")
            raise AssertionError("injected crash did not fire")
        except RuntimeError as ex:
            assert ex is crash.error
    assert vals.latest_version() > hist.latest_version()  # torn

    # redelivery of batch 1: vals leg skips (guard), hist leg folds
    # the uncovered feed; then batch 2 proceeds normally
    Q.ingest_batch(vals, hist, e.filter(F.col("event_id") % 3 == 1),
                   1, "value", LO, HI, app_id="cr")
    Q.ingest_batch(vals, hist, e.filter(F.col("event_id") % 3 == 2),
                   2, "value", LO, HI, app_id="cr")
    assert Q.quantiles_served(spark, root, QS) == exact_quantiles(
        e, "value", QS)


def test_serving_reads_only_target_buckets(spark, sf_dir):
    """The serve path must plan a partition-pruned read: values far
    from every requested rank's bucket are never scanned. Pinned by
    bucket arithmetic — a single extreme quantile touches exactly one
    bucket's rows."""
    e = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="sq_prune_")
    vals, hist = Q._tables(root)
    Q.ingest_batch(vals, hist, e, 0, "value", LO, HI, app_id="pr")
    counts = {int(r["__vb"]): int(r["cnt"])
              for r in Q._tables(root)[1].read(spark).collect()}
    # the p50 bucket's rows are a strict subset of the corpus
    [(q, v)] = Q.quantiles_served(spark, root, [0.5])
    vb = sorted(counts)
    n = sum(counts.values())
    # find the bucket the median landed in and check it is partial
    run = 0
    for b in vb:
        if run + counts[b] >= max(1, -(-n // 2)):
            assert counts[b] < n
            break
        run += counts[b]


def test_grouped_served_equals_batch_operator(spark, sf_dir):
    """Grouped root: served per-(group, q) values must equal the batch
    grouped_exact_quantiles over the same rows, under a 3-batch
    delivery."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (  # noqa: E501
        grouped_exact_quantiles,
    )

    e = (load_table(spark, sf_dir, "events")
         .select("event_id", "event_type", "value"))
    root = tempfile.mkdtemp(prefix="sq_geq_")
    vals, hist = Q._tables(root)
    for i in range(3):
        Q.ingest_batch(vals, hist,
                       e.filter(F.col("event_id") % 3 == i),
                       i, "value", LO, HI, app_id="geq",
                       group_col="event_type")
    want = {(g, q): v for g, q, v in grouped_exact_quantiles(
        e, "event_type", "value", QS)}
    got = {(g, q): v for g, q, v in Q.grouped_quantiles_served(
        spark, root, "event_type", QS)}
    assert got == want


def test_grouped_stream_restart_exactly_once(spark, sf_dir,
                                             tmp_path_factory):
    """Real writeStream twin with group_col: restart on the same
    checkpoint must not double-ingest."""
    base = tmp_path_factory.mktemp("sqgstream")
    src = str(base / "src")
    e = (load_table(spark, sf_dir, "events")
         .select("event_id", "event_type", "value"))
    e.write.parquet(src)

    def _stream():
        return (spark.readStream.schema(e.schema)
                .option("maxFilesPerTrigger", "1").parquet(src))

    root, ckpt = str(base / "q"), str(base / "ckpt")
    q = Q.write_stream_quantiles(_stream(), root, ckpt, "value",
                                 LO, HI, app_id="sqg",
                                 group_col="event_type")
    q.awaitTermination(120)
    q.stop()
    vals, hist = Q._tables(root)
    v1 = (vals.latest_version(), hist.latest_version())
    served1 = sorted(Q.grouped_quantiles_served(spark, root,
                                                "event_type", QS))
    q2 = Q.write_stream_quantiles(_stream(), root, ckpt, "value",
                                  LO, HI, app_id="sqg",
                                  group_col="event_type")
    q2.awaitTermination(60)
    q2.stop()
    assert (vals.latest_version(), hist.latest_version()) == v1
    assert sorted(Q.grouped_quantiles_served(
        spark, root, "event_type", QS)) == served1


def test_compact_if_needed_policy(spark, sf_dir):
    """Maintenance policy for the vals table: below the dir threshold
    -> no-op; above -> partition-aware fold (served answers unchanged,
    pruned reads still work, ingest continues across the fold)."""
    e = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="sq_pol_")
    vals, hist = Q._tables(root)
    for i in range(4):
        Q.ingest_batch(vals, hist,
                       e.filter(F.col("event_id") % 5 == i),
                       i, "value", LO, HI, app_id="pol")
    before = Q.quantiles_served(spark, root, QS)
    dirs_before = len(vals.snapshot_dirs())
    assert dirs_before > 4

    assert Q.compact_if_needed(spark, root,
                               max_live_dirs=10_000) is None
    v = Q.compact_if_needed(spark, root, max_live_dirs=2)
    assert v is not None
    assert len(vals.snapshot_dirs()) < dirs_before
    assert Q.quantiles_served(spark, root, QS) == before

    # ingest continues across the fold; final answer equals the batch
    # operator over everything delivered
    Q.ingest_batch(vals, hist, e.filter(F.col("event_id") % 5 == 4),
                   4, "value", LO, HI, app_id="pol")
    assert Q.quantiles_served(spark, root, QS) == exact_quantiles(
        e, "value", QS)


def test_hot_bucket_serve_bounded(spark, sf_dir, monkeypatch):
    """r10 (VERDICT r9 #1): a skewed domain that lands ~all mass in ONE
    frozen grid cell must NOT degrade the serve to a single-task sort
    of the corpus — hot target buckets fall back to the batch
    bracketing engine, whose shared ranked read only ever ranks
    brackets <= max(2*accuracy, hot_bucket_limit) rows. Pinned by
    recording every ready-bracket width at the read site."""
    from sport_advantages_moderne_data_infrastructure_spark.operators import (
        sketches as SK,
    )

    e = _events(spark, sf_dir)
    n = e.count()
    root = tempfile.mkdtemp(prefix="sq_hot_")
    vals, hist = Q._tables(root)
    # grid declared 100x wider than the data: every value lands in
    # cell 1 — the heavy-tailed-domain shape (token counts, durations)
    hot_hi = HI * 100
    for i in range(2):
        Q.ingest_batch(vals, hist,
                       e.filter(F.col("event_id") % 2 == i),
                       i, "value", LO, hot_hi, app_id="hot")
    counts = {int(r["__vb"]): int(r["cnt"])
              for r in Q._tables(root)[1].read(spark).collect()}
    assert max(counts.values()) > 0.9 * n  # the crafted skew is real

    limit = max(64, n // 20)
    acc = 32
    bound = max(2 * acc, limit)
    want = exact_quantiles(e, "value", QS)  # before the spy attaches
    widths: list[int] = []
    # r11: the hot fallback batches cells through the GROUPED engine
    # (ADVICE r10), so the width spy moves to its shared read site
    real_read = SK._read_ready_grouped

    def _spy(tag_df, col, ready):
        widths.extend(s.width() for _, (_, s) in ready)
        return real_read(tag_df, col, ready)

    monkeypatch.setattr(SK, "_read_ready_grouped", _spy)
    got = Q.quantiles_served(spark, root, QS,
                             hot_bucket_limit=limit, accuracy=acc)
    assert got == want
    assert widths, "hot-bucket fallback never engaged"
    assert max(widths) <= bound, (max(widths), bound)


def test_grouped_hot_bucket_serve_bounded(spark, sf_dir):
    """Grouped twin of the hot-bucket bound: per-(group, bucket) skew
    falls back to bracketing over the pruned, group-filtered bucket
    and still equals the batch grouped operator."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (  # noqa: E501
        grouped_exact_quantiles,
    )

    e = (load_table(spark, sf_dir, "events")
         .select("event_id", "event_type", "value"))
    root = tempfile.mkdtemp(prefix="sq_ghot_")
    vals, hist = Q._tables(root)
    Q.ingest_batch(vals, hist, e, 0, "value", LO, HI * 100,
                   app_id="ghot", group_col="event_type")
    want = {(g, q): v for g, q, v in grouped_exact_quantiles(
        e, "event_type", "value", QS)}
    got = {(g, q): v for g, q, v in Q.grouped_quantiles_served(
        spark, root, "event_type", QS, hot_bucket_limit=64,
        accuracy=32)}
    assert got == want


def test_hot_cells_batched_through_one_engine_call(spark, sf_dir,
                                                   monkeypatch):
    """r11 (ADVICE r10): a grouped root whose groups share a skewed
    grid has MANY hot (group, bucket) cells; the serve must answer
    them all through ONE batched bracketing run (cells share each
    round's sketch/verify/read jobs) — never a sequential per-cell
    loop that makes serve latency linear in hot-cell count."""
    from sport_advantages_moderne_data_infrastructure_spark.operators import (
        sketches as SK,
    )
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (  # noqa: E501
        grouped_exact_quantiles,
    )

    e = (load_table(spark, sf_dir, "events")
         .select("event_id", "event_type", "value"))
    root = tempfile.mkdtemp(prefix="sq_batch_")
    vals, hist = Q._tables(root)
    # grid 100x wider than the data: EVERY group's mass lands in one
    # cell, so every (group, target-bucket) is hot at this limit
    Q.ingest_batch(vals, hist, e, 0, "value", LO, HI * 100,
                   app_id="batch", group_col="event_type")
    calls: list[int] = []
    real = SK.grouped_exact_ranks

    def _spy(df, key_col, col, cells, **kw):
        calls.append(len(cells))
        return real(df, key_col, col, cells, **kw)

    monkeypatch.setattr(SK, "grouped_exact_ranks", _spy)
    want = {(g, q): v for g, q, v in grouped_exact_quantiles(
        e, "event_type", "value", QS)}
    got = {(g, q): v for g, q, v in Q.grouped_quantiles_served(
        spark, root, "event_type", QS, hot_bucket_limit=64,
        accuracy=32)}
    assert got == want
    assert len(calls) == 1, calls          # ONE batched run
    assert calls[0] > 1, calls             # genuinely many hot cells


def test_serve_pinned_to_hist_version(spark, sf_dir):
    """r10 (ADVICE r9 medium): hist and vals commit in separate legs,
    so serving must read vals AT the version the histogram recorded —
    an ingest landing between the two serve reads (simulated here as a
    vals-leg-only append) must leave the served answer EXACTLY the
    consistent pre-append one, never a stale-ranks/fresh-rows mix."""
    e = _events(spark, sf_dir)
    half = e.filter(F.col("event_id") % 2 == 0)
    root = tempfile.mkdtemp(prefix="sq_pin_")
    vals, hist = Q._tables(root)
    Q.ingest_batch(vals, hist, half, 0, "value", LO, HI, app_id="pin")
    served1 = Q.quantiles_served(spark, root, QS)
    assert served1 == exact_quantiles(half, "value", QS)

    # the torn state: fresh rows land in vals, hist not yet folded
    rows = (e.filter(F.col("event_id") % 2 == 1)
            .select(F.col("value").cast("double").alias("v"))
            .filter(F.col("v").isNotNull())
            .withColumn("__vb", Q._vb(F.col("v"), LO, HI, Q.N_VB)))
    adds = vals._write_data_partitioned(  # noqa: SLF001
        rows.repartition(16, "__vb"), "__vb")
    vals.commit(adds, [], {"operation": "test_torn_append",
                           "partition_by": "__vb"},
                expected_version=vals.latest_version())

    assert Q.quantiles_served(spark, root, QS) == served1


def test_flat_serve_on_grouped_root_raises(spark, sf_dir):
    """r10 (ADVICE r9 low): flat quantiles_served on a grouped root
    must fail loudly, not collapse the per-(group, bucket) histogram
    into last-row-wins wrong answers."""
    import pytest

    e = (load_table(spark, sf_dir, "events")
         .select("event_id", "event_type", "value"))
    root = tempfile.mkdtemp(prefix="sq_flatg_")
    vals, hist = Q._tables(root)
    Q.ingest_batch(vals, hist, e, 0, "value", LO, HI,
                   app_id="fg", group_col="event_type")
    with pytest.raises(ValueError, match="grouped_quantiles_served"):
        Q.quantiles_served(spark, root, QS)
    # and the mirror: grouped serve on a flat root
    root2 = tempfile.mkdtemp(prefix="sq_gflat_")
    vals2, hist2 = Q._tables(root2)
    Q.ingest_batch(vals2, hist2, e, 0, "value", LO, HI, app_id="gf")
    with pytest.raises(ValueError, match="flat root"):
        Q.grouped_quantiles_served(spark, root2, "event_type", QS)


def test_vacuum_retention_floor_keeps_pinned_serve(spark, sf_dir):
    """r10: the pinned serve reads vals AT the histogram's recorded
    version, which lags across a compaction until the next fold — a
    full vacuum in that window must pass the state's recorded version
    as the retention floor (vacuum(retain_from_version=...)) so the
    pinned snapshot stays readable; without the floor the pinned files
    are gone and serving fails instead of answering wrong."""
    e = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="sq_vac_")
    vals, hist = Q._tables(root)
    for i in range(4):
        Q.ingest_batch(vals, hist,
                       e.filter(F.col("event_id") % 4 == i),
                       i, "value", LO, HI, app_id="vac")
    served1 = Q.quantiles_served(spark, root, QS)
    assert Q.compact_if_needed(spark, root, max_live_dirs=2) is not None
    pin = int(hist.meta_with("q_source_version")[0]
              ["q_source_version"])
    assert pin < vals.latest_version()  # the pin lags the compaction

    # maintenance with the retention floor: pinned serve stays green
    vals.vacuum(keep_versions=False, older_than_seconds=0,
                retain_from_version=pin)
    assert Q.quantiles_served(spark, root, QS) == served1

    # and after the next fold advances the pin past the compaction, a
    # full vacuum with the NEW floor is safe too
    more = e.filter(F.col("event_id") % 4 == 0)  # replay-safe new batch
    Q.ingest_batch(vals, hist, more, 4, "value", LO, HI, app_id="vac")
    pin2 = int(hist.meta_with("q_source_version")[0]
               ["q_source_version"])
    assert pin2 > pin
    vals.vacuum(keep_versions=False, older_than_seconds=0,
                retain_from_version=pin2)
    got = Q.quantiles_served(spark, root, QS)
    assert [q for q, _ in got] == QS
