"""Streaming connected-components maintenance (r8): the driver gate
(stream_leakage_splits_equiv) hash-matches the maintained labels
against the from-scratch closure; these pin the maintenance machinery
directly — forest semantics on crafted graphs, batching invariance,
real writeStream restart, crash-between-legs recovery, compaction."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.streaming import cc as C


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, nbr long")


def _labels(spark, root):
    return sorted((r["doc_id"], r["cluster_id"])
                  for r in C.current_labels(spark, root).collect())


def test_crafted_graph_merges_and_reroots(spark):
    """Chained merges across batches, then (post-compact) a NEW doc
    with a SMALLER id becomes the root of everything — the case that
    breaks naive 'labels only ever shrink within old ids' designs."""
    root = tempfile.mkdtemp(prefix="cc_t1_")
    a, r = C._tables(root)
    C.ingest_batch(a, r, _mk(spark, [(5, None), (9, None)]), 0, "t")
    C.ingest_batch(a, r, _mk(spark, [(3, None), (3, 5)]), 1, "t")
    C.ingest_batch(a, r, _mk(spark, [(7, None), (7, 9), (7, 5)]), 2, "t")
    assert _labels(spark, root) == [(3, 3), (5, 3), (7, 3), (9, 3)]

    C.compact(spark, root)
    assert _labels(spark, root) == [(3, 3), (5, 3), (7, 3), (9, 3)]
    assert C._tables(root)[1].read(spark).count() == 0  # forest folded

    C.ingest_batch(a, r, _mk(spark, [(1, None), (1, 7)]), 3, "t")
    assert _labels(spark, root) == [(1, 1), (3, 1), (5, 1), (7, 1),
                                    (9, 1)]


def test_batching_invariance(spark, sf_dir):
    """2-batch vs 5-batch delivery of the same nodes+edges must land on
    identical labels — the maintained answer is a function of the
    graph, not the arrival schedule."""
    from sport_advantages_moderne_data_infrastructure_spark.operators import (
        dedup as DD,
    )
    from sport_advantages_moderne_data_infrastructure_spark.plans.textops import (
        capped_shingle_index, near_corpus,
    )

    corpus = near_corpus(spark, sf_dir)
    pairs = DD.jaccard_pairs(
        corpus, capped=capped_shingle_index(spark, sf_dir)
    ).select("doc_a", "doc_b").persist()
    nodes = corpus.select("doc_id").distinct()
    try:
        results = []
        for m in (2, 5):
            root = tempfile.mkdtemp(prefix=f"cc_b{m}_")
            a, r = C._tables(root)
            b = lambda c: F.pmod(F.col(c), F.lit(m))  # noqa: E731
            for i in range(m):
                batch = (nodes.filter(b("doc_id") == i)
                         .select("doc_id", F.lit(None).cast("long")
                                 .alias("nbr"))
                         .unionByName(
                             pairs.filter(F.greatest(b("doc_a"),
                                                     b("doc_b")) == i)
                             .select(F.col("doc_a").alias("doc_id"),
                                     F.col("doc_b").alias("nbr"))))
                C.ingest_batch(a, r, batch, i, f"cc_b{m}")
            results.append(_labels(spark, root))
        assert results[0] == results[1] and len(results[0]) > 0
    finally:
        pairs.unpersist()


def test_stream_cc_restart_exactly_once(spark, tmp_path_factory):
    """Real writeStream leg: maintain labels from a file stream of
    node/edge rows, RESTART on the same checkpoint — state versions
    and labels unchanged."""
    import time

    base = tmp_path_factory.mktemp("ccstream")
    src = str(base / "src")
    # one file per micro-batch, strictly increasing mtimes, so the file
    # source honors the edge arrival contract (edge no earlier than its
    # endpoints' bare rows) the way a real candidate-generating
    # upstream does
    batches = [
        [(5, None), (9, None)],
        [(3, None), (3, 5), (7, None), (7, 9), (7, 5)],
        [(2, None), (2, 3)],
    ]
    for i, rows in enumerate(batches):
        _mk(spark, rows).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtime ordering for the file source

    def _stream():
        return (spark.readStream
                .schema("doc_id long, nbr long")
                .option("maxFilesPerTrigger", "1").parquet(src))

    root, ckpt = str(base / "cc"), str(base / "ckpt")
    q = C.write_stream_cc(_stream(), root, ckpt, app_id="cc_s")
    q.awaitTermination(120)
    q.stop()
    got1 = _labels(spark, root)
    a, r = C._tables(root)
    v1 = (a.latest_version(), r.latest_version())

    q2 = C.write_stream_cc(_stream(), root, ckpt, app_id="cc_s")
    q2.awaitTermination(60)
    q2.stop()
    assert _labels(spark, root) == got1
    assert (a.latest_version(), r.latest_version()) == v1
    # every doc in one component rooted at the global min
    assert got1 == [(2, 2), (3, 2), (5, 2), (7, 2), (9, 2)]


def test_crash_between_legs_recovers(spark, crash_at_commit):
    """Crash AFTER the assign append but BEFORE the remap append: the
    legs are pure functions of (batch, pre-batch state), so
    redelivery recomputes the identical remap rows; a further replay
    is a no-op on both tables."""
    root = tempfile.mkdtemp(prefix="cc_crash_")
    a, r = C._tables(root)
    C.ingest_batch(a, r, _mk(spark, [(5, None), (9, None)]), 0, "t")

    with crash_at_commit(r.path, 1) as crash:
        try:
            C.ingest_batch(a, r, _mk(spark, [(3, None), (3, 5), (3, 9)]),
                           1, "t")
            raise AssertionError("injected crash did not fire")
        except RuntimeError as ex:
            assert ex is crash.error and crash.hits == 1
    # torn: assign carries batch 1, remap still at batch 0's marker
    assert a.latest_version() == 1 and r.latest_version() == 0

    # r10 serve pinning: the torn state must serve the PRE-batch
    # consistent view (doc 3 absent), never fresh assign rows whose
    # merges are missing — that view would label doc 3 with the merged
    # root while 5 and 9 keep their own labels, SPLITTING the true
    # cluster (a leakage hazard for the splits built on these labels)
    assert _labels(spark, root) == [(5, 5), (9, 9)]

    C.ingest_batch(a, r, _mk(spark, [(3, None), (3, 5), (3, 9)]),
                   1, "t")  # redelivery: assign skips, remap lands
    assert _labels(spark, root) == [(3, 3), (5, 3), (9, 3)]
    va, vr = a.latest_version(), r.latest_version()
    C.ingest_batch(a, r, _mk(spark, [(3, None), (3, 5), (3, 9)]),
                   1, "t")  # pure replay: no-op on both
    assert (a.latest_version(), r.latest_version()) == (va, vr)


def test_serving_plan_is_broadcast_only(spark):
    """current_labels must be one broadcast map-side join — no shuffle
    of the corpus-sized assign table at serve time."""
    import contextlib
    import io

    root = tempfile.mkdtemp(prefix="cc_plan_")
    a, r = C._tables(root)
    C.ingest_batch(a, r, _mk(spark, [(5, None), (9, None)]), 0, "t")
    C.ingest_batch(a, r, _mk(spark, [(3, None), (3, 5)]), 1, "t")
    df = C.current_labels(spark, root)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_compact_if_needed_policy(spark):
    """The scheduled-maintenance policy (VERDICT r8 #5): below both
    thresholds -> no-op (None-equivalent False, no version bump);
    above the merge threshold -> compacts (remap truncated, labels
    unchanged); immediately after -> no-op again."""
    root = tempfile.mkdtemp(prefix="cc_pol_")
    a, r = C._tables(root)
    # a merge-heavy history: chain 12 docs so every batch merges
    C.ingest_batch(a, r, _mk(spark, [(100, None)]), 0, "p")
    for i in range(1, 13):
        C.ingest_batch(
            a, r, _mk(spark, [(100 - i, None), (100 - i, 100 - i + 1)]),
            i, "p")
    before = _labels(spark, root)
    n_remap = r.read(spark).count()
    assert n_remap >= 12  # every batch re-rooted the chain

    # below thresholds: policy declines
    assert C.compact_if_needed(spark, root, max_remap_rows=1000,
                               max_live_dirs=10_000) is False
    assert r.read(spark).count() == n_remap

    # merge threshold crossed: policy compacts, serve state unchanged
    assert C.compact_if_needed(spark, root, max_remap_rows=8,
                               max_live_dirs=10_000) is True
    assert r.read(spark).count() == 0  # forest folded into assign
    assert _labels(spark, root) == before

    # idempotent: nothing left to fold
    assert C.compact_if_needed(spark, root, max_remap_rows=8,
                               max_live_dirs=10_000) is False
