"""End-to-end streaming splits pipeline (r8): the driver gate
(stream_splits_e2e) hash-matches the maintained assignment against
DuckDB's from-scratch recomputation of the whole pipeline; these pin
the sink machinery — real writeStream restart, crash-between-legs
recovery, and the no-pair-straddles property on the maintained
output."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.plans.textops import (
    near_corpus,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming import (
    cc as CC,
    splits as SP,
)


def test_stream_splits_restart_exactly_once(spark, sf_dir,
                                            tmp_path_factory):
    """Real writeStream leg over raw documents; RESTART on the same
    checkpoint — all four state tables' versions and the served
    assignment unchanged."""
    base = tmp_path_factory.mktemp("splitsstream")
    src = str(base / "src")
    d = near_corpus(spark, sf_dir).select("doc_id", "text")
    d.repartition(3).write.parquet(src)

    def _stream():
        return (spark.readStream.schema(d.schema)
                .option("maxFilesPerTrigger", "1").parquet(src))

    root, ckpt = str(base / "sp"), str(base / "ckpt")
    q = SP.write_stream_splits(_stream(), root, ckpt, app_id="sp_t")
    q.awaitTermination(240)
    q.stop()
    got1 = sorted(tuple(r) for r in SP.current_splits(spark, root)
                  .collect())
    assert len(got1) == d.count()

    def _versions():
        bands_t, post_t = SP._tables(root)
        assign, remap = CC._tables(root)
        return tuple(t.latest_version()
                     for t in (bands_t, post_t, assign, remap))

    v1 = _versions()
    q2 = SP.write_stream_splits(_stream(), root, ckpt, app_id="sp_t")
    q2.awaitTermination(120)
    q2.stop()
    assert _versions() == v1
    assert sorted(tuple(r) for r in SP.current_splits(spark, root)
                  .collect()) == got1


def test_stream_splits_crash_between_legs(spark, sf_dir, crash_at_commit):
    """Crash AFTER the CC legs but BEFORE the postings/bands appends:
    redelivery must re-derive the identical edges (per-doc-pure math +
    pre-batch state), skip the committed CC legs, land the state
    appends — and a further replay is a no-op everywhere."""
    corpus = near_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="splits_crash_")
    b = lambda i: corpus.filter(F.pmod(F.col("doc_id"), F.lit(2)) == i)  # noqa: E731
    SP.ingest_batch(root, b(0), 0, "sp_c")

    bands_t, post_t = SP._tables(root)
    with crash_at_commit(post_t.path, 1) as crash:
        try:
            SP.ingest_batch(root, b(1), 1, "sp_c")
            raise AssertionError("injected crash did not fire")
        except RuntimeError as ex:
            assert ex is crash.error
    assign, _ = CC._tables(root)
    assert assign.latest_version() is not None
    assert post_t.latest_version() == 0  # batch 1's append missing

    SP.ingest_batch(root, b(1), 1, "sp_c")  # redelivery
    assert post_t.latest_version() == 1
    vs = (bands_t.latest_version(), post_t.latest_version(),
          assign.latest_version())
    SP.ingest_batch(root, b(1), 1, "sp_c")  # pure replay: no-op
    assert (bands_t.latest_version(), post_t.latest_version(),
            assign.latest_version()) == vs

    # the maintained output equals a one-batch-from-scratch rebuild
    root2 = tempfile.mkdtemp(prefix="splits_ref_")
    SP.ingest_batch(root2, corpus, 0, "sp_r")
    assert (sorted(tuple(r) for r in SP.current_splits(spark, root)
                   .collect())
            == sorted(tuple(r) for r in SP.current_splits(spark, root2)
                      .collect()))


def test_no_pair_straddles_on_maintained_output(spark, sf_dir):
    """The contamination property holds on the STREAM-maintained
    assignment: every verified near-dup edge's two docs carry the same
    split."""
    corpus = near_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="splits_prop_")
    for i in range(2):
        SP.ingest_batch(
            root, corpus.filter(F.pmod(F.col("doc_id"), F.lit(2)) == i),
            i, "sp_p")
    s = SP.current_splits(spark, root).select("doc_id", "split")
    edges, bands_b, hashes_b = SP.batch_edges(
        spark, tempfile.mkdtemp(prefix="splits_empty_"), corpus)
    try:
        j = (edges
             .join(s.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("split", "split_a"), "doc_a")
             .join(s.withColumnRenamed("doc_id", "doc_b")
                   .withColumnRenamed("split", "split_b"), "doc_b"))
        assert j.count() > 0
        assert j.filter(F.col("split_a") != F.col("split_b")).count() == 0
    finally:
        bands_b.unpersist()
        hashes_b.unpersist()


def test_splits_compact_if_needed_policy(spark, sf_dir):
    """Whole-pipeline maintenance (VERDICT r8 #5): after a multi-batch
    ingest the band/posting tables have accreted one dir-set per
    batch; the policy folds them PARTITION-AWARE (the __sb pruned
    reads every subsequent ingest depends on keep working), the CC
    pair compacts by its own policy, and the maintained splits are
    unchanged. Below thresholds the policy is a no-op."""
    import tempfile

    from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (  # noqa: E501
        load_table,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        splits as SP,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="splits_pol_")
    for i in range(4):
        SP.ingest_batch(root, docs.filter(F.col("doc_id") % 5 == i),
                        i, "pol")
    before = sorted(tuple(r) for r in
                    SP.current_splits(spark, root).collect())
    bands, postings = SP._tables(root)
    dirs_before = len(bands.snapshot_dirs())
    assert dirs_before > 4  # one dir-set per batch accreted

    # below thresholds: no-op everywhere
    out = SP.compact_if_needed(spark, root, max_live_dirs=10_000,
                               cc_max_remap_rows=10_000)
    assert out == {"bands": None, "postings": None, "cc": False}

    # force the fold
    out = SP.compact_if_needed(spark, root, max_live_dirs=2,
                               cc_max_remap_rows=10_000)
    assert out["bands"] is not None and out["postings"] is not None
    assert len(bands.snapshot_dirs()) < dirs_before
    assert sorted(tuple(r) for r in
                  SP.current_splits(spark, root).collect()) == before

    # the pruned-read ingest path still works ACROSS the fold: deliver
    # the held-out fifth slice, then require batching invariance — the
    # 4-batch + compact + 1-batch history must land on the same splits
    # as a single-batch ingest of the whole corpus
    SP.ingest_batch(root, docs.filter(F.col("doc_id") % 5 == 4),
                    4, "pol")
    ref_root = tempfile.mkdtemp(prefix="splits_pol_ref_")
    SP.ingest_batch(ref_root, docs, 0, "polref")
    assert (sorted(tuple(r) for r in
                   SP.current_splits(spark, root).collect())
            == sorted(tuple(r) for r in
                      SP.current_splits(spark, ref_root).collect()))
