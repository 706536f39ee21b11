"""Streaming SemDeDup (r8): the driver gate hash-matches the
maintained prune set against the batch brute-force oracle; these pin
the machinery — retroactive prunes, real writeStream restart, crash
ordering, batching invariance."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.plans.simops import (
    ensure_ivf_index,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
    load_table,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming import (
    semdedup as SD,
)


def _corpus(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    return e.unionAll(
        e.filter(F.col("vec_id") % 13 == 0)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding"))


def _pruned(spark, root):
    return sorted(r["pruned_vec_id"]
                  for r in SD.pruned_ids(spark, root).collect())


def test_retroactive_prune_when_smaller_id_arrives_later(spark, sf_dir):
    """A near-dup pair delivered LARGER ID FIRST: the later (smaller)
    arrival must retroactively prune the already-kept larger vector —
    the order-free rule the streaming form relies on."""
    centroids, _ = ensure_ivf_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    base = e.filter(F.col("vec_id") == 13)
    root = tempfile.mkdtemp(prefix="semdd_retro_")
    # batch 0: the shifted COPY (id 10013) arrives first
    SD.ingest_batch(root, base.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"),
        centroids, 0, "retro")
    assert _pruned(spark, root) == []
    # batch 1: the original (smaller id 13) arrives — 10013 gets pruned
    SD.ingest_batch(root, base, centroids, 1, "retro")
    assert _pruned(spark, root) == [10_013]


def test_batching_invariance_matches_batch_rule(spark, sf_dir):
    """2-batch vs 4-batch delivery land on the identical prune set —
    equal to the single-shot ingest (the batch rule)."""
    centroids, _ = ensure_ivf_index(spark, sf_dir)
    corpus = _corpus(spark, sf_dir).persist()
    try:
        results = []
        for m in (1, 2, 4):
            root = tempfile.mkdtemp(prefix=f"semdd_b{m}_")
            for i in range(m):
                SD.ingest_batch(
                    root,
                    corpus.filter(F.pmod(F.col("vec_id"),
                                         F.lit(m)) == i),
                    centroids, i, f"sb{m}")
            results.append(_pruned(spark, root))
        assert results[0] == results[1] == results[2]
        assert len(results[0]) > 0
    finally:
        corpus.unpersist()


def test_stream_semdedup_restart_exactly_once(spark, sf_dir,
                                              tmp_path_factory):
    centroids, _ = ensure_ivf_index(spark, sf_dir)
    base = tmp_path_factory.mktemp("semddstream")
    src = str(base / "src")
    d = _corpus(spark, sf_dir)
    d.repartition(3).write.parquet(src)

    def _stream():
        return (spark.readStream.schema(d.schema)
                .option("maxFilesPerTrigger", "1").parquet(src))

    root, ckpt = str(base / "sd"), str(base / "ckpt")
    q = SD.write_stream_semdedup(_stream(), root, centroids, ckpt,
                                 app_id="sd_t")
    q.awaitTermination(180)
    q.stop()
    got1 = _pruned(spark, root)
    idx, pruned = SD._tables(root)
    v1 = (idx.latest_version(), pruned.latest_version())
    assert len(got1) > 0

    q2 = SD.write_stream_semdedup(_stream(), root, centroids, ckpt,
                                  app_id="sd_t")
    q2.awaitTermination(90)
    q2.stop()
    assert _pruned(spark, root) == got1
    assert (idx.latest_version(), pruned.latest_version()) == v1


def test_replay_after_full_commit_prunes_nothing(spark, sf_dir):
    """At-least-once redelivery of a batch whose BOTH legs already
    committed — including the common batch that pruned NOTHING, which
    before r9 left no (app_id, batch_id) record in the pruned table, so
    the replayed prune leg re-ran against an index that now contains
    the batch's own vectors (cos == 1 self-pairs) and pruned the entire
    batch. The empty-prune marker + self-pair filter both guard this."""
    centroids, _ = ensure_ivf_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    # a batch with NO near-dup pairs (distinct raw embeddings): the
    # first run's prune leg commits zero rows
    batch = e.filter(F.col("vec_id") < 40)
    root = tempfile.mkdtemp(prefix="semdd_replay_")
    SD.ingest_batch(root, batch, centroids, 0, "rp")
    assert _pruned(spark, root) == []
    idx, pruned = SD._tables(root)
    # the empty-prune marker committed: the batch is recorded
    assert pruned.latest_version() is not None
    assert pruned.max_stream_batch_id("rp") == 0
    vs = (idx.latest_version(), pruned.latest_version())

    SD.ingest_batch(root, batch, centroids, 0, "rp")  # full redelivery
    assert _pruned(spark, root) == []
    assert (idx.latest_version(), pruned.latest_version()) == vs


def test_self_pair_filter_without_guard(spark, sf_dir):
    """The self-pair exclusion independent of the batch-id guard: feed
    the SAME vectors again under a NEW batch id (so the guard does not
    skip) — each vector meets its own indexed copy at cos == 1 and must
    NOT be pruned (vec_id == o_vec_id pairs are excluded)."""
    centroids, _ = ensure_ivf_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    batch = e.filter(F.col("vec_id") < 40)
    root = tempfile.mkdtemp(prefix="semdd_selfpair_")
    SD.ingest_batch(root, batch, centroids, 0, "sp")
    SD.ingest_batch(root, batch, centroids, 1, "sp")
    assert _pruned(spark, root) == []


def test_crash_between_legs_replays_identically(spark, sf_dir,
                                                crash_at_commit):
    """Crash AFTER the prune append but BEFORE the index append: the
    prune leg is a pure function of (batch, pre-batch index), so
    redelivery skips it (guard) and lands the index; replay is a
    no-op; the final state equals an uncrashed run."""
    centroids, _ = ensure_ivf_index(spark, sf_dir)
    corpus = _corpus(spark, sf_dir)
    b = lambda i: corpus.filter(F.pmod(F.col("vec_id"), F.lit(2)) == i)  # noqa: E731

    root = tempfile.mkdtemp(prefix="semdd_crash_")
    SD.ingest_batch(root, b(0), centroids, 0, "sd_c")

    idx, pruned = SD._tables(root)
    with crash_at_commit(idx.path, 1) as crash:
        try:
            SD.ingest_batch(root, b(1), centroids, 1, "sd_c")
            raise AssertionError("injected crash did not fire")
        except RuntimeError as ex:
            assert ex is crash.error

    SD.ingest_batch(root, b(1), centroids, 1, "sd_c")  # redelivery
    vs = (idx.latest_version(), pruned.latest_version())
    SD.ingest_batch(root, b(1), centroids, 1, "sd_c")  # replay no-op
    assert (idx.latest_version(), pruned.latest_version()) == vs

    ref = tempfile.mkdtemp(prefix="semdd_ref_")
    for i in range(2):
        SD.ingest_batch(ref, b(i), centroids, i, "sd_r")
    assert _pruned(spark, root) == _pruned(spark, ref)
