"""Streaming incremental deduplication: new documents dedupe against a
GROWING corpus as they arrive.

The batch dedup suite (operators/dedup.py) answers "which docs in this
corpus are near-dups of each other"; a training-data ingest pipeline
needs the online form — "is this incoming doc a (near-)dup of anything
we already kept" — without rescanning the corpus per batch. The state
that makes that O(batch) instead of O(corpus) is exactly the LSH band
table (``operators.dedup.signature_bands``): a micro-batch's bands
equi-join the persisted band index, never the corpus bodies.

Both state tables (kept corpus, band index) are transactional txn
tables, and each micro-batch maintains them with the same
SetTransaction-style replay guard as the txn append sink
(streaming/pipeline.write_stream_txn_append): the unique set is a pure
function of (batch, index state), and each table skips batches it has
already committed — so a crash between the two appends replays to the
identical result. Commit order is corpus THEN index: replaying with the
corpus committed but bands missing recomputes the same uniques (the
index is unchanged) and only the index append runs; committing the
index first would make a replayed batch collide with its own bands and
drop every row.

Dedup policy per micro-batch:
1. exact intra-batch: md5(body), keep the lowest doc_id per digest;
2. near-dup intra-batch: LSH band self-collision, keep the lowest
   doc_id per collision group (transitively, via the band key);
3. near-dup vs corpus: any band collision with the persisted index
   drops the doc (the at-scale policy for web-crawl dedup — band
   collision at LSH_BANDS/N_MINHASH granularity; exact re-verification
   would need corpus bodies and is a batch-side job, not an ingest-path
   one).

Reference anchor: the reference's streaming leg is a plain Kafka→Delta
append (spark/SaveDelta.scala:104-163) with no dedup; this is the
north-star extension a 100 TB training-data ingest needs (SURVEY §2
extensions), composed from the engine's own primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import minhash_signatures, signature_bands
from ..sources.txnlog import TxnTable, _stream_meta
from .pipeline import _start_foreach_batch


def dedup_batch(batch_df: DataFrame, index_bands: DataFrame | None,
                caches: list | None = None):
    """(uniques, their_bands) for one micro-batch against the current
    band index — the pure function both the sink and its tests share.
    ``batch_df`` needs (doc_id, text); ``index_bands`` is the persisted
    (doc_id, band, key) table or None for a fresh corpus.

    ``caches``: when the caller passes a list, every intermediate this
    function caches (bands, the dup-id set) is appended to it so the
    caller can unpersist after the batch is consumed — a long-running
    processingTime stream would otherwise leak one cached plan + its
    blocks per micro-batch (ADVICE r14). Batch callers (the gated
    static twin) may omit it: their session clears the cache per run."""
    from pyspark.sql import Window as W

    # 1. exact intra-batch: lowest doc_id per digest survives
    exact = (batch_df
             .withColumn("digest", F.md5(F.col("text")))
             .withColumn("keep_id",
                         F.min("doc_id").over(W.partitionBy("digest")))
             .filter(F.col("doc_id") == F.col("keep_id"))
             .drop("digest", "keep_id"))

    sigs = minhash_signatures(exact)
    bands = signature_bands(sigs).cache()
    if caches is not None:
        caches.append(bands)

    # 2. near-dup intra-batch: within each colliding band key, only the
    # lowest doc_id survives (applied across all its bands)
    band_min = bands.withColumn(
        "min_id", F.min("doc_id").over(W.partitionBy("band", "key")))
    intra_dups = (band_min.filter(F.col("doc_id") != F.col("min_id"))
                  .select("doc_id").distinct())

    # 3. near-dup vs corpus: any band collision with the index drops it
    if index_bands is not None:
        cross_dups = (bands.join(index_bands, ["band", "key"],
                                 "left_semi")
                      .select("doc_id").distinct())
        dups = intra_dups.unionByName(cross_dups).distinct()
    else:
        dups = intra_dups
    # two consumers (the uniques anti-join and the kept_bands anti-join
    # build separate broadcasts): without the cache the window +
    # index-semi-join pipeline re-runs for the index append
    dups = dups.cache()
    if caches is not None:
        caches.append(dups)
    uniques = exact.join(dups, "doc_id", "left_anti")
    kept_bands = bands.join(dups, "doc_id", "left_anti")
    return uniques, kept_bands


def write_stream_dedup(stream_docs: DataFrame, corpus_path: str,
                       index_path: str, checkpoint: str,
                       app_id: str | None = None,
                       available_now: bool = True,
                       processing_time: str | None = None):
    """Exactly-once streaming dedup sink: ``stream_docs`` (streaming
    DataFrame with doc_id, text) lands in the ``corpus_path`` txn table
    with exact and LSH near-dups dropped — intra-batch and against
    everything previously kept — while ``index_path`` accumulates the
    band index that makes each batch O(batch), not O(corpus)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        idx = (TxnTable(index_path).read(batch_df.sparkSession)
               if TxnTable.is_table(index_path) else None)
        caches: list = []
        uniques, kept_bands = dedup_batch(batch_df, idx, caches=caches)
        uniques = uniques.cache()  # two consumers + deterministic replay
        # bound files per micro-batch append (guide §6 small files): the
        # frames arrive split across every shuffle partition, so a
        # ~3.5k-doc batch wrote defaultParallelism near-empty files per
        # state table — slowing both the write and every later batch's
        # index read. Scale-adaptive (cluster-core-derived); on sessions
        # under 16 cores the target floors at 1, i.e. single-file
        # appends BY DESIGN — micro-batches there are far below one
        # healthy parquet file, and coalesce only narrows partitioning,
        # the rows are identical (ADVICE r14).
        spread = max(
            1, batch_df.sparkSession.sparkContext.defaultParallelism // 8)
        try:
            if uniques.isEmpty():
                return
            # corpus FIRST (see module docstring for the crash argument)
            for path, leg, op in (
                    (corpus_path, uniques, "stream_dedup_append"),
                    (index_path, kept_bands, "stream_dedup_index")):
                table = TxnTable(path)
                table.append(leg.coalesce(spread),
                             _stream_meta(batch_id, app_id, op))
                table.checkpoint_if_needed()
        finally:
            uniques.unpersist()
            for c in caches:  # bands + dup-id set (ADVICE r14: a
                c.unpersist()  # processingTime stream leaked one cached
                # plan/blocks per micro-batch otherwise)

    return _start_foreach_batch(stream_docs, _process, checkpoint,
                                available_now, processing_time)
