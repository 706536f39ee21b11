"""Streaming SemDeDup: embedding-space near-duplicate pruning
maintained as embeddings arrive — the semantic leg of the streaming
dedup family (lexical LSH: streaming/dedup.py; substring spans: batch;
cluster labels: streaming/cc.py).

SemDeDup's prune rule (Abbas et al. 2023, as shipped in the batch
``semantic_dedup_prune`` row) is ORDER-FREE: the pruned set is "the
larger vec_id of every same-centroid pair with exact cosine >= 0.99".
That makes it exactly maintainable: a pair is discovered ONCE — when
its later-arriving member lands — and contributes greatest(old, new),
which may retroactively prune an already-kept vector (append-only
pruned-set state absorbs that naturally; serving is a distinct read).

Per micro-batch (gated twin ``stream_semantic_dedup_equiv`` runs this
exact function):

1. assign the batch to the FROZEN centroids (map-side argmin — the
   IVF contract; drift is handled by periodic retrain + rebuild, the
   annindex.py discipline);
2. candidates: intra-batch same-centroid pairs ∪ batch × persisted
   same-centroid members — the index read is PARTITION-PRUNED to the
   batch's centroid ids (the maintained index is ``centroid_id=``
   partitioned, annindex.py's layout);
3. exact-cosine rerank >= 0.99 → newly pruned ids, anti-joined
   against the stored pruned set, appended (PRUNE LEG FIRST — a pure
   function of batch + pre-batch index, so a crash between legs
   replays identically);
4. the assigned batch appends to the ``centroid_id``-partitioned index
   (annindex.py's layout) through ``TxnTable.append``, replay-guarded.

Per-batch cost: O(batch x touched-cluster width) — never a corpus
scan; the k ∝ N centroid-count policy (ivf.k_for_corpus) bounds
cluster width as the corpus grows.

Reference context: no counterpart in the reference (SURVEY §2
extensions) — this is SemDeDup made continuous for a streaming
training-data corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import dot_expr
from ..operators.ivf import assign_centroids
from ..sources.txnlog import TxnTable, _stream_meta
from .pipeline import _start_foreach_batch

COS_THRESHOLD = 0.99


def _tables(root: str) -> tuple[TxnTable, TxnTable]:
    return TxnTable(root + "/index"), TxnTable(root + "/pruned")


def ingest_batch(root: str, batch_df: DataFrame,
                 centroids: list[list[float]], batch_id: int,
                 app_id: str | None = None) -> None:
    """One micro-batch (see module doc). ``batch_df``: (vec_id,
    embedding)."""
    spark = batch_df.sparkSession
    idx, pruned = _tables(root)
    assigned = (assign_centroids(
        batch_df.select(
            "vec_id", "embedding",
            F.sqrt(F.expr(dot_expr("embedding", "embedding")))
            .alias("nrm")), centroids)
        .select("vec_id", "embedding", "nrm", "centroid_id")
        .localCheckpoint())

    a, b = assigned.alias("a"), assigned.alias("b")
    cos_ab = (F.expr(dot_expr("a.embedding", "b.embedding"))
              / (F.col("a.nrm") * F.col("b.nrm")))
    newly = (a.join(b, (F.col("a.centroid_id") == F.col("b.centroid_id"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
             .filter(cos_ab >= COS_THRESHOLD)
             .select(F.col("b.vec_id").alias("pruned_vec_id")))

    if idx.latest_version() is not None:
        cids = [r[0] for r in assigned.select("centroid_id")
                .distinct().collect()]
        old = (idx.read_partitions(spark, cids)
               .select(F.col("vec_id").alias("o_vec_id"),
                       F.col("embedding").alias("o_emb"),
                       F.col("nrm").alias("o_nrm"), "centroid_id"))
        cos_no = (F.expr(dot_expr("embedding", "o_emb"))
                  / (F.col("nrm") * F.col("o_nrm")))
        cross = (assigned.join(old, "centroid_id")
                 # self-pair exclusion: on at-least-once redelivery of a
                 # batch whose index append already committed, the batch's
                 # own vectors sit in `old` (cos == 1 with themselves) —
                 # without this filter every redelivered vector would be
                 # pruned (greatest(v, v) == v)
                 .filter(F.col("vec_id") != F.col("o_vec_id"))
                 .filter(cos_no >= COS_THRESHOLD)
                 .select(F.greatest("vec_id", "o_vec_id")
                         .alias("pruned_vec_id")))
        newly = newly.unionByName(cross)
    newly = newly.distinct().localCheckpoint()

    if pruned.latest_version() is not None:
        newly = newly.join(pruned.read(spark), ["pruned_vec_id"],
                           "left_anti")

    # committed even when `newly` is empty: the empty commit is the
    # batch's marker in the pruned table's stream meta, so a replay
    # skips this leg via the (app_id, batch_id) ledger even for the
    # common batch that pruned nothing (second, independent guard
    # against the redelivery self-pair hazard above)
    pruned.append(newly, _stream_meta(batch_id, app_id,
                                      "semdedup_prune_append"))
    pruned.checkpoint_if_needed()

    idx.append(assigned, {**_stream_meta(batch_id, app_id,
                                         "semdedup_index_append"),
                          "partition_by": "centroid_id"})
    idx.checkpoint_if_needed()


def write_stream_semdedup(df: DataFrame, root: str,
                          centroids: list[list[float]],
                          checkpoint: str,
                          app_id: str | None = None,
                          available_now: bool = True):
    """Start the maintenance sink over ``df`` (a streaming frame with
    vec_id + embedding). Read the prune set back with
    :func:`pruned_ids`."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(root, batch_df, centroids, batch_id, app_id)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def pruned_ids(spark: SparkSession, root: str) -> DataFrame:
    """The maintained prune set: (pruned_vec_id), distinct."""
    _, pruned = _tables(root)
    if pruned.latest_version() is None:
        return spark.createDataFrame([], "pruned_vec_id long")
    return pruned.read(spark).select("pruned_vec_id").distinct()
