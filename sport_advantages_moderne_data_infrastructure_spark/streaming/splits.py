"""End-to-end streaming leakage-safe splits: raw documents stream in;
near-dup EDGES are generated incrementally (LSH candidates against a
persisted band index, exact-Jaccard verified against persisted
postings); cluster labels and the split assignment are maintained by
the incremental CC module — the full documents→splits pipeline as ONE
continuously-maintained artifact, composing three state disciplines
this engine already gates separately:

- band index + candidate generation: streaming/dedup.py's persisted
  LSH state, here PARTITION-PRUNED by a band-key hash bucket (``__sb``)
  so a batch scans only the buckets its band keys fall in;
- exact verify: operators/dedup.jaccard_for_pairs over (batch shingles
  ∪ partition-pruned old candidates' postings). The verify is
  UNCAPPED Jaccard — deliberately: MinHash signatures and shingle
  sets are pure per-doc derivations, so "bands collide AND exact
  Jaccard >= t" is PAIR-INTRINSIC — the one edge definition a stream
  can maintain exactly (the df-cap stop-set is corpus-level and
  changes as the corpus grows; it belongs to scheduled batch jobs,
  documented at streaming/cc.py);
- label maintenance: streaming/cc.ingest_batch (append-only bucketed
  assign + label-remap forest — O(batch), never a corpus rewrite).

Per micro-batch ORDER (each leg (app_id, batch_id) replay-guarded):
CC legs FIRST — they are pure functions of (batch, pre-batch band/
postings state) — then the postings append, then the bands append.
A crash anywhere replays to the identical result: candidates/verify
re-derive from per-doc-pure math, the CC guards skip committed legs,
and a band/postings gap is re-covered because the stream redelivers
the batch whose appends are missing.

Gated ``stream_splits_e2e``: the maintained per-doc (doc_id,
cluster_id, split) frame must HASH-EQUAL the from-scratch relational
pipeline — LSH candidates ∩ uncapped Jaccard >= 0.5 → transitive
closure → md5 bucket — recomputed entirely by DuckDB.

Reference context: no counterpart in the reference (its streaming leg
is a plain Kafka→Delta append, spark/SaveDelta.scala:104-163); this
composes the engine's own primitives into the ingest pipeline a
100 TB training corpus needs (SURVEY §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    jaccard_for_pairs, minhash_signatures, shingle_hashes,
    signature_bands,
)
from ..sources.txnlog import TxnTable, _stream_meta
from . import cc as CC
from .pipeline import _start_foreach_batch

N_SB = 32  # band-key hash buckets for the persisted band index


def _tables(root: str):
    """(bands, postings) state tables; the CC pair lives under the
    same root via streaming/cc._tables."""
    return TxnTable(root + "/bands"), TxnTable(root + "/postings")


def _sb(col):
    return F.pmod(F.xxhash64(col), F.lit(N_SB)).cast("int")


def _pruned(spark: SparkSession, table: TxnTable, bucket_vals,
            key_col: str, keys: DataFrame) -> DataFrame:
    """Partition-pruned read of ``table`` restricted (broadcast
    semi-join) to ``keys`` — the assign-lookup discipline."""
    rows = table.read_partitions(spark, bucket_vals)
    return rows.join(F.broadcast(keys), key_col, "left_semi")


def batch_edges(spark: SparkSession, root: str, batch_docs: DataFrame,
                threshold: float = 0.5) -> tuple[DataFrame, DataFrame,
                                                 DataFrame]:
    """(edges, bands_b, hashes_b) for one micro-batch — the pure
    function of (batch, pre-batch state) both the sink and the gate
    twin run. Candidates: intra-batch band collisions ∪ batch-vs-index
    collisions (index read pruned to the batch's band-key buckets);
    verify: uncapped exact Jaccard over batch shingles ∪ pruned old
    postings."""
    bands_t, post_t = _tables(root)
    hashes_b = shingle_hashes(batch_docs).persist()
    bands_b = (signature_bands(minhash_signatures(batch_docs,
                                                  hashes=hashes_b))
               .persist())

    a = bands_b.alias("a")
    b_ = bands_b.alias("b")
    intra = (a.join(b_, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b")))
    cand = intra
    if bands_t.latest_version() is not None:
        buckets = [r[0] for r in bands_b.select(_sb(F.col("key"))
                                                .alias("b"))
                   .distinct().collect()]
        idx = _pruned(spark, bands_t, buckets, "key",
                      bands_b.select("key").distinct())
        cross = (bands_b.join(idx.select("doc_id", "band", "key")
                              .withColumnRenamed("doc_id", "old_id"),
                              ["band", "key"])
                 .select(F.least("doc_id", "old_id").alias("doc_a"),
                         F.greatest("doc_id", "old_id").alias("doc_b")))
        cand = cand.unionByName(cross)
    # batch-sized; cut lineage — three consumers (old-id derivation,
    # the verify's doc restriction, the intersection join) would each
    # re-run the band joins otherwise
    cand = cand.distinct().localCheckpoint()

    # verify frame: batch shingles + pruned postings of OLD endpoints
    new_ids = batch_docs.select("doc_id").distinct()
    old_ids = (cand.select(F.explode(F.array("doc_a", "doc_b"))
                           .alias("doc_id")).distinct()
               .join(new_ids, "doc_id", "left_anti"))
    sh = hashes_b
    if post_t.latest_version() is not None and not old_ids.isEmpty():
        kbs = [r[0] for r in old_ids.select(CC._bucket(F.col("doc_id"))
                                            .alias("b"))
               .distinct().collect()]
        sh = sh.unionByName(
            _pruned(spark, post_t, kbs, "doc_id", old_ids)
            .select("doc_id", "h"))
    ver = jaccard_for_pairs(batch_docs, cand, capped=sh)
    return (ver.filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b"), bands_b, hashes_b)


def ingest_batch(root: str, batch_docs: DataFrame, batch_id: int,
                 app_id: str | None = None,
                 threshold: float = 0.5) -> None:
    """One micro-batch of the whole pipeline (see module doc)."""
    spark = batch_docs.sparkSession
    bands_t, post_t = _tables(root)
    assign, remap = CC._tables(root)
    edges, bands_b, hashes_b = batch_edges(spark, root, batch_docs,
                                           threshold)
    try:
        # cut the verify pipeline's lineage before the CC rounds: the
        # edge list is batch-sized, but each two-phase-star round would
        # otherwise re-plan the whole candidate/verify DAG under it
        edges = edges.localCheckpoint()
        cc_batch = (batch_docs.select(
            "doc_id", F.lit(None).cast("long").alias("nbr"))
            .unionByName(edges.select(F.col("doc_a").alias("doc_id"),
                                      F.col("doc_b").alias("nbr"))))
        CC.ingest_batch(assign, remap, cc_batch, batch_id, app_id)

        post_t.append(
            hashes_b.withColumn("__kb", CC._bucket(F.col("doc_id")))
            .repartition(CC.N_BUCKETS, "__kb"),
            {**_stream_meta(batch_id, app_id, "splits_postings_append"),
             "partition_by": "__kb"})
        post_t.checkpoint_if_needed()
        bands_t.append(
            bands_b.withColumn("__sb", _sb(F.col("key")))
            .repartition(N_SB, "__sb"),
            {**_stream_meta(batch_id, app_id, "splits_bands_append"),
             "partition_by": "__sb"})
        bands_t.checkpoint_if_needed()
    finally:
        bands_b.unpersist()
        hashes_b.unpersist()


def write_stream_splits(df: DataFrame, root: str, checkpoint: str,
                        app_id: str | None = None,
                        threshold: float = 0.5,
                        available_now: bool = True):
    """Start the documents→splits maintenance sink over ``df`` (a
    streaming frame with doc_id + text). Read the assignment back with
    :func:`current_splits`."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(root, batch_df, batch_id, app_id, threshold)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def compact_if_needed(spark: SparkSession, root: str,
                      max_live_dirs: int = 32,
                      cc_max_remap_rows: int = 1024) -> dict:
    """Scheduled maintenance for the WHOLE splits pipeline state
    (VERDICT r8 #5): the band/posting index tables grow monotonically
    (one ``__sb``-partitioned dir set per appending micro-batch — the
    small-files cost, NOT a broadcast cost), and the CC pair under the
    same root grows its serve broadcast with merges-since-compaction.
    Bands/postings go through ``TxnTable.compact_if_needed`` — whose
    rewrite is PARTITION-AWARE (``_live_partition_col``), so the
    ``__sb`` pruned reads every ingest depends on survive the fold —
    and the CC pair through ``streaming/cc.compact_if_needed``.
    Returns {"bands": v|None, "postings": v|None, "cc": bool}. Safe to
    run between micro-batches: ingest legs key off (app_id, batch_id)
    stream meta, which a compaction commit never touches; no change
    feed is consumed from these tables (pruned snapshot reads only),
    so the no-CDF-across-rewrite rule does not bite."""
    from . import cc as CC

    bands, postings = _tables(root)
    out = {"bands": None, "postings": None, "cc": False}
    for name, t in (("bands", bands), ("postings", postings)):
        if t.latest_version() is not None:
            out[name] = t.compact_if_needed(
                spark, max_live_dirs=max_live_dirs)
    out["cc"] = CC.compact_if_needed(
        spark, root, max_remap_rows=cc_max_remap_rows,
        max_live_dirs=max_live_dirs)
    return out


def current_splits(spark: SparkSession, root: str) -> DataFrame:
    """(doc_id, cluster_id, split) — the maintained labels through the
    stable md5 bucket of the cluster label (plans/textops
    leakage_safe_splits semantics), one broadcast map-side join."""
    labels = CC.current_labels(spark, root)
    h = F.expr(
        "conv(substr(md5(CAST(cluster_id AS STRING)), 1, 8), 16, 10) "
        "% 100")
    split = (F.when(h < 80, "train").when(h < 90, "val")
             .otherwise("test"))
    return labels.select("doc_id", "cluster_id", split.alias("split"))
