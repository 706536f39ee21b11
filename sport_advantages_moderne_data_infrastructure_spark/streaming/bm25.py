"""Streaming BM25 index maintenance: the postings/df/scalars triple
(plans/textops.bm25_index) kept continuously up to date as documents
arrive — the text-retrieval twin of the streaming ANN index sinks
(annindex.py), completing "every index artifact has a streaming twin".

Per micro-batch (documents arrive WHOLE — a doc never spans batches,
the file/Kafka-source contract the other document streams share):

- postings: tokenize the BATCH only (O(batch) — the corpus is never
  re-tokenized), attach batch-local per-doc lengths, append atomically
  with the (app_id, batch_id) replay guard. The two corpus scalars
  (n_docs, total token length -> avgdl) ACCUMULATE in the commit meta,
  so reading them back is O(1) log inspection, never a corpus scan.
- df: maintained as a bucketed ``AggMaterializedView`` over the
  postings table's change feed — postings rows are distinct per
  (doc_id, tok), so the view's ``cnt`` partial IS the document
  frequency; each batch touches only the affected ``__kb`` buckets
  (O(batch vocabulary), never O(corpus vocabulary)).

Because tokenization is a pure per-doc projection and df/scalars are
associative rollups, the maintained index is row-identical to a batch
rebuild over the same corpus at every point in time — pinned by the
``stream_bm25_index_equiv`` driver row and the restart test
(tests/test_retrieval.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mv import AggMaterializedView, pinned
from ..sources.txnlog import TxnTable, _guarded_commit, _stream_meta
from .pipeline import _start_foreach_batch


def make_df_view(index_root: str, n_buckets: int = 32,
                 ) -> AggMaterializedView:
    """The df side of a maintained index rooted at ``index_root``."""
    return AggMaterializedView(index_root + "/df_view", "tok",
                               value_col="tf", n_buckets=n_buckets)


def ingest_batch(postings: TxnTable, df_view: AggMaterializedView,
                 batch_docs: DataFrame, batch_id: int,
                 app_id: str | None = None) -> None:
    """One micro-batch of index maintenance — the exact function the
    foreachBatch sink runs, exposed so the driver-gated batch twin
    (``stream_bm25_index_equiv``) exercises identical code. Two legs,
    each individually replay-guarded (the join-MV per-leg ledger
    discipline): postings append, then the df view consumes the
    postings change feed up to the version that append produced."""
    from ..operators import retrieval as R

    post = R.postings_frame(batch_docs)
    post.persist()
    try:
        row = (post.select("doc_id", "dl").distinct()
               .agg(F.count(F.lit(1)), F.sum("dl")).first())
        b_docs, b_len = int(row[0]), int(row[1] or 0)

        prev = postings.meta_with("bm25_n_docs")[0]
        meta = _stream_meta(batch_id, app_id, "bm25_postings_append")
        meta["bm25_n_docs"] = prev.get("bm25_n_docs", 0) + b_docs
        meta["bm25_total_len"] = prev.get("bm25_total_len", 0) + b_len
        postings.append(post, meta)
        postings.checkpoint_if_needed()

        # df leg: fold the postings feed into the bucketed view. The
        # change rows since the view's high-water are exactly this
        # batch's inserts (single-writer stream) — on replay the guard
        # skips the commit, on crash-between-legs the next batch's
        # fold covers both.
        df_view.fold(
            batch_docs.sparkSession, postings,
            _stream_meta(batch_id, app_id, "bm25_df_refresh"),
            guard=lambda table, fn: _guarded_commit(
                table, batch_id, app_id, fn))
    finally:
        post.unpersist()


def write_stream_bm25_index(df: DataFrame, index_root: str,
                            checkpoint: str,
                            app_id: str | None = None,
                            n_buckets: int = 32,
                            available_now: bool = True):
    """Start the maintenance sink over ``df`` (a streaming frame with
    doc_id + text). Returns the StreamingQuery; read the index back
    with :func:`read_bm25_index`."""
    postings = TxnTable(index_root + "/postings")
    df_view = make_df_view(index_root, n_buckets)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(postings, df_view, batch_df, batch_id, app_id)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def compact_if_needed(spark: SparkSession, index_root: str,
                      max_live_dirs: int = 32) -> int | None:
    """Scheduled maintenance (the quantiles/splits/CC policy
    discipline): the postings table accretes one dir per appending
    micro-batch; fold it through ``TxnTable.compact_if_needed`` — the
    df view's change-feed fold is unaffected because ``read_changes``
    skips compaction commits as layout-only. Vacuum afterwards with
    ``retain_from_version=<the df view's mv_source_version>`` so the
    pinned :func:`read_bm25_index` stays readable. Returns the
    compaction commit version, or None below the threshold."""
    postings = TxnTable(index_root + "/postings")
    if postings.latest_version() is None:
        return None
    return postings.compact_if_needed(spark,
                                      max_live_dirs=max_live_dirs)


def read_bm25_index(spark: SparkSession, index_root: str,
                    n_buckets: int = 32):
    """(postings, df, n_docs, avgdl) from a maintained index — the same
    quadruple ``plans/textops.bm25_index`` returns for the batch build,
    so ``operators/retrieval.bm25_topk`` serves from either. The
    quadruple is a CONSISTENT snapshot (operators/mv.pinned): the df
    view is read at the commit carrying its fold record, postings
    AT the fold version it records, and the corpus scalars
    come from the postings commit meta at/before it — an ingest
    landing between the serve's reads can never pair fresher postings
    (whose new tokens would be unscored and whose n_docs/avgdl would
    be ahead) with a stale df view. Scalars stay O(1), no corpus
    scan."""
    postings = TxnTable(index_root + "/postings")
    dfv, sv = pinned(spark, make_df_view(index_root, n_buckets).view,
                     "mv_source_version")
    meta, _ = postings.meta_with("bm25_n_docs", version=sv)
    if not meta:
        raise ValueError(f"no bm25 scalars at/before version {sv}")
    n_docs = meta["bm25_n_docs"]
    # same guard as the chunk serve: an empty accumulated corpus is a
    # legal state (the sink skips empty batches, but a caller may read
    # before the first non-empty one lands via the batch-twin path)
    avgdl = (meta["bm25_total_len"] / n_docs) if n_docs else 0.0
    return (postings.read(spark, version=sv),
            dfv.select("tok", F.col("cnt").alias("df")), n_docs, avgdl)
