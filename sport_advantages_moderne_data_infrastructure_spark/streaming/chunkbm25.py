"""CDF-driven maintenance of the CHUNK-granular BM25 index: the
hybrid_chunk_search artifacts (plans/textops.chunk_bm25_index — chunk
postings, chunk-df, the two corpus scalars) kept continuously up to
date from a DOCUMENTS TxnTable's change feed. Where the doc-level
maintainer (streaming/bm25.py) is append-only by contract (docs arrive
whole on a stream), this one follows the governed documents TABLE —
inserts, UPDATEs and DELETEs all flow through, so a doc edited or
retracted after ingestion disappears from retrieval at the next
refresh instead of serving stale passages forever.

Composition is the point — no new maintenance machinery:

- ``cpost`` is a :class:`~..operators.mv.MapMaterializedView` keyed by
  ``doc_id`` whose map_fn is the chunk-postings projection
  (``operators/retrieval.chunk_postings_frame``). The projection is a
  deterministic per-doc 1:N expansion, which is exactly what the map
  MV's net-count application needs: a delete/update_preimage row
  regenerates bit-identically the posting rows its insert produced, so
  the multiset difference removes them. Refresh cost is O(changed docs
  x chunk width + touched doc-buckets), never O(corpus).
- ``cdf`` (chunk frequency per token) is an
  :class:`~..operators.mv.AggMaterializedView` STACKED on cpost's own
  change feed (``capture_changes=True``): cpost rows are distinct per
  (doc_id, pos, tok), so the view's ``cnt`` partial IS the chunk
  frequency; the cancelling delete+insert pairs a bucket replace emits
  for unchanged rows net to zero in the signed fold.
- the two corpus scalars (n_chunks, total token length -> avgdl)
  ACCUMULATE in cpost's commit meta with SIGNED deltas computed from
  the projected batch (a delete decrements), so reading them back is
  O(1) log inspection — never a corpus scan — even under churn.

Serving (:func:`read_chunk_bm25_index`) is version-PINNED (the r10
discipline shared with streaming/{bm25,sketches,quantiles}.py): chunk
postings and scalars are read AT the cdf view's recorded fold version,
so a refresh landing between the serve's reads can never pair fresher
postings (whose new tokens would be df-less) with a stale df view.

The maintained triple is row-identical to a batch rebuild over the
documents table's CURRENT state at every refresh point — pinned by the
``stream_chunk_bm25_equiv`` driver row (insert + update + delete
history folding back to the pristine corpus) and the restart/replay
tests (tests/test_retrieval.py).

Reference context: the reference rebuilds derived tables wholesale on
a schedule (read_delta.py:219-222 overwriteSchema full refresh); this
is the incremental form of that refresh for the retrieval index case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mv import (AggMaterializedView, MapMaterializedView,
                            pinned)
from ..operators.retrieval import chunk_postings_frame
from ..sources.txnlog import TxnTable, _guarded_commit, _stream_meta
from .pipeline import _start_change_feed


class ChunkPostingsView(MapMaterializedView):
    """The cpost map MV plus O(1) corpus scalars: overrides
    ``apply_change_batch`` to fold SIGNED (n_chunks, total_len) deltas
    into the same guarded commit the bucket replace makes — one extra
    bounded aggregation over the batch-sized projected frame, zero
    extra commits, and replay skips the accumulation together with the
    write (the delta rides inside the guarded leg's meta)."""

    def apply_change_batch(self, spark: SparkSession, ch: DataFrame,
                           meta: dict, guard=None) -> list[int]:
        run = guard if guard is not None else (lambda table, fn: fn())
        ch = ch.drop("_commit_version", "__kb")
        ct = F.col("_change_type")

        # project PER PHYSICAL ROW: a synthetic row uid rides through
        # the chunk rollups so two copies of the same doc on one side
        # (insert + same-text update in a multi-commit window) yield
        # two copies of its posting rows — never one copy with doubled
        # tf. Uid VALUES are recompute-unstable but only their per-row
        # distinctness is used, and they are dropped before the
        # net-count application.
        def _side(pred, tag):
            rows = (ch.filter(pred).drop("_change_type")
                    .withColumn("__rid",
                                F.monotonically_increasing_id()))
            return (chunk_postings_frame(rows, extra_keys=("__rid",))
                    .withColumn("_change_type", F.lit(tag)))

        projected = (_side(ct.isin("insert", "update_postimage"),
                           "insert")
                     .unionByName(
                         _side(ct.isin("delete", "update_preimage"),
                               "delete")))
        projected.persist()
        try:
            affected = self._affected(projected)
            if not affected():
                return []
            # signed scalar deltas, ONE chunks-per-row-copy job: an
            # updated doc contributes (+post chunks, -pre chunks); an
            # unchanged chunk appears on both sides and cancels
            sgn = (F.when(F.col("_change_type") == "insert", F.lit(1))
                   .otherwise(F.lit(-1)))
            d = (projected
                 .select("doc_id", "__rid", "pos", "dl",
                         "_change_type")
                 .distinct()
                 .agg(F.coalesce(F.sum(sgn), F.lit(0)),
                      F.coalesce(F.sum(sgn * F.col("dl")), F.lit(0)))
                 .first())
            d_chunks, d_len = int(d[0]), int(d[1])
            applied = projected.drop("__rid")

            def _leg():
                prev = self.view.meta_with("cbm25_n_chunks")[0]
                m = {**meta,
                     "cbm25_n_chunks":
                         prev.get("cbm25_n_chunks", 0) + d_chunks,
                     "cbm25_total_len":
                         prev.get("cbm25_total_len", 0) + d_len}
                self._apply_side(spark, self.view, applied,
                                 affected, m)

            run(self.view, _leg)
            return affected()
        finally:
            projected.unpersist()


def make_chunk_views(index_root: str, n_buckets: int = 32
                     ) -> tuple[ChunkPostingsView, AggMaterializedView]:
    """(cpost, cdf) of a maintained chunk index rooted at
    ``index_root`` — cpost bucketed by doc_id (all of a doc's postings
    rewrite together), cdf bucketed by token, stacked on cpost's
    change feed."""
    cpost = ChunkPostingsView(index_root + "/cpost", "doc_id",
                              chunk_postings_frame,
                              n_buckets=n_buckets,
                              capture_changes=True)
    cdf = AggMaterializedView(index_root + "/cdf", "tok",
                              value_col="tf", n_buckets=n_buckets)
    return cpost, cdf


def refresh_chunk_index(spark: SparkSession, docs: TxnTable,
                        index_root: str, batch_id: int | None = None,
                        app_id: str | None = None,
                        n_buckets: int = 32) -> int:
    """One incremental refresh: fold the documents table's change rows
    since the last refresh through the cpost projection, then fold
    cpost's own change feed into the cdf view — two guarded legs (the
    join-MV per-leg ledger discipline; a crash between them is healed
    by the next refresh's cdf leg covering both cpost commits).
    Returns the docs version now reflected. The exact function the
    foreachBatch sink runs, exposed so the driver-gated batch twin
    (``stream_chunk_bm25_equiv``) exercises identical code."""
    cpost, cdfv = make_chunk_views(index_root, n_buckets)
    guard = (None if batch_id is None
             else lambda table, fn: _guarded_commit(table, batch_id,
                                                    app_id, fn))
    sv = cpost.fold(
        spark, docs,
        _stream_meta(batch_id, app_id, "chunk_postings_refresh"),
        guard=guard)
    if cpost.view.latest_version() is not None:
        cdfv.fold(spark, cpost.view,
                  _stream_meta(batch_id, app_id, "chunk_df_refresh"),
                  guard=guard)
    return sv


def write_stream_chunk_bm25_index(spark: SparkSession, docs_path: str,
                                  index_root: str, checkpoint: str,
                                  app_id: str | None = None,
                                  n_buckets: int = 32,
                                  available_now: bool = True):
    """Start the maintenance stream over the documents table's change
    feed (``pipeline._start_change_feed``: a native file stream over
    the table's commit docs wakes it) — each trigger is one
    :func:`refresh_chunk_index` guarded by the (app_id, batch_id)
    ledger, which folds from the index's own recorded version. Returns
    the StreamingQuery; read the index back with
    :func:`read_chunk_bm25_index`."""
    docs = TxnTable(docs_path)

    def _apply(changes: dict, batch_id: int) -> None:
        # the trigger only signals that docs has new versions: fold via
        # the table's own read_changes bracketed by mv_source_version
        # bookkeeping so batch and streaming refreshes share one code
        # path (``changes`` is a plan only; its rows are never read)
        refresh_chunk_index(spark, docs, index_root, batch_id, app_id,
                            n_buckets)

    return _start_change_feed(spark, [docs_path], _apply, checkpoint,
                              available_now)


def read_chunk_bm25_index(spark: SparkSession, index_root: str,
                          n_buckets: int = 32):
    """(ctf, cdl, cdf, n_chunks, avgdl) from a maintained chunk index
    — the same quintuple ``plans/textops.chunk_bm25_index`` returns
    for the batch build, so the hybrid_chunk_search scoring serves
    from either. CONSISTENT snapshot: postings (and the meta scalars)
    are read AT the cdf view's recorded fold version; scalars are O(1)
    commit-meta reads at/before that version, never a corpus scan."""
    cpost, cdfv = make_chunk_views(index_root, n_buckets)
    cdf, sv = pinned(spark, cdfv.view, "mv_source_version")
    meta, _ = cpost.view.meta_with("cbm25_n_chunks", version=sv)
    if not meta:
        raise ValueError(f"no chunk scalars at/before version {sv}")
    n_chunks = meta["cbm25_n_chunks"]
    # a fully-retracted corpus is a legal maintained state (every doc
    # deleted): serve 0 chunks with a neutral avgdl instead of 1/0
    avgdl = (meta["cbm25_total_len"] / n_chunks) if n_chunks else 0.0
    ctf = (cpost.view.read(spark, version=sv).drop("__kb"))
    cdl = ctf.select("doc_id", "pos", "dl").distinct()
    return (ctf.select("doc_id", "pos", "tok", "tf", "dl"), cdl,
            cdf.select("tok", F.col("cnt").alias("df")),
            int(n_chunks), float(avgdl))


def checkpoint_if_needed(index_root: str,
                         interval: int = 10) -> tuple[int | None,
                                                      int | None]:
    """Scheduled maintenance. Unlike the append-accreting event tables
    (quantiles/splits/CC), cpost's bucket-REPLACE layout keeps live
    dirs <= n_buckets forever — what accretes is the LOG (one commit
    per refresh per view), so the policy here is checkpointing (bounds
    log replay), not compaction (nothing to bin-pack). Vacuum with
    ``retain_from_version=<the cdf view's mv_source_version>`` so the
    pinned serve stays readable. Returns the (cpost, cdf) checkpoint
    versions (None where below the interval)."""
    cpost, cdfv = make_chunk_views(index_root)
    return tuple(t.checkpoint_if_needed(interval=interval)
                 for t in (cpost.view, cdfv.view))
