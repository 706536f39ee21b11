"""Continuously-maintained materialized view: the batch refresh of
``operators/mv.py`` turned into a Structured Streaming job over the
``format("txnlog")`` change-feed source.

The composition is the point: the CDF stream delivers row-level changes
(inserts, update pre/postimages, deletes with ``_commit_version``)
exactly-once via version offsets, ``agg_delta_from_changes`` turns each
micro-batch into signed per-group deltas, and the view txn table
absorbs them as one guarded atomic commit per batch. The view is never
more than one trigger behind the source, each trigger costs O(changed
rows) + O(groups), and a crash replays only unapplied batches (the
(app_id, batch_id) guard skips applied ones — the same exactly-once
contract as every other sink in this package).

A full overwrite or compaction on the source has no row-level delta;
the CDF source fails the stream there by design (Delta's rule) —
restart the view from a batch ``maintain_agg_view`` resync, then resume
streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.mv import apply_delta
from ..sources.txnlog import (
    TxnTable,
    _guarded_commit,
    _stream_meta,
    agg_delta_from_changes,
)
from .pipeline import _start_foreach_batch


def write_stream_agg_view(spark: SparkSession, source_path: str,
                          view_path: str, checkpoint: str,
                          group_cols: list[str], value_col: str,
                          app_id: str | None = None,
                          available_now: bool = True,
                          capture_changes: bool = False):
    """Start the view-maintenance stream; returns the StreamingQuery.
    Read the view with ``operators.mv.read_agg_view``.
    ``capture_changes``: every per-batch commit carries changed-groups
    change files (the batch ``maintain_agg_view`` contract), so a
    downstream view — e.g. the composed pipeline's LEFT-join MV — can
    follow the streamed aggregate incrementally."""
    from ..operators.mv import agg_view_changes
    from ..sources.txnstream import TxnLogDataSource

    spark.dataSource.register(TxnLogDataSource)
    feed = (spark.readStream.format("txnlog")
            .option("readChangeFeed", "true").load(source_path))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            view = TxnTable(view_path)
            delta = agg_delta_from_changes(batch_df, group_cols, value_col)

            def _leg():
                new = apply_delta(spark, view, delta, group_cols)
                ch = (agg_view_changes(spark, view, delta, group_cols,
                                       new)
                      if capture_changes else None)
                view.overwrite(
                    new,
                    _stream_meta(batch_id, app_id, "mv_stream_refresh"),
                    changes=ch)

            _guarded_commit(view, batch_id, app_id, _leg)
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(feed, _apply, checkpoint, available_now)


def write_stream_map_view(spark: SparkSession, source_path: str,
                          mmv, checkpoint: str,
                          app_id: str | None = None,
                          available_now: bool = True):
    """Projection-view maintenance as a stream: the batch refresh of
    ``operators/mv.MapMaterializedView`` over the source's
    ``format("txnlog")`` change feed — each micro-batch's change rows
    are projected sign-by-sign and applied by net count to the
    affected ``__kb`` buckets, one replay-guarded commit per batch.
    With this, EVERY layer of the composed reference DAG
    (plans/core.build_final_pipeline) has a streaming twin: join MV
    (joinmv.py), agg MV (above), and the flagship prime projection
    (here). ``mmv`` is a constructed MapMaterializedView (its map_fn
    is the projection); read the view with ``mmv.read``. Do not mix
    with batch ``mmv.refresh`` on the same view: the stream's
    bookkeeping is the (app_id, batch_id) ledger, not
    ``mv_source_version``."""
    from ..sources.txnstream import TxnLogDataSource

    spark.dataSource.register(TxnLogDataSource)
    feed = (spark.readStream.format("txnlog")
            .option("readChangeFeed", "true").load(source_path))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            mmv.apply_change_batch(
                spark, batch_df,
                _stream_meta(batch_id, app_id, "map_mv_stream_refresh"),
                guard=lambda table, fn: _guarded_commit(
                    table, batch_id, app_id, fn))
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(feed, _apply, checkpoint, available_now)


def write_stream_bucketed_agg_view(spark: SparkSession,
                                   source_path: str, aggmv,
                                   checkpoint: str,
                                   app_id: str | None = None,
                                   available_now: bool = True):
    """Streaming maintenance of the BUCKETED agg view
    (``operators/mv.AggMaterializedView`` — for aggregates whose group
    count scales with the corpus): each micro-batch's change rows
    become a signed per-group delta applied to ONLY the affected
    ``__kb`` buckets, one replay-guarded commit per batch. Read with
    ``aggmv.read``. Do not mix with batch ``aggmv.refresh`` on the
    same view (ledger vs ``mv_source_version`` bookkeeping)."""
    from ..sources.txnstream import TxnLogDataSource

    spark.dataSource.register(TxnLogDataSource)
    feed = (spark.readStream.format("txnlog")
            .option("readChangeFeed", "true").load(source_path))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            aggmv.apply_change_batch(
                spark, batch_df,
                _stream_meta(batch_id, app_id, "agg_mv_stream_refresh"),
                guard=lambda table, fn: _guarded_commit(
                    table, batch_id, app_id, fn))
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(feed, _apply, checkpoint, available_now)
