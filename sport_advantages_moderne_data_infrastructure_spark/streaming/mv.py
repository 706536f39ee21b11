"""Continuously-maintained materialized views: the batch refreshes of
``operators/mv.py`` turned into Structured Streaming jobs over a source
table's change feed. Two starters: one for the plain agg view
(``write_stream_agg_view``, the twin of
``maintain_agg_view``) and one for the single-source bucketed views
(``write_stream_bucketed_view``, the twin of ``MapMaterializedView`` /
``AggMaterializedView.refresh``); the join view's twin is
streaming/joinmv.py.

The composition is the point: both start from
``pipeline._start_change_feed``, whose native file stream over the
source's commit docs only wakes the sink (``numInputRows`` counts new
commit docs, not change rows) and which pins each batch's log-version
range in the checkpoint; the foreachBatch reads the range's row-level
changes (inserts, update pre/postimages, deletes with
``_commit_version``) with ``TxnTable.read_changes`` — Spark's parquet
reader — each micro-batch becomes a signed delta, and the view txn
table absorbs it as one guarded atomic commit per batch (an empty
bucketed view is built whole from the first batch's net rows). The
view is never more than one trigger behind the source, each trigger
costs O(changed rows) + O(touched view), and a crash replays only
unapplied batches over the same pinned version ranges (the (app_id,
batch_id) guard skips applied ones — the same exactly-once contract as
every other sink in this package).

A full overwrite on the source has no row-level delta;
``read_changes`` fails the stream there by design (Delta's rule) —
restart the view from a batch resync (``maintain_agg_view`` /
``refresh``), then resume streaming. Compaction is layout-only and
streams through.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.mv import apply_delta
from ..sources.txnlog import (
    TxnTable,
    _guarded_commit,
    _stream_meta,
    agg_delta_from_changes,
)
from .pipeline import _start_change_feed


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

    def _apply(changes: dict, batch_id: int) -> None:
        batch_df = changes[source_path].persist()
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

    return _start_change_feed(spark, [source_path], _apply, checkpoint,
                              available_now)


def write_stream_bucketed_view(spark: SparkSession, source_path: str,
                               mv, checkpoint: str,
                               app_id: str | None = None,
                               available_now: bool = True):
    """Streaming maintenance of a single-source bucketed view — a
    constructed ``operators/mv.MapMaterializedView`` (e.g. the
    flagship prime projection) or ``AggMaterializedView`` (aggregates
    whose group count scales with the corpus): each micro-batch of the
    source's change feed goes through
    ``mv.apply_change_batch``, which replaces only the affected
    ``__kb`` buckets, one replay-guarded commit per batch. Read the
    view with ``mv.read``. Do not mix with batch ``mv.refresh`` on the
    same view: the stream's bookkeeping is the (app_id, batch_id)
    ledger, not ``mv_source_version``."""

    def _apply(changes: dict, batch_id: int) -> None:
        batch_df = changes[source_path].persist()
        try:
            mv.apply_change_batch(
                spark, batch_df,
                _stream_meta(batch_id, app_id,
                             f"{mv.NAME}_stream_refresh"),
                guard=lambda table, fn: _guarded_commit(
                    table, batch_id, app_id, fn))
        finally:
            batch_df.unpersist()

    return _start_change_feed(spark, [source_path], _apply, checkpoint,
                              available_now)
