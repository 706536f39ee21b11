"""Continuously-maintained JOIN materialized view: the batch refresh of
``operators/mv.JoinMaterializedView`` turned into ONE Structured
Streaming job over BOTH sources' change feeds.

The reference rebuilds its ``final`` JOIN table wholesale every DAG run
(airflow/config/read_delta.py:280-285); the streaming form keeps it
never more than one trigger behind either source. The query starts
from ``pipeline._start_change_feed``: a native file stream over both
tables' commit docs wakes it (``numInputRows`` counts new commit docs,
not change rows) and each batch pins a log-version range per side in
the one checkpoint. The foreachBatch reads each moved side's range
with ``TxnTable.read_changes`` (Spark's parquet reader), tags,
schema-conforms and unions the two sides' change rows, and applies
them through the exact batch core
(``JoinMaterializedView.apply_change_batch``): net-row-count delta to
each side's keyed replica, then a re-join of ONLY the affected
``__kb=`` buckets. Per trigger cost is O(batch + changed buckets),
never O(join). The first batch builds the empty replicas and view in
one commit each, from the batch's net rows.

Exactly-once: each of the three commits a batch makes (left state,
right state, view) is individually guarded by the (app_id, batch_id)
ledger — a crash between legs replays only the unapplied legs over the
same pinned version ranges, and the legs recompute from current state
so replay is idempotent. A full overwrite on either source has no
row-level delta; ``read_changes`` fails the stream there by design
(Delta's rule) — restart from a batch ``JoinMaterializedView.refresh``
resync (which detects the non-row-wise history and rebuilds), then
resume streaming. Compaction is layout-only and streams through.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mv import JoinMaterializedView
from ..sources.txnlog import TxnTable, _guarded_commit, _stream_meta
from .pipeline import _start_change_feed

#: the union tag column; change-feed frames never carry it
_SIDE = "__side"


def _conform(feed: DataFrame, side: str, keys: list,
             own: list, other: list) -> DataFrame:
    """Tag one source's change rows and pad them to the union schema:
    the (possibly composite) key, every source's value columns (the
    other sources' as typed NULLs), ``_change_type``, tag. Value-column
    names must be distinct between the sources (the
    JoinMaterializedView contract)."""
    pads = [F.lit(None).cast(f.dataType).alias(f.name) for f in other]
    return feed.select(
        *[F.col(k) for k in keys],
        *[F.col(f.name) for f in own], *pads,
        F.col("_change_type"), F.lit(side).alias(_SIDE))


def _union_changes(changes: dict, feeds: list, keys: list) -> DataFrame:
    """One tagged frame over the change rows of the sources that moved:
    ``feeds`` lists ``(path, side, own fields, other fields)``."""
    return reduce(DataFrame.unionByName, [
        _conform(changes[path], side, keys, own, other)
        for path, side, own, other in feeds if path in changes])


def apply_join_mv_stream_batch(spark: SparkSession,
                               jmv: JoinMaterializedView,
                               batch_df: DataFrame, batch_id: int,
                               app_id: str | None,
                               lcols: list, rcols: list) -> None:
    """The foreachBatch body, callable directly (the twin the driver
    gate exercises): split the unioned micro-batch back into per-side
    change frames and run the shared batch core with every commit leg
    replay-guarded."""
    lch = (batch_df.filter(F.col(_SIDE) == "l")
           .select(*jmv.keys, *lcols, "_change_type"))
    rch = (batch_df.filter(F.col(_SIDE) == "r")
           .select(*jmv.keys, *rcols, "_change_type"))
    jmv.apply_change_batch(
        spark, lch, rch,
        _stream_meta(batch_id, app_id, "join_mv_stream_refresh"),
        guard=lambda table, fn: _guarded_commit(table, batch_id,
                                                app_id, fn))


def write_stream_join_mv(spark: SparkSession, left_path: str,
                         right_path: str, jmv: JoinMaterializedView,
                         checkpoint: str, app_id: str | None = None,
                         available_now: bool = True):
    """Start the join-view maintenance stream; returns the
    StreamingQuery. Read the view with ``jmv.read``. Do not mix with
    batch ``jmv.refresh`` on the same view: the stream's bookkeeping
    is the (app_id, batch_id) ledger, not ``mv_left_version``. A view
    that ``refresh`` built in place (from sources bucketed like it)
    has no replicas, and its first batch raises ``ValueError``."""
    keys = jmv.keys
    # "__kb" excluded: a source that is itself a maintained bucketed
    # view carries its bucket column — physical layout, not data
    lf = [f for f in TxnTable(left_path).read(spark).schema.fields
          if f.name not in keys and f.name != "__kb"]
    rf = [f for f in TxnTable(right_path).read(spark).schema.fields
          if f.name not in keys and f.name != "__kb"]
    clash = {f.name for f in lf} & {f.name for f in rf}
    if clash:
        raise ValueError(f"value columns must be distinct: {clash}")

    lcols, rcols = [f.name for f in lf], [f.name for f in rf]

    def _apply(changes: dict, batch_id: int) -> None:
        batch_df = _union_changes(
            changes, [(left_path, "l", lf, rf), (right_path, "r", rf, lf)],
            keys)
        batch_df.persist()
        try:
            apply_join_mv_stream_batch(spark, jmv, batch_df, batch_id,
                                       app_id, lcols, rcols)
        finally:
            batch_df.unpersist()

    return _start_change_feed(spark, [left_path, right_path], _apply,
                              checkpoint, available_now)
