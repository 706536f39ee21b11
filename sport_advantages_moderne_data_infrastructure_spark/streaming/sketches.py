"""Streaming Misra-Gries maintenance: the heavy-hitter sketch kept
continuously up to date as events arrive — the frequency-sketch twin
of the streaming index sinks (annindex.py IVF r6 / IVF-PQ r7, bm25.py
r8), extending "every index artifact has a streaming twin" to sketch
artifacts. MG summaries are mergeable (Agarwal et al. 2012), so the
persisted sketch is just a bounded materialized view of the event
stream: per micro-batch, merge the batch's own MG sketch into the
stored counters and truncate back to k — O(batch) work, <= k rows of
state, regardless of how much history has streamed through.

Per micro-batch (the foreachBatch sink and the driver-gated batch twin
``stream_heavy_hitters_equiv`` run the SAME ``ingest_batch``):

- events leg: append the batch's key column to the events table,
  replay-guarded; the running row count ACCUMULATES in commit meta
  (``mg_n_rows``), so the sketch-only serving path gets n in O(1).
- sketch leg: the shared high-water fold (operators/mv.fold_changes,
  meta key ``mg_source_version``) hands it the events CHANGE FEED
  since the sketch's record; it merges that into the stored sketch
  (batch MG sketch -> pointwise sum -> one truncation) and atomically
  overwrites the <= k-row sketch table. Reading the feed (not the
  batch frame) heals a crash between legs: the events table is left
  ahead, and the next batch's feed covers both batches.

Serving:

- :func:`heavy_hitters_served` — EXACT: the stored sketch proposes
  candidates, one bounded aggregation over the accumulated events —
  read at the sketch's recorded source version (operators/mv.pinned)
  — counts them exactly (operators/sketches.exact_pass). Row-identical
  to the batch two-pass at every point in time (the gate's contract).
- :func:`sketch_estimates` — APPROXIMATE, O(1) data touched: the
  stored counters themselves, each within [true - n/(k+1), true]
  by the mergeability bound (pinned in tests/test_sketches.py).

Reference context: the reference's only streaming aggregate is a
console row counter (spark/SaveDelta.scala:104-163); this is the
SURVEY §2 extension class — frequency analytics a 100 TB event
stream needs without a full key-column shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mv import fold_changes, pinned
from ..operators.sketches import (exact_pass, grouped_exact_pass,
                                  grouped_mg_merge, grouped_mg_partial,
                                  mg_merge, mg_partial)
from ..sources.txnlog import TxnTable, _guarded_commit, _stream_meta
from .pipeline import _start_foreach_batch


def _tables(root: str) -> tuple[TxnTable, TxnTable]:
    return TxnTable(root + "/events"), TxnTable(root + "/sketch")


def ingest_batch(events: TxnTable, sketch: TxnTable,
                 batch_df: DataFrame, batch_id: int, col: str, k: int,
                 app_id: str | None = None) -> None:
    """One micro-batch of sketch maintenance (see module doc). Two
    legs, each individually (app_id, batch_id) replay-guarded."""
    spark = batch_df.sparkSession

    meta = _stream_meta(batch_id, app_id, "mg_events_append")
    meta["mg_n_rows"] = (events.meta_with("mg_n_rows")[0]
                         .get("mg_n_rows", 0) + batch_df.count())
    events.append(batch_df.select(col), meta)
    events.checkpoint_if_needed()
    _fold_sketch(spark, events, sketch, batch_id, app_id,
                 "mg_sketch_merge", k,
                 lambda ch: mg_partial(ch.select(col), col, k),
                 lambda df: mg_merge(df, col, k))


def _fold_sketch(spark: SparkSession, events: TxnTable,
                 sketch: TxnTable, batch_id: int, app_id: str | None,
                 operation: str, k: int, partial, merge) -> None:
    """The sketch leg of both MG sinks: fold the events feed since the
    sketch's ``mg_source_version`` — ``partial`` sketches its inserts,
    ``merge`` combines them with the stored counters — into one guarded
    overwrite. On replay the guard skips; a crash between legs is
    healed by the next batch's fold."""
    def _merge(ch: DataFrame, sv: int) -> None:
        fresh = partial(ch.filter(F.col("_change_type") == "insert"))
        if sketch.latest_version() is not None:
            fresh = fresh.unionByName(sketch.read(spark))
        merged = merge(fresh)

        def _sketch_leg():
            meta = _stream_meta(batch_id, app_id, operation)
            meta["mg_source_version"] = sv
            meta["mg_k"] = k
            sketch.overwrite(merged, meta)

        _guarded_commit(sketch, batch_id, app_id, _sketch_leg)

    fold_changes(spark, events, sketch, "mg_source_version", _merge)


def ingest_batch_grouped(events: TxnTable, sketch: TxnTable,
                         batch_df: DataFrame, batch_id: int,
                         group_col: str, col: str, k: int,
                         app_id: str | None = None) -> None:
    """Grouped micro-batch maintenance — :func:`ingest_batch` with one
    k-counter sketch PER GROUP (the streaming twin of
    grouped_heavy_hitters_exact, pairing with the grouped quantile
    twin): events leg appends (group, value), sketch leg folds the
    feed since its high-water through grouped_mg_partial +
    grouped_mg_merge. State is <= n_groups x k rows (the
    low-cardinality-group contract); both legs replay-guarded with
    the same crash-between-legs feed coverage as the flat path."""
    spark = batch_df.sparkSession

    events.append(batch_df.select(group_col, col),
                  _stream_meta(batch_id, app_id, "gmg_events_append"))
    events.checkpoint_if_needed()
    _fold_sketch(spark, events, sketch, batch_id, app_id,
                 "gmg_sketch_merge", k,
                 lambda ch: grouped_mg_partial(ch.select(group_col, col),
                                               group_col, col, k),
                 lambda df: grouped_mg_merge(df, group_col, col, k))


def write_stream_grouped_mg_sketch(df: DataFrame, root: str,
                                   checkpoint: str, group_col: str,
                                   col: str, phi: float,
                                   app_id: str | None = None,
                                   available_now: bool = True):
    """Start the grouped maintenance sink; serve with
    :func:`grouped_heavy_hitters_served`."""
    events, sketch = _tables(root)
    k = math.ceil(1.0 / phi)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_grouped(events, sketch, batch_df, batch_id,
                             group_col, col, k, app_id)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def compact_if_needed(spark: SparkSession, root: str,
                      max_live_dirs: int = 32) -> int | None:
    """Scheduled maintenance (the quantiles/splits/CC policy
    discipline): the events table accretes one dir per appending
    micro-batch; fold it through ``TxnTable.compact_if_needed`` — the
    sketch leg's change-feed fold is unaffected because
    ``read_changes`` skips compaction commits as layout-only, so
    ingest continues straight across a fold. The <= k-row (or
    <= n_groups x k) sketch table never needs it. Vacuum afterwards
    with ``retain_from_version=<the sketch's mg_source_version>`` so
    the pinned serve stays readable. Returns the compaction commit
    version, or None below the threshold."""
    events, _ = _tables(root)
    if events.latest_version() is None:
        return None
    return events.compact_if_needed(spark, max_live_dirs=max_live_dirs)


def grouped_heavy_hitters_served(spark: SparkSession, root: str,
                                 group_col: str, col: str,
                                 phi: float) -> DataFrame:
    """EXACT per-group heavy hitters from a maintained grouped-sketch
    root: the stored <= n_groups x k sketch proposes, one bounded
    grouped aggregation over the accumulated events — read at the
    sketch's recorded source version (operators/mv.pinned) — counts
    exactly. Returns (group_col, col, cnt, share)."""
    events, sketch = _tables(root)
    sketch_df, sv = pinned(spark, sketch, "mg_source_version")
    return grouped_exact_pass(events.read(spark, version=sv), sketch_df,
                              group_col, col, phi)


def write_stream_mg_sketch(df: DataFrame, root: str, checkpoint: str,
                           col: str, phi: float,
                           app_id: str | None = None,
                           available_now: bool = True):
    """Start the maintenance sink over ``df`` (a streaming frame
    containing ``col``). k = ceil(1/phi) counters. Returns the
    StreamingQuery; serve with :func:`heavy_hitters_served`."""
    events, sketch = _tables(root)
    k = math.ceil(1.0 / phi)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(events, sketch, batch_df, batch_id, col, k,
                     app_id)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def heavy_hitters_served(spark: SparkSession, root: str, col: str,
                         phi: float) -> DataFrame:
    """EXACT heavy hitters from a maintained sketch root: the stored
    <= k-row sketch proposes, one bounded aggregation over the
    accumulated events — read at the sketch's recorded source version
    (operators/mv.pinned) — counts exactly. Returns (col, cnt, share).
    Pinned, because a stale sketch counted against fresher events can
    MISS a just-arrived heavy hitter, breaking the candidate-superset
    guarantee the exact pass rests on."""
    events, sketch = _tables(root)
    sketch_df, sv = pinned(spark, sketch, "mg_source_version")
    return exact_pass(events.read(spark, version=sv), sketch_df, col, phi)


def sketch_estimates(spark: SparkSession, root: str) -> tuple[DataFrame, int]:
    """(stored sketch frame, accumulated n) — the O(1) approximate
    serving path: weights are within [true - n/(k+1), true]; n comes
    from the events commit meta AT the sketch's recorded source
    version (not latest — the error bound pairs each counter with the
    n it was folded against), never a scan."""
    events, sketch = _tables(root)
    sketch_df, sv = pinned(spark, sketch, "mg_source_version")
    meta, _ = events.meta_with("mg_n_rows", version=sv)
    if not meta:
        raise ValueError(f"no mg_n_rows recorded at/before version {sv}")
    return sketch_df, int(meta["mg_n_rows"])
