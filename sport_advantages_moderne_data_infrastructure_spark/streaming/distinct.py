"""Streaming approximate-distinct: an Apache DataSketches HLL sketch
kept continuously up to date as events arrive — the LAST mergeable
sketch in the family to get a streaming twin (IVF r6, IVF-PQ r7, BM25
r8, MG flat+grouped r8/r9, CC labels r8, SemDeDup r8, exact quantiles
flat+grouped r9; HLL r10). HLL sketches are mergeable by
construction, so the persisted sketch is a bounded materialized view
of the event stream: per micro-batch, union the batch's own sketch
partials into the stored binary — O(batch) work, one 2^lg_k-register
binary per group of state, regardless of how much history streamed
through.

Per micro-batch (the foreachBatch sink and the driver-gated batch
twin ``stream_approx_distinct_equiv`` run the SAME ``ingest_batch``):

- events leg: append the batch's (group, value) rows, replay-guarded.
- sketch leg: the shared high-water fold (operators/mv.fold_changes,
  meta key ``hll_source_version``) hands it the events CHANGE FEED
  since the sketch's record; it combines ``hll_sketch_agg`` partials
  with the stored rows through ``hll_union_agg`` and atomically
  overwrites the <= n_groups-row sketch table (a crash between legs
  leaves events ahead, and the next batch's fold covers both).

Serving:

- :func:`approx_distinct_served` — O(1) data touched: the stored
  binaries through ``hll_sketch_estimate``.
- :func:`distinct_contract_served` — the gate's contract shape
  (group, n_exact, within_tol): exact COUNT(DISTINCT) over the
  accumulated events READ AT the sketch's recorded source version
  (operators/mv.pinned — a consistent snapshot under concurrent
  ingest), estimate from the maintained sketch, tolerance flag
  literal-TRUE-able by a relational oracle.

NULL contract: NULL values never enter the sketch (hll_sketch_agg
skips them) and never count in COUNT(DISTINCT) — the two arms agree
by construction; a NULL GROUP is a real group (null-safe join).

Reference context: the reference's only distinct-style question is
dashboard counts over its ``final`` table (README.md:166-169); a
distinct-users/documents panel over a 100 TB event stream needs the
mergeable sketch — the batch contract row (``approx_distinct_contract``,
plans/star.py) pins the accuracy the swap relies on; this module
keeps the same sketch continuously serveable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mv import fold_changes, pinned
from ..sources.txnlog import TxnTable, _guarded_commit, _stream_meta
from .pipeline import _start_foreach_batch

#: default DataSketches lgConfigK (2^12 registers, ~1.6% rse) —
#: recorded per root in the sketch commit meta
LG_K = 12


def _tables(root: str) -> tuple[TxnTable, TxnTable]:
    return TxnTable(root + "/events"), TxnTable(root + "/sketch")


def ingest_batch(events: TxnTable, sketch: TxnTable,
                 batch_df: DataFrame, batch_id: int, col: str,
                 app_id: str | None = None,
                 group_col: str | None = None,
                 lg_k: int = LG_K) -> None:
    """One micro-batch: events append, then sketch fold from the
    events change feed since the sketch's high-water. Both legs
    individually (app_id, batch_id) replay-guarded. ``group_col``
    keeps one sketch per group (the low-cardinality-group contract,
    <= n_groups binary rows of state); omitted = one global sketch."""
    spark = batch_df.sparkSession
    gcols = [group_col] if group_col else []

    events.append(batch_df.select(*gcols, col),
                  _stream_meta(batch_id, app_id, "hll_events_append"))
    events.checkpoint_if_needed()

    def _union(ch: DataFrame, sv: int) -> None:
        ch = (ch.filter(F.col("_change_type") == "insert")
              .filter(F.col(col).isNotNull()))
        fresh = ch.groupBy(*gcols).agg(
            F.expr(f"hll_sketch_agg({col}, {lg_k})").alias("hll"))
        if sketch.latest_version() is not None:
            fresh = fresh.unionByName(sketch.read(spark))
        merged = fresh.groupBy(*gcols).agg(
            F.expr("hll_union_agg(hll, true)").alias("hll"))

        def _sketch_leg():
            meta = _stream_meta(batch_id, app_id, "hll_sketch_union")
            meta["hll_source_version"] = sv
            meta["hll_lg_k"] = lg_k
            sketch.overwrite(merged, meta)

        _guarded_commit(sketch, batch_id, app_id, _sketch_leg)

    fold_changes(spark, events, sketch, "hll_source_version", _union)


def write_stream_approx_distinct(df: DataFrame, root: str,
                                 checkpoint: str, col: str,
                                 app_id: str | None = None,
                                 available_now: bool = True,
                                 group_col: str | None = None,
                                 lg_k: int = LG_K):
    """Start the maintenance sink over ``df``; returns the
    StreamingQuery. Serve with :func:`approx_distinct_served` /
    :func:`distinct_contract_served`."""
    events, sketch = _tables(root)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(events, sketch, batch_df, batch_id, col,
                     app_id, group_col=group_col, lg_k=lg_k)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def compact_if_needed(spark: SparkSession, root: str,
                      max_live_dirs: int = 32) -> int | None:
    """Scheduled maintenance (the quantiles/splits/CC policy
    discipline): the events table accretes one dir per appending
    micro-batch; fold it through ``TxnTable.compact_if_needed`` —
    ``read_changes`` skips compaction commits as layout-only, so the
    sketch leg's fold continues straight across it. Vacuum afterwards
    with ``retain_from_version=<the sketch's hll_source_version>`` so
    the pinned serve stays readable. Returns the compaction commit
    version, or None below the threshold."""
    events, _ = _tables(root)
    if events.latest_version() is None:
        return None
    return events.compact_if_needed(spark, max_live_dirs=max_live_dirs)


def approx_distinct_served(spark: SparkSession, root: str,
                           group_col: str | None = None) -> DataFrame:
    """(group?, n_approx) from the maintained binaries — O(1) data
    touched, never a scan of the accumulated events."""
    sketch_df, _ = pinned(spark, _tables(root)[1], "hll_source_version")
    gcols = [group_col] if group_col else []
    return sketch_df.select(
        *gcols,
        F.expr("hll_sketch_estimate(hll)").cast("bigint")
        .alias("n_approx"))


def distinct_contract_served(spark: SparkSession, root: str, col: str,
                             group_col: str | None = None,
                             tol: float = 0.03) -> DataFrame:
    """(group?, n_exact, within_<tol>) — the checkable contract shape
    of the batch ``approx_distinct_contract`` row, served through the
    MAINTAINED sketch: exact COUNT(DISTINCT col) per group over the
    pinned events snapshot, the flag TRUE iff the sketch estimate
    landed within ``tol`` of it (0-exact groups require a 0 estimate).
    Groups come from the exact arm (left join), so a group whose
    values were all NULL still appears with n_exact = 0."""
    events, sketch = _tables(root)
    sketch_df, sv = pinned(spark, sketch, "hll_source_version")
    events_df = events.read(spark, version=sv)
    gcols = [group_col] if group_col else []
    exact = events_df.groupBy(*gcols).agg(
        F.countDistinct(col).cast("bigint").alias("n_exact"))
    est = sketch_df.select(
        *[F.col(g).alias(f"__g_{g}") for g in gcols],
        F.expr("hll_sketch_estimate(hll)").alias("n_approx"))
    if gcols:
        g = gcols[0]
        joined = exact.join(
            F.broadcast(est),
            F.col(g).eqNullSafe(F.col(f"__g_{g}")), "left")
    else:
        joined = exact.join(F.broadcast(est), F.lit(True), "left")
    n_app = F.coalesce(F.col("n_approx"), F.lit(0.0))
    within = F.when(F.col("n_exact") > 0,
                    (F.abs(n_app - F.col("n_exact"))
                     / F.col("n_exact")) <= tol
                    ).otherwise(n_app == 0)
    return joined.select(
        *gcols, "n_exact",
        within.alias(f"within_{int(tol * 100)}pct"))
