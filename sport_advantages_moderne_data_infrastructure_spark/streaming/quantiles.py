"""Streaming EXACT quantiles: the order-statistic surface kept
continuously serveable as values arrive — the quantile twin of the
streaming MG sketch (sketches.py), completing "every sketch artifact
has a streaming twin" for the whole sketch family (IVF r6, IVF-PQ r7,
BM25 r8, MG r8, CC labels r8, SemDeDup r8, quantiles r9).

The batch operator (operators/sketches.exact_quantiles) needs
bracketing rounds because it must DISCOVER a rank-k bracket with an
advisory sketch. A maintained table can do better: maintain the
bracket index itself —

- ``vals``: the raw values, PARTITION-PRUNED by a frozen value-grid
  bucket ``__vb`` (equi-width over a declared [lo, hi) domain plus
  under/overflow buckets — the frozen-centroid discipline of
  streaming SemDeDup: the grid never moves, so a row's bucket is a
  pure function of its value and appends never touch old buckets).
- ``hist``: per-bucket EXACT counts (<= n_vb + 2 rows), folded per
  micro-batch from the vals CHANGE FEED since the hist's recorded
  high-water by the shared fold (operators/mv.fold_changes, meta key
  ``q_source_version``): a crash between legs leaves vals ahead, and
  the next batch's fold covers both batches.
  Histogram counts are exact deltas of an append-only stream, so —
  unlike the batch operator's sketch — NO verification round is ever
  needed.

Serving (:func:`quantiles_served`) is TWO bounded reads at any
history length: the <= (n_vb+2)-row hist locates every requested
rank's bucket and in-bucket rank by cumulative sum (driver-side,
histogram-sized); ONE partition-pruned ranked read over just the
target buckets returns all quantiles (the shared-window trick of the
batch engines — rows tagged per quantile, ranked per tag). Cost is
O(hist) + O(target-bucket rows); the corpus is never scanned or
sorted. Bucket-width skew is the operational knob: a hot bucket makes
its pruned read bigger, never wrong — re-gridding is compaction-style
maintenance (correctness does not depend on grid balance).

NULL values are dropped at ingest (the exact_quantiles contract: n
counts non-null rows only).

Reference context: the reference computes only averages over its
``final`` table (README.md:140-164); percentile service over the
activity stream is the SURVEY §2 extension class.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mv import fold_changes, pinned
from ..sources.txnlog import TxnTable, _guarded_commit, _stream_meta
from .pipeline import _start_foreach_batch

#: default frozen grid (documented per root in the vals commit meta)
N_VB = 64


def _tables(root: str) -> tuple[TxnTable, TxnTable]:
    return TxnTable(root + "/vals"), TxnTable(root + "/hist")


def _vb(col, lo: float, hi: float, n_vb: int):
    """Frozen-grid bucket id: 0 = underflow, 1..n_vb = equi-width
    cells over [lo, hi), n_vb+1 = overflow. Pure function of the
    value — appends never re-bucket history."""
    width = (hi - lo) / n_vb
    cell = (F.floor((col - F.lit(lo)) / F.lit(width))
            .cast("int") + F.lit(1))
    return (F.when(col < F.lit(lo), F.lit(0))
            .when(col >= F.lit(hi), F.lit(n_vb + 1))
            .otherwise(cell).cast("int"))


def ingest_batch(vals: TxnTable, hist: TxnTable, batch_df: DataFrame,
                 batch_id: int, col: str, lo: float, hi: float,
                 n_vb: int = N_VB, app_id: str | None = None,
                 group_col: str | None = None) -> None:
    """One micro-batch: vals append (bucket-partitioned), then hist
    fold from the vals change feed since the hist's high-water. Both
    legs individually (app_id, batch_id) replay-guarded.
    ``group_col`` turns the root into the GROUPED surface (the
    streaming twin of operators/sketches.grouped_exact_quantiles): the
    histogram is kept per (group, bucket) — <= n_groups x (n_vb+2)
    rows, the low-cardinality-group contract — and vals carries the
    group column; the grid stays shared across groups (frozen, so a
    row's bucket never depends on its group's history)."""
    spark = batch_df.sparkSession
    gcols = [group_col] if group_col else []
    rows = (batch_df.select(*gcols,
                            F.col(col).cast("double").alias("v"))
            .filter(F.col("v").isNotNull())
            .withColumn("__vb", _vb(F.col("v"), lo, hi, n_vb)))

    meta = _stream_meta(batch_id, app_id, "q_vals_append")
    meta["q_grid"] = [lo, hi, n_vb]
    meta["partition_by"] = "__vb"
    # shape by the bucket column before the partitioned write so a
    # commit adds <= one file per bucket, not shuffle-partitions x
    # buckets (the stream_splits_e2e lesson)
    vals.append(rows.repartition(16, "__vb"), meta)
    vals.checkpoint_if_needed()

    def _count(ch: DataFrame, sv: int) -> None:
        delta = (ch.filter(F.col("_change_type") == "insert")
                 .groupBy(*gcols, "__vb")
                 .agg(F.count(F.lit(1)).alias("cnt")))
        if hist.latest_version() is not None:
            delta = (hist.read(spark).unionByName(delta)
                     .groupBy(*gcols, "__vb")
                     .agg(F.sum("cnt").cast("long").alias("cnt")))

        def _hist_leg():
            meta = _stream_meta(batch_id, app_id, "q_hist_fold")
            meta["q_source_version"] = sv
            hist.overwrite(delta.select(
                *gcols, "__vb",
                F.col("cnt").cast("long").alias("cnt")), meta)

        _guarded_commit(hist, batch_id, app_id, _hist_leg)

    fold_changes(spark, vals, hist, "q_source_version", _count)


def write_stream_quantiles(df: DataFrame, root: str, checkpoint: str,
                           col: str, lo: float, hi: float,
                           n_vb: int = N_VB,
                           app_id: str | None = None,
                           available_now: bool = True,
                           group_col: str | None = None):
    """Start the maintenance sink over ``df``; returns the
    StreamingQuery. Serve with :func:`quantiles_served` (flat root)
    or :func:`grouped_quantiles_served` (``group_col`` root)."""
    vals, hist = _tables(root)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(vals, hist, batch_df, batch_id, col, lo, hi,
                     n_vb, app_id, group_col=group_col)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def compact_if_needed(spark: SparkSession, root: str,
                      max_live_dirs: int = 32) -> int | None:
    """Scheduled maintenance (the splits/CC policy discipline): the
    vals table accretes one ``__vb``-partitioned dir-set per appending
    micro-batch; fold it through the PARTITION-AWARE
    ``TxnTable.compact_if_needed`` — the pruned serve reads survive,
    and the hist leg's change-feed fold is unaffected because
    ``read_changes`` skips compaction commits as layout-only
    (txnlog.py read_changes), so ingest continues straight across a
    fold (pinned by the policy test). hist is a <= (groups x
    (n_vb+2))-row overwrite table and never needs it. Returns the
    compaction commit version, or None."""
    vals, _ = _tables(root)
    if vals.latest_version() is None:
        return None
    return vals.compact_if_needed(spark, max_live_dirs=max_live_dirs)


#: serve-side hot-bucket threshold: a target bucket holding more rows
#: than this is answered by the batch bracketing engine over the
#: pruned bucket (operators/sketches.exact_ranks) instead of the
#: shared ranked read, so no single task ever sorts more than
#: max(2*accuracy, this) rows even when the frozen grid is skewed
#: (heavy-tailed domains put most mass in one equi-width cell — the
#: NORM for durations/token counts, not a corner).
HOT_BUCKET_LIMIT = 100_000


def _ranked_read(rows, targets: list[tuple], tag_cond) -> dict:
    """ONE shared ranked read over pre-pruned bucket rows: each row is
    tagged with the state ids it serves, ranked per tag, the in-bucket
    rank k_in row kept. Returns {state_id: value}."""
    from pyspark.sql import Window as W

    conds = [tag_cond(t) for t in targets]
    kmap = F.create_map(*[x for t in targets
                          for x in (F.lit(t[0]), F.lit(t[-1]))])
    w = W.partitionBy("__qi").orderBy(F.col("v").asc())
    hits = (rows.withColumn("__qi", F.explode(F.array(*conds)))
            .filter(F.col("__qi").isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == F.element_at(kmap, F.col("__qi")))
            .select("__qi", "v").collect())
    return {int(r["__qi"]): float(r["v"]) for r in hits}


def _hot_ranks(spark, vals: TxnTable, src: int, hot: dict,
               hot_limit: int, accuracy: int,
               group_col: str | None = None) -> dict:
    """Answer ALL hot-bucket targets with ONE batched bracketing run
    (r11, ADVICE r10: the previous per-cell exact_ranks loop made
    serve latency linear in hot-cell count — a grouped root whose
    groups share a skewed grid has MANY hot (group, bucket) cells):
    every hot bucket dir is read once (partition-pruned, at the
    pinned version), each row keyed by its cell — the bucket alone
    for flat roots, a (group, bucket) struct for grouped ones — and
    the shared grouped bracketing engine answers every cell's ranks
    with each round's sketch/verify/read jobs SHARED across cells,
    seeded with the histogram's EXACT cell counts so no count job
    runs. hot maps (group, bucket) -> (n_cell, [(state_id, k_in),
    ...]); returns {state_id: value}."""
    from ..operators.sketches import grouped_exact_ranks

    if not hot:
        return {}
    rows = vals.read_partitions(
        spark, sorted({b for _, b in hot}), version=src)
    if group_col is None:
        keyed = rows.select("v", F.col("__vb").alias("__cell"))
        cells = [(b, nb, pairs)
                 for (_, b), (nb, pairs) in hot.items()]
    else:
        keyed = rows.select(
            "v", F.struct(F.col(group_col).alias("g"),
                          F.col("__vb").alias("b")).alias("__cell"))
        cells = [((g, b), nb, pairs)
                 for (g, b), (nb, pairs) in hot.items()]
    return grouped_exact_ranks(keyed, "__cell", "v", cells,
                               accuracy=accuracy,
                               direct_limit=hot_limit)


def quantiles_served(spark: SparkSession, root: str, qs: list[float],
                     hot_bucket_limit: int = HOT_BUCKET_LIMIT,
                     accuracy: int = 10_000) -> list[tuple[float, float]]:
    """EXACT [(q, k-th smallest)] (k = ceil(q*n), the
    exact_quantiles definition) from the maintained state: the exact
    histogram locates every rank's bucket driver-side; cold target
    buckets are answered by ONE partition-pruned ranked read (all
    their quantiles share it), hot ones (> ``hot_bucket_limit`` rows —
    grid skew) fall back to the batch bracketing engine over the
    pruned bucket, so serve cost is bounded regardless of how the
    frozen grid splits the mass. Data is read at the vals version the
    histogram recorded (operators/mv.pinned). Never scans or sorts the
    corpus."""
    vals, hist = _tables(root)
    # vals is read AT the version the histogram recorded: a stale
    # histogram's ranks paired with fresher bucket rows would return
    # silently WRONG quantiles, not merely stale ones
    hist_df, src = pinned(spark, hist, "q_source_version")
    extra = set(hist_df.columns) - {"__vb", "cnt"}
    if extra:
        raise ValueError(
            f"root {root} was ingested with group column(s) "
            f"{sorted(extra)} — serve it with grouped_quantiles_served")
    counts = {int(r["__vb"]): int(r["cnt"])
              for r in hist_df.collect()}
    n = sum(counts.values())
    if n == 0:
        raise ValueError("no non-null values ingested")
    # locate each rank's bucket + in-bucket rank by cumulative sum
    order = sorted(counts)
    targets = []  # (qi, bucket, k_in)
    for qi, q in enumerate(qs):
        k = max(1, math.ceil(q * n))
        below = 0
        for b in order:
            if below + counts[b] >= k:
                targets.append((qi, b, k - below))
                break
            below += counts[b]
    cold = [t for t in targets if counts[t[1]] <= hot_bucket_limit]
    hot: dict = {}
    for qi, b, k_in in targets:
        if counts[b] > hot_bucket_limit:
            hot.setdefault((None, b), (counts[b], []))[1].append(
                (qi, k_in))
    got = {}
    if cold:
        rows = vals.read_partitions(
            spark, sorted({b for _, b, _ in cold}), version=src)
        got.update(_ranked_read(
            rows.select("v", "__vb"), cold,
            lambda t: F.when(F.col("__vb") == F.lit(t[1]),
                             F.lit(t[0]))))
    got.update(_hot_ranks(spark, vals, src, hot, hot_bucket_limit,
                          accuracy))
    return [(q, got[qi]) for qi, q in enumerate(qs)]


def grouped_quantiles_served(spark: SparkSession, root: str,
                             group_col: str, qs: list[float],
                             hot_bucket_limit: int = HOT_BUCKET_LIMIT,
                             accuracy: int = 10_000) -> list[tuple]:
    """EXACT [(group, q, value)] from a root maintained with
    ``group_col`` — the streaming twin of
    operators/sketches.grouped_exact_quantiles: the (groups x
    buckets)-row histogram locates every (group, rank)'s bucket
    driver-side (bounded collect, the low-cardinality-group
    contract), then ONE partition-pruned ranked read over the union
    of cold target buckets answers every (group, quantile) — rows
    tagged per state, ranked per tag; a bucket dir is scanned once no
    matter how many groups' ranks land in it. Hot (group, bucket)
    cells (> ``hot_bucket_limit`` rows) fall back to the bracketing
    engine over the pruned, group-filtered bucket. Data is read at
    the vals version the histogram recorded (operators/mv.pinned)."""
    vals, hist = _tables(root)
    hist_df, src = pinned(spark, hist, "q_source_version")
    if group_col not in hist_df.columns:
        raise ValueError(
            f"root {root} holds no group column {group_col!r} "
            f"(histogram columns: {hist_df.columns}) — a flat root is "
            "served with quantiles_served")
    counts: dict = {}
    for r in hist_df.collect():
        counts.setdefault(r[group_col], {})[int(r["__vb"])] = \
            int(r["cnt"])
    targets = []  # (si, group, bucket, k_in) ; si indexes the output
    out_keys = []
    for g in counts:
        per = counts[g]
        n = sum(per.values())
        for q in qs:
            k = max(1, math.ceil(q * n))
            below = 0
            for b in sorted(per):
                if below + per[b] >= k:
                    targets.append((len(out_keys), g, b, k - below))
                    out_keys.append((g, q))
                    break
                below += per[b]
    cold = [t for t in targets
            if counts[t[1]][t[2]] <= hot_bucket_limit]
    hot: dict = {}
    for si, g, b, k_in in targets:
        if counts[g][b] > hot_bucket_limit:
            hot.setdefault((g, b), (counts[g][b], []))[1].append(
                (si, k_in))
    got = {}
    if cold:
        rows = vals.read_partitions(
            spark, sorted({b for _, _, b, _ in cold}), version=src)
        got.update(_ranked_read(
            rows.select(group_col, "v", "__vb"), cold,
            lambda t: F.when(
                F.col(group_col).eqNullSafe(F.lit(t[1]))
                & (F.col("__vb") == F.lit(t[2])), F.lit(t[0]))))
    got.update(_hot_ranks(spark, vals, src, hot, hot_bucket_limit,
                          accuracy, group_col=group_col))
    return [(g, q, got[si]) for si, (g, q) in enumerate(out_keys)]
