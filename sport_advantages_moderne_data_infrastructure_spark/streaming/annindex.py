"""Streaming ANN index maintenance: the IVF inverted lists kept
continuously up to date as embeddings arrive.

The batch path (`operators/ivf.build_ivf_index`) materializes the
assigned corpus partitioned by centroid_id once per corpus snapshot. A
training-data pipeline doesn't get a static corpus — embeddings stream
in with the documents — so this sink maintains the SAME layout
incrementally: each micro-batch is assigned to its nearest centroids
(map-side argmin projection, no shuffle) and appended to a txn table as
``centroid_id=`` partition subdirs, one atomic commit per batch with
the (app_id, batch_id) replay guard the other streaming sinks use.

Scale shape: per-batch cost is O(batch) — assignment is a projection,
the append touches only the batch's partition subdirs, and the commit
is O(1) metadata. Queries read the maintained table exactly like the
batch-built index (partition-pruned probe equi-join); because centroids
are FIXED (trained once on the bounded sample, the IVF contract), the
maintained index is row-identical to a batch rebuild over the same
corpus at every point in time — pinned by tests and the
``stream_ann_index_equiv`` driver row. Centroid drift over a growing
corpus is handled the way production IVF deployments do: periodic
retrain + full rebuild (the batch path), with this sink keeping the
index fresh between rebuilds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import dot_expr
from ..sources.txnlog import TxnTable, _guarded_commit, _stream_meta, _Txn
from .pipeline import _start_change_feed, _start_foreach_batch


def write_stream_ivf_index(df: DataFrame, index_path: str,
                           centroids: list[list[float]], checkpoint: str,
                           app_id: str | None = None,
                           available_now: bool = True):
    """Start the maintenance sink over ``df`` (a streaming frame with
    vec_id + embedding). Returns the StreamingQuery; read the index
    back with :func:`read_index`."""
    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(TxnTable(index_path), batch_df, centroids,
                     batch_id, app_id)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def ingest_batch(idx: TxnTable, batch_df: DataFrame,
                 centroids: list[list[float]], batch_id: int,
                 app_id: str | None = None) -> None:
    """One micro-batch's worth of index maintenance — the exact function
    the foreachBatch sink runs, exposed so the driver-gated batch twin
    (``stream_ann_index_equiv``) exercises identical code."""
    from ..operators.ivf import assign_centroids

    assigned = assign_centroids(
        batch_df.select(
            "vec_id", "embedding",
            F.sqrt(F.expr(dot_expr("embedding", "embedding")))
            .alias("e_norm")),
        centroids)
    idx.append(assigned, {**_stream_meta(batch_id, app_id,
                                         "ivf_index_append"),
                          "partition_by": "centroid_id"})
    idx.checkpoint_if_needed()


def write_stream_ivfpq_index(df: DataFrame, index_path: str,
                             centroids: list[list[float]],
                             codebooks: list[list[list[float]]],
                             checkpoint: str,
                             app_id: str | None = None,
                             available_now: bool = True,
                             meta_cols: tuple = ()):
    """Maintain the COMPRESSED index — the one a deployment actually
    serves at scale: each micro-batch is PQ-encoded with the FIXED
    codebooks and appended to the centroid-partitioned code table
    (the `build_ivfpq_index` layout, kept fresh incrementally).
    Codebooks and centroids are both frozen training artifacts, so the
    maintained code table is row-identical to a batch re-encode at
    every point in time; drift is handled by periodic retrain+rebuild,
    exactly as for the raw-embedding sink above."""
    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_pq(TxnTable(index_path), batch_df, centroids,
                        codebooks, batch_id, app_id,
                        meta_cols=meta_cols)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def ingest_batch_pq(idx: TxnTable, batch_df: DataFrame,
                    centroids: list[list[float]],
                    codebooks: list[list[list[float]]], batch_id: int,
                    app_id: str | None = None,
                    meta_cols: tuple = ()) -> None:
    """One micro-batch of compressed-index maintenance: centroid
    assignment and PQ encoding compose as ONE map-side projection (the
    assignment column rides through ``pq_encode(keep=...)`` — no
    re-join on vec_id, no shuffle), then the same atomic partitioned
    append as the raw sink. Per-batch cost is O(batch). ``meta_cols``
    (r11): filterable attributes carried into the maintained lists,
    the build_ivfpq_index meta_cols layout — metadata-filtered top-k
    then runs against the MAINTAINED index with the predicate pushed
    into its scan, same as the batch-built one."""
    from ..operators.ivf import assign_centroids
    from ..operators.pq import pq_encode

    assigned = assign_centroids(
        batch_df.select("vec_id", "embedding", *meta_cols), centroids)
    coded = pq_encode(assigned, codebooks,
                      keep=("centroid_id",) + tuple(meta_cols))
    idx.append(coded, {**_stream_meta(batch_id, app_id,
                                      "ivfpq_index_append"),
                       "partition_by": "centroid_id"})
    idx.checkpoint_if_needed()


def read_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The maintained inverted lists — drop-in for the ``assigned``
    frame `ivf_topk` takes (vec_id, embedding, e_norm, centroid_id),
    or for the ``codes_index`` frame `ivfpq_topk` takes when the table
    was maintained by the PQ sink."""
    return TxnTable(index_path).read(spark)


# --- centroid/codebook drift: monitor + rebuild ---------------------------
#
# Both sinks above freeze their training artifacts (centroids,
# codebooks) at build time — the IVF contract. On a drifting corpus
# that silently degrades recall: new vectors concentrate in a few
# lists (the probe set misses their true neighborhoods) and the corpus
# outgrows the k ∝ N policy. The monitor below is the tripwire
# (metadata-only — per-list sizes come from the commit log's per-dir
# row counts, no data scan), and the rebuild functions are the
# response: retrain on the grown corpus, re-assign/re-encode, ONE
# atomic swap commit on the same table. Swap protocol for a live
# stream: stop the query → rebuild → restart the SAME checkpoint with
# the returned artifacts. Batches the stream replays after the restart
# are absorbed by the (app_id, batch_id) ledger — their rows were in
# the table the rebuild re-assigned — and new batches encode with the
# fresh artifacts.

#: list-size skew (max/mean) above which the monitor flags drift —
#: a balanced index sits near 1; a distribution shift funnels new
#: vectors into few lists and runs this up fast
DRIFT_MAX_SKEW = 8.0
#: normalized assignment entropy (H / log k) below which the monitor
#: flags drift — 1.0 is perfectly balanced lists
DRIFT_MIN_BALANCE = 0.5
#: corpus growth: flag when the k ∝ N policy wants more than this
#: multiple of the trained centroid count
DRIFT_K_FACTOR = 2.0


def index_drift_report(idx: TxnTable, n_centroids: int,
                       max_skew: float = DRIFT_MAX_SKEW,
                       min_balance: float = DRIFT_MIN_BALANCE,
                       k_factor: float = DRIFT_K_FACTOR) -> dict:
    """Metadata-only drift check over a maintained (IVF or IVF-PQ)
    index table: per-list row counts are summed from the log's live
    per-dir row counts (``centroid_id=`` partition subdirs; net of
    deletion vectors, replayed from the newest checkpoint), so the
    check touches no data — run it per batch or per N batches. Returns
    the metrics plus ``drifted`` and the reasons that fired."""
    import math

    from ..operators.ivf import k_for_corpus

    sizes: dict[int, int] = {}
    for rel, n in idx._live_rows().items():  # noqa: SLF001
        part = os.path.basename(rel)
        if n is not None and "=" in part:
            cid = int(part.split("=", 1)[1])
            sizes[cid] = sizes.get(cid, 0) + n
    n_total = sum(sizes.values())
    k_target = k_for_corpus(n_total)
    mean = n_total / n_centroids if n_centroids else 0.0
    mx = max(sizes.values(), default=0)
    skew = (mx / mean) if mean else 0.0
    if n_total and n_centroids > 1:
        h = -sum((c / n_total) * math.log(c / n_total)
                 for c in sizes.values() if c)
        balance = h / math.log(n_centroids)
    else:
        balance = 1.0
    reasons = []
    if skew > max_skew:
        reasons.append("list_skew")
    if balance < min_balance:
        reasons.append("low_entropy")
    if k_target > k_factor * n_centroids:
        reasons.append("corpus_outgrew_k")
    return {"n_vectors": n_total, "n_centroids": n_centroids,
            "k_target": k_target, "nonempty_lists": len(sizes),
            "max_list": mx, "mean_list": round(mean, 2),
            "skew": round(skew, 3), "balance": round(balance, 4),
            "drifted": bool(reasons), "reasons": reasons}


def rebuild_ivf_index(spark: SparkSession, index_path: str,
                      k: int | None = None) -> list[list[float]]:
    """Retrain centroids on the CURRENT corpus (the raw sink stores
    embeddings, so the index is its own training source), re-assign
    every vector, and swap the table in ONE atomic commit (readers see
    old or new, never a mix). Returns the new centroids — restart the
    maintenance stream with them (same checkpoint; the ledger absorbs
    replays). k defaults to the k ∝ N policy on the grown corpus."""
    from ..operators.ivf import (assign_centroids, k_for_corpus,
                                 train_centroids)

    idx = TxnTable(index_path)
    corpus = idx.read(spark).select("vec_id", "embedding", "e_norm")
    if k is None:
        k = k_for_corpus(corpus.count())
    cents = train_centroids(corpus.select("vec_id", "embedding"), k=k)
    assigned = (assign_centroids(corpus, cents)
                .repartition("centroid_id"))
    _swap(idx, assigned, {"operation": "ivf_rebuild", "k": k})
    return cents


def rebuild_ivfpq_index(spark: SparkSession, index_path: str,
                        corpus: DataFrame, k: int | None = None,
                        m: int = 8, pq_k: int = 16
                        ) -> tuple[list[list[float]],
                                   list[list[list[float]]]]:
    """Compressed-index rebuild: the code table stores codes, not
    embeddings, so the caller supplies the raw corpus (vec_id,
    embedding) — the same frame the stream ingests. Retrains BOTH
    artifacts (centroids and PQ codebooks) on it, re-encodes, and
    swaps atomically. Returns (centroids, codebooks) for the restarted
    stream."""
    from ..operators.ivf import (assign_centroids, k_for_corpus,
                                 train_centroids)
    from ..operators.pq import pq_encode, train_pq_codebooks

    idx = TxnTable(index_path)
    base = corpus.select("vec_id", "embedding")
    if k is None:
        k = k_for_corpus(base.count())
    cents = train_centroids(base, k=k)
    books = train_pq_codebooks(base, m=m, k=pq_k)
    coded = (pq_encode(assign_centroids(base, cents), books,
                       keep=("centroid_id",))
             .repartition("centroid_id"))
    _swap(idx, coded, {"operation": "ivfpq_rebuild", "k": k})
    return cents, books


def _swap(idx: TxnTable, frame: DataFrame, meta: dict) -> None:
    def attempt(base: int) -> _Txn:
        adds = idx._write_data_partitioned(  # noqa: SLF001
            frame, "centroid_id")
        return _Txn(adds, idx.snapshot_dirs(base) if base >= 0 else [],
                    meta)

    idx._transact(attempt)  # noqa: SLF001


# --- CDF-driven maintenance: retraction + the embeddings-table feed -------
#
# The append-only sinks above keep an index fresh for a stream of NEW
# vectors; a governed corpus also retracts (document deleted) and
# re-embeds (document edited). Following the embeddings TABLE's change
# feed closes that gap: inserts ingest, deletes retract, updates
# retract the preimage and ingest the postimage — the maintained lists
# track the table through churn instead of serving ghosts forever
# (the ANN twin of streaming/chunkbm25.py's retrieval-index story).


def retract_batch(idx: TxnTable, gone: DataFrame,
                  centroids: list[list[float]], batch_id: int,
                  app_id: str | None = None,
                  use_dv: bool = False, dv_max_ids: int = 1000) -> None:
    """Remove retracted vectors from a maintained index (raw IVF lists
    or the IVF-PQ code table — retraction is layout-level, codes are
    never recomputed). ``gone`` rows carry (vec_id, embedding): the
    change feed's delete/update_preimage rows include the embedding,
    so each id's list is recomputed from the SAME frozen centroids the
    ingest used and the rewrite touches ONLY those centroid partitions
    — read affected, anti-join the ids, replace, with a partition the
    retraction EMPTIES removed rather than left stale. O(touched lists
    + batch), never O(index). Retracting an id the index does not hold
    is a no-op (the anti-join finds nothing) — which is what makes
    retract-then-ingest the safe order when an insert and its
    tombstone fold into one batch window."""
    from ..operators.ivf import assign_centroids

    if idx.latest_version() is None:
        return  # nothing maintained yet: nothing to retract
    spark = gone.sparkSession
    if use_dv:
        # needle path (r11 partitioned DVs): a handful of retractions
        # commit ONE position file — no partition rewrite at all, the
        # GDPR shape on a huge list. Bounded: past dv_max_ids the IN
        # predicate stops being a needle and the partition rewrite
        # below is the right tool (it also materializes accumulated
        # DVs as a side effect).
        ids = [r["vec_id"] for r in
               gone.select("vec_id").distinct()
               .limit(dv_max_ids + 1).collect()]
        if 0 < len(ids) <= dv_max_ids:
            # type-aware IN literals: string/UUID vec_ids quote-and-
            # escape so this fast path matches the rewrite leg's
            # id-type tolerance (ints render bare as before)
            lits = ",".join(
                "'" + str(i).replace("'", "''") + "'"
                if isinstance(i, str) else str(int(i)) for i in ids)

            def _dv_leg():
                idx.delete_where(
                    spark,
                    f"vec_id IN ({lits})",
                    use_dv=True,
                    meta=_stream_meta(batch_id, app_id,
                                      "ann_index_retract_dv"))
            _guarded_commit(idx, batch_id, app_id, _dv_leg)
            return
    assigned = (assign_centroids(gone.select("vec_id", "embedding"),
                                 centroids)
                .select("vec_id", "centroid_id").distinct())
    assigned.persist()
    try:
        affected = sorted(
            r["centroid_id"] for r in
            assigned.select("centroid_id").distinct().collect()
        )  # bounded by the trained centroid count
        if not affected:
            return
        ids = assigned.select("vec_id").distinct()

        aff = {f"centroid_id={v}" for v in affected}

        def _attempt(base: int) -> _Txn | None:
            removes = [d for d in idx.snapshot_dirs(base)
                       if os.path.basename(d) in aff]
            if not removes:
                return None  # none of the touched lists are indexed
            have = sorted(int(os.path.basename(d).split("=", 1)[1])
                          for d in removes)
            cur = idx.read_partitions(spark, have)
            keep = cur.join(ids, "vec_id", "left_anti")
            adds = idx._write_data_partitioned(  # noqa: SLF001
                keep, "centroid_id")
            stray = [a for a in adds if os.path.basename(a) not in aff]
            if stray:
                raise AssertionError(
                    f"retraction rows outside affected lists: {stray}")
            return _Txn(adds, removes,
                        _stream_meta(batch_id, app_id, "ann_index_retract"))

        _guarded_commit(idx, batch_id, app_id,
                        lambda: idx._transact(_attempt))  # noqa: SLF001
    finally:
        assigned.unpersist()


def apply_cdf_batch(idx: TxnTable, batch_df: DataFrame,
                    centroids: list[list[float]], batch_id: int,
                    app_id: str = "ann_cdf",
                    codebooks: list[list[list[float]]] | None = None,
                    meta_cols: tuple = ()) -> None:
    """One change-feed micro-batch folded into the maintained index —
    the exact function the CDF sink runs, exposed so the registered
    batch twin (``stream_ann_cdf_equiv``) exercises identical code.
    The batch folds to NET effect first: the last event per vec_id
    wins (an insert+tombstone inside one window ingests nothing),
    while the retract side keeps EVERY distinct preimage — safe
    because retracting an absent id is a no-op, and necessary because
    the index holds the id's state from BEFORE the window, whichever
    intermediate preimage that is. Two independently replay-guarded
    commits (ledger app ids suffixed /retract and /ingest), retract
    FIRST so a crash between legs replays only the ingest."""
    from pyspark.sql import Window as W

    ct = F.col("_change_type")
    batch_df.persist()
    try:
        pre = (batch_df.filter(ct.isin("delete", "update_preimage"))
               .select("vec_id", "embedding").distinct())
        is_post = ct.isin("insert", "update_postimage")
        w = W.partitionBy("vec_id").orderBy(
            F.desc("_commit_version"), F.desc(is_post.cast("int")))
        post = (batch_df.withColumn("__rn", F.row_number().over(w))
                .filter((F.col("__rn") == 1) & is_post)
                .drop("__rn", "_change_type", "_commit_version"))
        if pre.limit(1).count() > 0:
            retract_batch(idx, pre, centroids, batch_id,
                          app_id + "/retract")
        if post.limit(1).count() > 0:
            if codebooks is None:
                ingest_batch(idx, post, centroids, batch_id,
                             app_id + "/ingest")
            else:
                ingest_batch_pq(idx, post, centroids, codebooks,
                                batch_id, app_id + "/ingest",
                                meta_cols=meta_cols)
    finally:
        batch_df.unpersist()


def write_stream_ivf_cdf(spark: SparkSession, embeddings_path: str,
                         index_path: str,
                         centroids: list[list[float]], checkpoint: str,
                         app_id: str = "ann_cdf",
                         codebooks: list[list[list[float]]]
                         | None = None,
                         meta_cols: tuple = (),
                         available_now: bool = True):
    """Maintain the index FROM a governed embeddings TxnTable's
    change feed (``pipeline._start_change_feed``: a native file stream
    over the table's commit docs wakes the sink, each batch's version
    range is pinned in the checkpoint and read with
    ``TxnTable.read_changes``): each trigger is one
    :func:`apply_cdf_batch`. ``codebooks=None``
    maintains the raw IVF lists; with codebooks, the compressed
    (IVF-PQ) code table, ``meta_cols`` carrying filterable attributes
    as in the append-only sink. Returns the StreamingQuery; read the
    index back with :func:`read_index`."""
    idx = TxnTable(index_path)

    def _apply(changes: dict, batch_id: int) -> None:
        apply_cdf_batch(idx, changes[embeddings_path], centroids, batch_id,
                        app_id, codebooks=codebooks, meta_cols=meta_cols)

    return _start_change_feed(spark, [embeddings_path], _apply, checkpoint,
                              available_now)


def check_and_rebuild(spark: SparkSession, index_path: str,
                      n_centroids: int,
                      corpus: DataFrame | None = None,
                      m: int = 8, pq_k: int = 16,
                      max_skew: float = DRIFT_MAX_SKEW,
                      min_balance: float = DRIFT_MIN_BALANCE,
                      k_factor: float = DRIFT_K_FACTOR) -> dict:
    """The retrain pipeline as ONE tripwire-driven step — run it on a
    maintenance schedule (between stream restarts, or every N batches
    from the driver loop): the metadata-only drift report fires, and
    only then does the rebuild spend compute. Returns the report with
    ``rebuilt`` plus, when a rebuild ran, the fresh training artifacts
    to restart the maintenance stream with (``centroids``, and
    ``codebooks`` on the compressed path — pass ``corpus`` for it,
    the code table stores codes, not embeddings). The swap is the
    rebuild functions' ONE atomic commit: a reader sees old or new
    lists, never a mix, and the (app_id, batch_id) ledger survives so
    the restarted stream's replays are absorbed. Scheduling contract
    (the compaction-policy discipline): stop the maintenance query ->
    check_and_rebuild -> restart the SAME checkpoint with the
    returned artifacts."""
    idx = TxnTable(index_path)
    report = index_drift_report(idx, n_centroids, max_skew=max_skew,
                                min_balance=min_balance,
                                k_factor=k_factor)
    if not report["drifted"]:
        return {**report, "rebuilt": False}
    if corpus is None:
        cents = rebuild_ivf_index(spark, index_path)
        return {**report, "rebuilt": True, "centroids": cents}
    cents, books = rebuild_ivfpq_index(spark, index_path, corpus,
                                       m=m, pq_k=pq_k)
    return {**report, "rebuilt": True, "centroids": cents,
            "codebooks": books}


def compact_index_if_needed(spark: SparkSession, index_path: str,
                            max_dirs_per_value: int = 8,
                            checkpoint_interval: int = 10
                            ) -> tuple[int | None, int | None]:
    """Scheduled small-files maintenance for a maintained index (r12,
    VERDICT r11 #6): the CDF-driven folds append/replace one
    ``centroid_id=`` subdir per touched list per micro-batch, so a hot
    list fragments across many small dirs after sustained churn while
    cold lists stay single-dir. This folds the table through
    ``TxnTable.compact_partitions_if_needed`` — ONLY the lists
    fragmented past ``max_dirs_per_value`` rewrite (each to one file),
    one atomic commit, O(hot lists) never O(index); accumulated DV
    masks on the hot lists materialize away as a side effect — then
    checkpoints the log so replay stays bounded. Change-feed consumers
    skip the commit as layout-only (operation: compact), and the
    (app_id, batch_id) replay ledger lives in commit meta, so the
    maintenance stream continues across it untouched. Returns the
    (compaction, checkpoint) versions (None where below threshold).
    Run it on the same schedule as ``check_and_rebuild`` — the
    measured 1x/10x churn curve is in
    scripts/bench_index_compaction.py."""
    idx = TxnTable(index_path)
    if idx.latest_version() is None:
        return None, None
    v = idx.compact_partitions_if_needed(
        spark, max_dirs_per_value=max_dirs_per_value)
    cp = idx.checkpoint_if_needed(interval=checkpoint_interval)
    return v, cp
