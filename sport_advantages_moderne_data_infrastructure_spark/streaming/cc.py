"""Streaming connected-components maintenance: near-dup cluster labels
(and the leakage-safe split built on them) kept continuously up to
date as documents and their near-dup edges arrive — without EVER
rewriting or rescanning corpus-sized state.

The batch operator (operators/dedup.connected_components_two_phase)
answers "what are the components of THIS graph" in O(log² n) rounds
over the full edge list; a growing corpus needs the online form. The
insight that makes maintenance O(batch), not O(corpus): component
labels are min doc ids, and a merge only ever REDIRECTS a former
label to a smaller one — so the full history of merges is a FOREST
over labels (each former root has exactly one outgoing redirect,
created the moment it stops being a root, strictly decreasing — no
cycles). Two state tables:

- ``assign`` (doc_id, cluster_id): APPEND-ONLY, one row per doc ever,
  carrying the label at insert time; bucketed by ``__kb =
  pmod(xxhash64(doc_id))`` so per-batch endpoint lookups are
  partition-pruned reads (the AggMaterializedView discipline), never
  corpus scans.
- ``remap`` (src, dst): the label forest — one row per merge event,
  appended when a batch's edges join two existing components. Its
  size is bounded by the number of merges (<= number of components
  ever created), orders of magnitude below the corpus.

Per micro-batch (driver-gated twin ``stream_leakage_splits_equiv``
runs the exact ``ingest_batch`` the foreachBatch sink runs):

1. resolve OLD edge endpoints to their CURRENT roots: a
   partition-pruned ``assign`` read for the endpoints' buckets, then
   the collapsed remap (pointer doubling over the small forest,
   O(log chain) self-joins) applied via broadcast. Resolving BEFORE
   contracting is what keeps the forest a forest — merges only ever
   attach current roots, so no label gets two parents.
2. contract: each edge endpoint becomes its root (new docs are their
   own roots); run the batch two-phase star CC on the DELTA graph
   only (new docs + touched roots — O(batch) nodes).
3. commit legs, each (app_id, batch_id) replay-guarded, assign FIRST:
   new docs' (doc_id, component-min) rows append to ``assign``;
   touched roots that lost (component-min < root) append to
   ``remap``. Both legs are pure functions of (batch, pre-batch
   state): a crash between them replays to the identical remap rows
   because the lookup keys old endpoints by the BATCH frame, never by
   assign membership.

Serving is one broadcast map-side join: assign ⟕ collapsed-remap,
label = COALESCE(root, insert-time label) — no shuffle at any corpus
size. The broadcast is bounded by the number of merges SINCE THE LAST
COMPACTION, not by history: ``compact()`` folds the resolved forest
back into ``assign`` (bucket-granular rewrite) and truncates
``remap`` — the OPTIMIZE-style maintenance job that keeps both the
resolution chains and the broadcast small; run it on the same
schedule as any other table OPTIMIZE (correctness never depends on
it, only the serve-side broadcast size does).

Reference context: the reference has no graph or dedup processing at
all (its streaming leg is a plain Kafka→Delta append,
spark/SaveDelta.scala:104-163); this is the training-data north-star
extension (SURVEY §2 extensions) — the incremental form of the batch
CC the dedup keep-list needs at 100 TB.

Edge arrival contract: an edge arrives no earlier than both its
endpoints (a new doc brings its edges to already-seen docs — how LSH
candidate generation naturally emits them). Edge GENERATION
incrementality is the streaming dedup index's domain
(streaming/dedup.py maintains the persisted band index that makes
candidates O(batch)); the Jaccard stop-set (df cap) is corpus-level
by construction, so production recomputes it on a schedule — this
module gates LABEL maintenance given the edge stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import connected_components_two_phase
from ..sources.txnlog import (TxnConflictError, TxnTable, _stream_meta,
                              _Txn)
from .pipeline import _start_foreach_batch

N_BUCKETS = 32


def _tables(root: str) -> tuple[TxnTable, TxnTable]:
    return TxnTable(root + "/assign"), TxnTable(root + "/remap")


def _bucket(col):
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def resolve_remap(remap: DataFrame, max_iter: int = 64) -> DataFrame:
    """Collapse the label forest to (src, root): pointer-hop self-joins
    over the SMALL remap table until fixpoint (each hop strictly
    decreases every unresolved dst, chains are <= merges-per-label
    deep; ``max_iter`` is a loud backstop, not a correctness knob)."""
    # localCheckpoint per hop: each iteration references the previous
    # frame TWICE, so the unmaterialized plan doubles per hop (2^hops
    # leaf scans) — on a long merge-heavy history planning cost and
    # driver heap blow up (measured: a 120-merge chain stalled the
    # 8g bench driver; with the cut, 120 batches resolve in ~log2
    # cheap hops — scripts/bench_cc_compaction.py). The frame is
    # merges-sized, so the materialization is trivially small.
    m = remap.select("src", "dst").localCheckpoint(eager=True)
    for _ in range(max_iter):
        pending = (m.alias("a")
                   .join(m.alias("b"),
                         F.col("a.dst") == F.col("b.src"), "left_semi"))
        if pending.isEmpty():
            return m
        m = (m.alias("a")
             .join(m.alias("b"), F.col("a.dst") == F.col("b.src"),
                   "left")
             .select(F.col("a.src").alias("src"),
                     F.coalesce(F.col("b.dst"), F.col("a.dst"))
                     .alias("dst"))
             .localCheckpoint(eager=True))
    raise RuntimeError(f"remap forest did not resolve in {max_iter} hops"
                       " — cycle would mean a non-decreasing redirect")


def _lookup_labels(spark: SparkSession, assign: TxnTable,
                   eps: DataFrame) -> DataFrame:
    """(doc_id, lbl0) for the endpoint frame ``eps`` — partition-pruned
    to the endpoints' buckets, then semi-joined to the (broadcast,
    batch-sized) endpoint set. LOUD on a violated arrival contract: an
    edge endpoint that is neither new-this-batch nor already assigned
    would otherwise be silently self-rooted and split the component."""
    buckets = [r[0] for r in eps.select(_bucket(F.col("doc_id"))
                                        .alias("b")).distinct().collect()]
    try:
        rows = assign.read_partitions(spark, buckets)
    except ValueError as ex:
        raise ValueError(
            "edge endpoints reference docs never announced: the edge "
            "arrival contract (an edge arrives no earlier than both "
            "endpoints' bare rows) is violated") from ex
    got = (rows.join(F.broadcast(eps), "doc_id", "left_semi")
           .select("doc_id", F.col("cluster_id").alias("lbl0")))
    n_eps, n_got = eps.count(), got.count()
    if n_got != n_eps:
        raise ValueError(
            f"{n_eps - n_got} edge endpoints have no assigned label — "
            "the edge arrival contract (an edge arrives no earlier "
            "than both endpoints' bare rows) is violated")
    return got


def ingest_batch(assign: TxnTable, remap: TxnTable, batch: DataFrame,
                 batch_id: int, app_id: str | None = None) -> None:
    """One micro-batch: ``batch`` has (doc_id, nbr) rows — nbr NULL
    announces a bare new doc, non-NULL an edge doc_id—nbr (arriving
    with the LATER endpoint; the earlier one may be old)."""
    spark = batch.sparkSession
    batch = batch.persist()
    pinned = [batch]
    try:
        # bare rows (nbr NULL) announce new docs; an edge row's doc_id
        # may be an OLD doc (it merely arrives with the later endpoint)
        nodes_b = (batch.filter(F.col("nbr").isNull())
                   .select("doc_id").distinct().persist())
        pinned.append(nodes_b)
        edges_b = (batch.filter(F.col("nbr").isNotNull())
                   .select(F.col("doc_id").alias("doc_a"),
                           F.col("nbr").alias("doc_b")).distinct())

        # old endpoints: everything an edge touches that is not new
        eps = (edges_b.select(F.col("doc_a").alias("doc_id"))
               .unionByName(edges_b.select(F.col("doc_b")
                                           .alias("doc_id")))
               .distinct()
               .join(nodes_b, "doc_id", "left_anti"))
        roots = None
        if assign.latest_version() is not None and not eps.isEmpty():
            lbl0 = _lookup_labels(spark, assign, eps)
            if remap.latest_version() is not None:
                res = resolve_remap(remap.read(spark))
                lbl0 = (lbl0.join(F.broadcast(res),
                                  lbl0.lbl0 == res.src, "left")
                        .select("doc_id",
                                F.coalesce("dst", "lbl0").alias("lbl0")))
            roots = lbl0.persist()
            pinned.append(roots)

        # contract both edge endpoints to (root if old else itself)
        if roots is None:
            contracted = edges_b
        else:
            r_a = F.broadcast(
                roots.withColumnRenamed("doc_id", "doc_a")
                .withColumnRenamed("lbl0", "ra"))
            r_b = F.broadcast(
                roots.withColumnRenamed("doc_id", "doc_b")
                .withColumnRenamed("lbl0", "rb"))
            contracted = (edges_b.join(r_a, "doc_a", "left")
                          .join(r_b, "doc_b", "left")
                          .select(F.coalesce("ra", "doc_a")
                                  .alias("doc_a"),
                                  F.coalesce("rb", "doc_b")
                                  .alias("doc_b")))

        # delta graph: new docs + touched roots, contracted edges
        dn = nodes_b
        if roots is not None:
            dn = dn.unionByName(roots.select(F.col("lbl0")
                                             .alias("doc_id"))).distinct()
        labels = connected_components_two_phase(
            dn,
            contracted.filter(F.col("doc_a") != F.col("doc_b"))).persist()
        pinned.append(labels)

        new_assign = (labels.join(nodes_b, "doc_id", "left_semi")
                      .withColumn("__kb", _bucket(F.col("doc_id")))
                      .repartition(N_BUCKETS, "__kb"))
        lost_roots = (labels.join(nodes_b, "doc_id", "left_anti")
                      .filter(F.col("cluster_id") != F.col("doc_id"))
                      .select(F.col("doc_id").alias("src"),
                              F.col("cluster_id").alias("dst")))

        assign.append(
            new_assign,
            {**_stream_meta(batch_id, app_id, "cc_assign_append"),
             "partition_by": "__kb"})
        assign.checkpoint_if_needed()

        # the remap leg commits EVERY batch (0-row marker when no
        # merges — the semdedup marker-commit discipline), recording
        # the assign version it pairs with: the serve
        # (current_labels) reads assign AT the version the LATEST
        # remap commit recorded, so an ingest racing the serve (or a
        # crash between the legs) can never pair fresh assign rows
        # with a remap missing their merges — which would SPLIT a
        # true cluster across labels (for the splits built on these
        # labels, a train/test leakage hazard, not just staleness)
        meta = _stream_meta(batch_id, app_id, "cc_remap_append")
        meta["cc_assign_version"] = assign.latest_version()
        # repartition(1): a 0-row marker still writes one schema-bearing
        # file, keeping the table readable
        remap.append(lost_roots.repartition(1) if lost_roots.isEmpty()
                     else lost_roots, meta)
        remap.checkpoint_if_needed()
    finally:
        for df in pinned:
            df.unpersist()


def write_stream_cc(df: DataFrame, root: str, checkpoint: str,
                    app_id: str | None = None,
                    available_now: bool = True):
    """Start the maintenance sink over ``df`` (a streaming frame with
    doc_id + nullable nbr — see :func:`ingest_batch`). Read labels
    back with :func:`current_labels`."""
    assign, remap = _tables(root)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(assign, remap, batch_df, batch_id, app_id)

    return _start_foreach_batch(df, _ingest, checkpoint, available_now)


def _pinned_labels(spark: SparkSession, assign: TxnTable, remap: TxnTable
                   ) -> tuple[DataFrame, int | None, int | None]:
    """:func:`current_labels`' frame and the (assign, remap) versions
    it reads: the latest remap commit and the assign version it
    recorded — the latest assign when there is no remap commit yet (no
    merges ever) or on pre-r10 history."""
    rv = remap.latest_version()
    av = None if rv is None else remap._doc(rv).get(  # noqa: SLF001
        "meta", {}).get("cc_assign_version")
    if av is None:
        av = assign.latest_version()
    rows = (assign.read(spark, version=av)
            .select("doc_id", "cluster_id"))
    if rv is None:
        return rows, av, rv
    res = resolve_remap(remap.read(spark, version=rv))
    return (rows.join(F.broadcast(res),
                      rows.cluster_id == res.src, "left")
            .select("doc_id",
                    F.coalesce("dst", "cluster_id").alias("cluster_id")),
            av, rv)


def current_labels(spark: SparkSession, root: str) -> DataFrame:
    """(doc_id, cluster_id) — assign ⟕ broadcast(collapsed remap):
    one map-side join, no shuffle, at any corpus size. The PAIR is a
    consistent snapshot (r10 serve-pinning): assign is read AT the
    version the latest remap commit recorded, so a racing ingest (or
    a crash between the assign and remap legs) can never surface
    fresh docs whose merges are missing — a cluster-splitting view
    the leakage-safe splits must never see. With no remap commit yet
    (no merges ever), any assign snapshot is consistent by itself."""
    return _pinned_labels(spark, *_tables(root))[0]


def compact(spark: SparkSession, root: str) -> None:
    """OPTIMIZE-style maintenance: fold the resolved forest into
    ``assign`` (full rewrite, bucket-partitioned) and truncate
    ``remap`` — run on a schedule to keep resolution chains short;
    correctness never depends on it.

    Both commits are based on the versions the fold read (the serve
    pair): assign rows newer than the pair — a batch torn between its
    assign and remap legs, or an ingest racing the fold — are not in
    the folded frame, so removing them would lose their labels for
    good. If either table moved past the pair, :class:`TxnConflictError`
    is raised before anything is written; run it again once the
    batch's remap leg has landed. A remap commit landing between the
    fold and the truncate fails only the truncate: the folded assign
    under the whole remap history still resolves every label."""
    assign, remap = _tables(root)
    labels, av, rv = _pinned_labels(spark, assign, remap)
    if rv is None:
        return
    folded = (labels.withColumn("__kb", _bucket(F.col("doc_id")))
              .repartition(N_BUCKETS, "__kb"))

    def fold(base: int) -> _Txn:
        if (assign.latest_version(), remap.latest_version()) != (base, rv):
            raise TxnConflictError(
                f"{root}: assign or remap moved past the pair "
                f"(v{base}, v{rv}) compact folds")
        return _Txn(
            assign._write_data_partitioned(folded, "__kb"),  # noqa: SLF001
            assign.snapshot_dirs(base),
            {"operation": "cc_compact", "partition_by": "__kb"})

    v = assign._transact(fold, base=av)  # noqa: SLF001
    # the truncate records the POST-fold assign version: the pinned
    # serve pairs the (now empty) remap with the folded assign
    remap._transact(lambda base: _Txn(  # noqa: SLF001
        [remap._write_data(  # noqa: SLF001
            remap.read(spark, version=rv).limit(0))],
        remap.snapshot_dirs(base),
        {"operation": "cc_compact_truncate", "cc_assign_version": v}),
        base=rv)


def compact_if_needed(spark: SparkSession, root: str,
                      max_remap_rows: int = 1024,
                      max_live_dirs: int = 64) -> bool:
    """Scheduled-maintenance policy (the ``TxnTable.compact_if_needed``
    discipline for the CC pair, VERDICT r8 #5): run :func:`compact`
    only when the serve-side cost has actually accreted —

    - ``remap`` holds more than ``max_remap_rows`` merge rows: the
      serve join broadcasts the RESOLVED forest, so remap's row count
      IS the broadcast size and bounds the pointer-doubling chain
      work; a long merge-heavy history grows it monotonically until a
      fold;
    - or ``assign`` accreted more than ``max_live_dirs`` live data
      dirs (one per appending micro-batch): the small-files cost every
      streaming sink pays, folded by the same bucket-granular rewrite.

    Both probes are bounded: remap is merges-sized (its count is a
    sketch-sized job) and ``snapshot_dirs`` is driver metadata.
    Returns True when a compaction ran. Correctness never depends on
    compaction (``current_labels`` resolves any chain); ONLY the
    broadcast size and chain length do — measured before/after at 10x
    merge-heavy history in PLANS.md §Streaming-state compaction."""
    assign, remap = _tables(root)
    if remap.latest_version() is None or assign.latest_version() is None:
        return False
    n_remap = remap.read(spark).count()
    n_dirs = len(assign.snapshot_dirs())
    if n_remap <= max_remap_rows and n_dirs <= max_live_dirs:
        return False
    compact(spark, root)
    return True
