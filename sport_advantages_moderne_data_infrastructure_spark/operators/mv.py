"""Incremental materialized-view maintenance over the txn change feed.

The reference recomputes its aggregate table from scratch on every cycle
(airflow/config/read_delta.py:47-53 re-reads the whole Delta table and
re-aggregates). At 100 TB that is a full scan per refresh; the lakehouse
answer is a materialized view maintained FROM THE CHANGE FEED: the view
stores per-group partials (count, sum — the associative combiners), and
each refresh applies only the rows that changed since the last
maintained source version. Cost per refresh is O(changed rows) +
O(view), never O(source table).

Built from pieces that already exist and are independently gated: the
change data feed (``TxnTable.read_changes`` — insert / pre/postimage /
delete rows with ``_commit_version``) and
``txnlog.agg_delta_from_changes`` (CDF frame → signed per-group deltas;
preimages subtract, postimages add — which is WHY the feed carries
preimages). Every refresh is incremental. A history range the feed
cannot express row-wise (a full overwrite / compaction landed since the
last refresh) degrades to a full recompute from the snapshot, flagged
``mv_resync`` in the commit meta — same answer, full-scan cost, exactly
Delta's "resync after a non-CDF commit" rule.

Two view shapes live here. ``maintain_agg_view`` keeps a plain table of
partials, overwritten per refresh — right while the group count stays
tiny (per-BU rollups). The bucketed views (join, agg, map) share
:class:`_BucketedView`: ``__kb`` partition-granular bucket replace, so a
refresh rewrites only the buckets that changed. A view over sources
bucketed the same way (stacked views) rebuilds those buckets from the
sources in place, found from the sources' logs; a view over a raw
source applies its change rows by net count.

Every single-source derived state keeps the same bookkeeping: the
source version it last absorbed, in its own commit meta, read back with
``TxnTable.meta_with``. :func:`fold_changes` is the one fold over that
high-water — ``maintain_agg_view``, the single-source bucketed views
(and through them the streaming BM25 legs, streaming/bm25.py and
streaming/chunkbm25.py) and the sketch legs (streaming/distinct.py,
streaming/sketches.py, streaming/quantiles.py) differ only in the
combine step they pass it and their meta key. :func:`pinned` is the one
serve-side pin of such a state to the source version it records. The
two-source join view keeps its own per-leg bookkeeping.
"""

from __future__ import annotations

import os
from functools import cache, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.txnlog import (
    TxnTable,
    _partition_segs,
    _Txn,
    agg_delta_from_changes,
)


def fold_changes(spark: SparkSession, source: TxnTable, state: TxnTable,
                 key: str, apply, rebuild=None,
                 replay_first: bool = False) -> int:
    """The single-source high-water fold every derived-state leg shares:
    read ``source``'s change rows since the version ``state`` last
    recorded under ``key`` (its newest commit meta carrying it), up to
    the source's version now, and hand them to ``apply(changes,
    version)``, which commits ``state`` with ``key: version`` in its
    meta. Returns the source version now reflected; nothing is applied
    when the source has not moved. Bounded to the captured version: a
    commit landing mid-fold is left to the next fold, whose
    since_version is this one's target. A crash between a leg that
    feeds ``source`` and this fold is healed by the next fold, whose
    window covers both.

    ``rebuild`` — ``callable(version, resync)`` — builds ``state`` from
    the source snapshot at ``version``: for the first fold (``resync``
    False; unless ``replay_first``, which replays the whole feed
    instead) and over history the feed cannot express row-wise
    (``resync`` True — flag the commit ``mv_resync``). Without it (the
    streaming legs) the first fold replays the whole feed and
    non-row-wise history raises ``ValueError``: a rebuild there would
    skip the leg's ledger guard and the running totals it folds into
    its commit meta."""
    sv = source.latest_version()
    if sv is None:
        raise ValueError(f"source has no commits: {source.path}")
    last = state.meta_with(key)[0].get(key, -1)
    if sv <= last:
        return last
    if last < 0 and rebuild is not None and not replay_first:
        rebuild(sv, False)
        return sv
    try:
        changes = source.read_changes(spark, since_version=last, upto=sv)
    except ValueError:
        if rebuild is None:
            raise
        rebuild(sv, True)
        return sv
    apply(changes, sv)
    return sv


def pinned(spark: SparkSession, state: TxnTable,
           key: str) -> tuple[DataFrame, int]:
    """(state read at its newest commit carrying ``key``, the source
    version ``key`` records there) — the serve-side pin of a maintained
    state and its source. Serving reads the source AT the returned
    version, and the state at the commit the bookkeeping came from: a
    fold landing between the serve's reads can then never pair fresher
    state with a staler source, or the reverse. Requires the source
    version's files to still be retained (vacuum with it as the
    retention floor — the time-travel contract)."""
    meta, v = state.meta_with(key)
    if v is None:
        raise ValueError(f"no commit of {state.path} records {key}")
    return state.read(spark, version=v), int(meta[key])


def maintain_agg_view(spark: SparkSession, source: TxnTable,
                      view: TxnTable, group_cols: list[str],
                      value_col: str,
                      capture_changes: bool = False) -> int:
    """Bring ``view`` (per-group ``cnt``/``sm`` partials over
    ``source``) up to the source's latest version. Returns the source
    version now reflected. Idempotent: re-running with no new source
    commits is a no-op (no empty commit). The first refresh replays the
    whole feed; non-row-wise history degrades to a flagged rescan from
    the snapshot.

    ``capture_changes``: write row-level change files (CHANGED GROUPS
    only — old partial rows as ``delete``, new as ``insert``, volume
    O(changed groups) per refresh, never O(groups)) with every
    incremental refresh, making the maintained view itself a CDF
    source so FURTHER incremental views consume it — e.g. a join MV
    whose one side is this aggregate (the reference's ``final`` LEFT
    JOINs the activity aggregate, read_delta.py:280-285). Rescan
    refreshes carry no row-level delta and commit without change
    files; downstream consumers resync there, Delta's rule."""
    def _meta(sv: int) -> dict:
        return {"operation": "mv_refresh", "mv_source_version": sv}

    def _apply(changes: DataFrame, sv: int) -> None:
        delta = agg_delta_from_changes(changes, group_cols, value_col)
        new = apply_delta(spark, view, delta, group_cols)
        ch_df = (agg_view_changes(spark, view, delta, group_cols, new)
                 if capture_changes else None)
        # the view is O(groups) — tiny next to the source — so an
        # atomic overwrite is the right write shape at any scale
        view.overwrite(new, _meta(sv), changes=ch_df)

    def _rescan(sv: int, _resync: bool) -> None:
        snap = source.read(spark, version=sv)
        view.overwrite(_partials(snap, group_cols, value_col),
                       {**_meta(sv), "mv_resync": True})

    return fold_changes(spark, source, view, "mv_source_version", _apply,
                        _rescan, replay_first=True)


def agg_view_changes(spark: SparkSession, view: TxnTable,
                     delta: DataFrame, group_cols: list[str],
                     new: DataFrame) -> DataFrame:
    """CHANGED-GROUPS row-level change frame for an agg-view refresh
    (old partial rows as ``delete``, new as ``insert`` — O(changed
    groups) volume). Shared by the batch ``maintain_agg_view`` and the
    streaming leg (``streaming/mv.write_stream_agg_view``), so both
    write shapes make the maintained aggregate a CDF source."""
    changed = (delta.filter((F.col("d_count") != 0)
                            | (F.col("d_sum") != 0))
               .select(*group_cols))
    ins = (_semi_nullsafe(new, changed, group_cols)
           .withColumn("_change_type", F.lit("insert")))
    if view.latest_version() is None:
        return ins
    return (_semi_nullsafe(view.read(spark), changed, group_cols)
            .withColumn("_change_type", F.lit("delete"))
            .unionByName(ins))


def _nullsafe_on(a: DataFrame, b: DataFrame, cols: list[str]):
    """Join condition: ``a`` and ``b`` equal on every column of
    ``cols``, NULL matching NULL (group and row columns can be NULL; a
    plain column-name join would drop the NULL group)."""
    return reduce(lambda x, y: x & y,
                  [a[c].eqNullSafe(b[c]) for c in cols])


def _semi_nullsafe(df: DataFrame, keys_df: DataFrame,
                   cols: list[str]) -> DataFrame:
    """LEFT SEMI join on ``cols`` with NULL-safe equality."""
    a, b = df.alias("a"), keys_df.alias("b")
    return a.join(b, _nullsafe_on(a, b, cols), "left_semi")


def apply_delta(spark: SparkSession, view: TxnTable, delta: DataFrame,
                group_cols: list[str]) -> DataFrame:
    """Current partials of ``view`` + a signed delta frame
    (d_count/d_sum) → the new partials."""
    if view.latest_version() is None:
        return _as_partials(delta, group_cols)
    return _merge_partials(view.read(spark), delta, group_cols)


def _as_partials(delta: DataFrame, group_cols: list[str]) -> DataFrame:
    """A signed delta applied to NO partials: its groups with a nonzero
    net count are the new partials (deletes cancel inserts)."""
    return (delta.select(
        *group_cols,
        F.col("d_count").alias("cnt"), F.col("d_sum").alias("sm"))
        .filter(F.col("cnt") != 0))


def _merge_partials(cur: DataFrame, delta: DataFrame,
                    group_cols: list[str]) -> DataFrame:
    """Partials ``cur`` (cnt/sm) full-outer a signed delta
    (d_count/d_sum) → the new partials. Fully-deleted groups (cnt
    reaches 0) drop, matching GROUP BY over the post-delete source."""
    c, d = cur.alias("c"), delta.alias("d")
    return (c.join(d, _nullsafe_on(c, d, group_cols), "full_outer")
            .select(
                *[F.coalesce(c[g], d[g]).alias(g) for g in group_cols],
                (F.coalesce(c["cnt"], F.lit(0))
                 + F.coalesce(d["d_count"], F.lit(0))).alias("cnt"),
                (F.coalesce(c["sm"], F.lit(0))
                 + F.coalesce(d["d_sum"], F.lit(0))).alias("sm"))
            .filter(F.col("cnt") != 0))


def _partials(df: DataFrame, group_cols: list[str],
              value_col: str) -> DataFrame:
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(value_col).alias("sm"))


def read_agg_view(spark: SparkSession, view: TxnTable) -> DataFrame:
    """The maintained aggregates, with the derived mean (partials
    compose; avg never does — it is derived at read time)."""
    v = view.read(spark)
    return v.select(*[c for c in v.columns if c not in ("cnt", "sm")],
                    F.col("cnt"), F.col("sm"),
                    (F.col("sm") / F.col("cnt")).alias("mean"))


# --- bucketed materialized views ----------------------------------------

def buckets_for_rows(n_rows: int, target_rows: int = 100_000) -> int:
    """Bucket-count policy for the join state: hold E[bucket width]
    near ``target_rows`` so a few-keys refresh rewrites a bounded
    number of rows REGARDLESS of corpus size — the ivf.k_for_corpus
    discipline applied to partition-granular maintenance. At a fixed
    bucket count, bucket width (and so refresh cost) would grow
    linearly with the corpus."""
    return max(8, min(65_536, -(-n_rows // max(target_rows, 1))))


def _is_bucket_leaf(rel_dir: str) -> bool:
    return [c for c, _ in _partition_segs(rel_dir)] == ["__kb"]


class _BucketedView:
    """The bucket machinery every bucketed view shares: one view table
    partitioned by ``__kb = pmod(hash(keys), n_buckets)``, written
    either whole (a (re)build) or bucket by bucket (a refresh replaces
    exactly the buckets that changed). ``keys``: one column name or a
    list of them.

    Every view commit records its layout in its meta —
    ``mv_bucket_by = {keys, n_buckets}`` — and the bucket ids it
    replaced as ``mv_buckets`` (every bucket for a whole-table build).
    A source whose newest ``mv_bucket_by`` equals this view's layout
    SHARES its buckets: a view row's bucket holds exactly the source
    rows it derives from. A refresh over such sources reads their
    changed buckets from the log alone (:meth:`_changed_buckets`, no
    Spark job) and rebuilds each from the source rows in place — no
    copy of the source, one commit. Only a raw source (a table no view
    maintains, or one bucketed another way) has its change rows applied
    by NET ROW COUNT — inserts/postimages +1, deletes/preimages -1,
    summed per exact row value, so application is correct for arbitrary
    multisets and independent of commit order — to the buckets its
    changed keys hash to (a bounded collect). With ``capture_changes``
    every bucket replace of the view also writes change files, so the
    view is itself a CDF source and views over raw-source paths stack
    on it too.

    A table with no commit yet is not built bucket by bucket: the first
    batch's NET rows become the whole table in one ``_replace_all``
    commit, with no affected-bucket collect, no join against empty
    state and no change files. A first commit without removes reads as
    a plain append (every row an ``insert``) in the table's change
    feed, so views stacked on it see the same rows either way."""

    def __init__(self, view_root: str, keys, n_buckets: int,
                 capture_changes: bool):
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.n_buckets = n_buckets
        self.capture_changes = capture_changes
        self.view = TxnTable(view_root)

    def read(self, spark: SparkSession) -> DataFrame:
        return self.view.read(spark).drop("__kb")

    def _bucket(self):
        return F.pmod(F.hash(*[F.col(k) for k in self.keys]),
                      F.lit(self.n_buckets)).cast("int")

    # -- buckets shared with a source ---------------------------------

    def _layout(self) -> dict:
        """This view's bucket layout, as ``mv_bucket_by`` records it."""
        return {"keys": self.keys, "n_buckets": self.n_buckets}

    def _view_meta(self, meta: dict, buckets) -> dict:
        return {**meta, "mv_bucket_by": self._layout(),
                "mv_buckets": sorted(buckets)}

    def _shares_buckets(self, source: TxnTable, version: int) -> bool:
        """True when ``source``'s newest layout record at ``version`` is
        this view's layout. The log is walked back only past commits
        that record none (a compaction) on a table with ``__kb=``
        leaves: a raw table answers from its newest commit and its
        live dirs, whatever the length of its log."""
        meta = source.metas(version - 1, version)[0]
        if "mv_bucket_by" not in meta:
            if not any(map(_is_bucket_leaf, source.snapshot_dirs(version))):
                return False
            meta = source.meta_with("mv_bucket_by", version)[0]
        return meta.get("mv_bucket_by") == self._layout()

    def _changed_buckets(self, source: TxnTable, since: int,
                         upto: int) -> list[int]:
        """The buckets ``source``'s commits in (``since``, ``upto``]
        replaced: the union of their ``mv_buckets``, read from the log
        alone. A commit that records none under this layout (a
        compaction, an overwrite or resync, a foreign write) and a
        first build (``since`` < 0) mean every bucket."""
        every = list(range(self.n_buckets))
        if since < 0:
            return every
        out: set[int] = set()
        for meta in source.metas(since, upto):
            if (meta.get("mv_bucket_by") != self._layout()
                    or "mv_buckets" not in meta):
                return every
            out.update(meta["mv_buckets"])
        return sorted(out)

    def _source_rows(self, spark, source: TxnTable, version: int,
                     buckets: list[int] | None = None) -> DataFrame:
        """``source``'s rows at ``version`` (``__kb`` dropped), only
        those of ``buckets`` when given. The read is pruned to those
        buckets' ``__kb=`` leaves when every row at ``version`` lives in
        one; otherwise (rows a foreign write left outside the layout)
        the source is read whole and re-bucketed, so no row is missed."""
        if buckets is not None and len(buckets) < self.n_buckets:
            rows = source._live_rows(version)  # noqa: SLF001
            if all(n == 0 or _is_bucket_leaf(d) for d, n in rows.items()):
                return (self._read_buckets(spark, source, buckets, version)
                        .drop("__kb"))
            return (source.read(spark, version=version).drop("__kb")
                    .filter(self._bucket().isin(buckets)))
        return source.read(spark, version=version).drop("__kb")

    # -- change rows from a raw source ----------------------------------

    def _affected(self, df: DataFrame):
        """A memoized callable: the sorted ids of the buckets ``df``'s
        keys hash to — a bounded collect, at most n_buckets ints (the
        scd2.py discipline), run only when a bucket replace needs it."""
        return cache(lambda: sorted(
            r["__kb"] for r in df.select(self._bucket().alias("__kb"))
            .distinct().collect()))

    def _counted_rows(self, df: DataFrame, cols: list[str],
                      n: str) -> DataFrame:
        """``cols`` repeated by count column ``n`` (rows with ``n <= 0``
        vanish), bucketed."""
        return (df.filter(F.col(n) > 0).select(
            *cols,
            F.explode(F.sequence(F.lit(1),
                                 F.col(n).cast("int"))).alias("__i"))
            .drop("__i")
            .withColumn("__kb", self._bucket()))

    @staticmethod
    def _read_buckets(spark, state: TxnTable, affected: list[int],
                      version: int | None = None) -> DataFrame:
        """Partition-pruned bucket read, empty-graceful: a bucket can
        be live on one side only (read_partitions raises when nothing
        matches)."""
        try:
            return state.read_partitions(spark, affected, version)
        except ValueError:
            return (state.read(spark, version=version).limit(0)
                    .withColumn("__kb", F.lit(0).cast("int")))

    def _replace_all(self, tbl: TxnTable, df: DataFrame,
                     meta: dict) -> None:
        """Whole-table replace for a (re)build: ``df`` (with ``__kb``)
        becomes ``tbl``'s entire content in one commit. A partitioned
        write of ZERO rows leaves no files at all, which would commit
        an unreadable first snapshot (no schema source) — an empty
        side of a join is legal (e.g. an activity feed that has not
        delivered yet), so fall back to ONE 0-row plain file that
        carries the schema; later partition-granular commits coexist
        with it (mixed plain/partitioned reads are the normal txnlog
        read path). The commit is based on the version read first, -1
        for an empty table, so a racing first commit conflicts instead
        of being built over."""
        if tbl is self.view:
            meta = self._view_meta(meta, range(self.n_buckets))

        def attempt(base: int) -> _Txn:
            adds = tbl._write_data_partitioned(df, "__kb")  # noqa: SLF001
            m = meta
            if adds:
                m = {**meta, "partition_by": "__kb"}
            else:
                adds = [tbl._write_data(df.repartition(1))]  # noqa: SLF001
            return _Txn(adds, tbl.snapshot_dirs(base) if base >= 0 else [],
                        m)

        tbl._transact(attempt)  # noqa: SLF001

    def _apply_side(self, spark, state: TxnTable, changes: DataFrame,
                    affected, meta: dict) -> None:
        """Apply change rows to ``state`` by net row count, replacing
        the buckets ``affected()`` names — or, while ``state`` has no
        commit, building it whole from the net rows."""
        cols = [c for c in changes.columns
                if c not in ("_change_type", "_commit_version")]
        net = (changes
               .withColumn("__w", F.when(
                   F.col("_change_type").isin("insert",
                                              "update_postimage"),
                   F.lit(1)).otherwise(F.lit(-1)))
               .groupBy(*cols).agg(F.sum("__w").alias("__net")))
        if state.latest_version() is None:
            self._replace_all(state,
                              self._counted_rows(net, cols, "__net"), meta)
            return
        old = (self._read_buckets(spark, state, affected())
               .drop("__kb")
               .groupBy(*cols).agg(F.count(F.lit(1)).alias("__cur")))
        o, n = old.alias("o"), net.alias("n")
        total = (o.join(n, _nullsafe_on(o, n, cols), "full_outer")
                 .select(*[F.coalesce(o[c], n[c]).alias(c)
                           for c in cols],
                         (F.coalesce(o["__cur"], F.lit(0))
                          + F.coalesce(n["__net"], F.lit(0)))
                         .alias("__n")))
        self._replace_buckets(state, self._counted_rows(total, cols, "__n"),
                              affected(), meta)

    def _replace_buckets(self, table: TxnTable, df: DataFrame,
                         affected: list[int], meta: dict) -> None:
        """Partition-granular replace of exactly the affected buckets —
        unlike overwrite_partitions (which replaces partitions PRESENT
        in df), this also removes a bucket the delta emptied. When the
        table being replaced is the VIEW, the commit records the layout
        and ``affected`` (:meth:`_view_meta`), and with
        ``capture_changes`` it also writes change files (old bucket
        rows as ``delete``, new rows as ``insert`` — unchanged rows
        inside a replaced bucket appear as a cancelling delete+insert
        pair, which every net-count/partial-sum consumer absorbs), so
        the maintained view is itself a row-wise CDF source and views
        that apply change rows stack on top of it (an agg MV over the
        join MV — see tests/test_mv.py stacked test). Change volume is
        O(replaced buckets), the same order as the write itself.
        ``table`` has a commit: an empty one is built by
        :meth:`_replace_all`."""
        aff = {f"__kb={v}" for v in affected}
        if table is self.view:
            meta = self._view_meta(meta, affected)

        def attempt(base: int) -> _Txn:
            live = table.snapshot_dirs(base)
            adds = table._write_data_partitioned(df, "__kb")  # noqa: SLF001
            stray = [a for a in adds if os.path.basename(a) not in aff]
            if stray:  # delta rows must land in affected buckets only
                raise AssertionError(
                    f"rows outside affected buckets: {stray}")
            changes_rel = None
            if self.capture_changes and table is self.view:
                old = self._read_buckets(df.sparkSession, table, affected)
                changes_rel = table._write_changes(  # noqa: SLF001
                    old.withColumn("_change_type", F.lit("delete"))
                    .unionByName(
                        df.withColumn("_change_type", F.lit("insert"))))
            return _Txn(adds, [d for d in live
                               if os.path.basename(d) in aff],
                        {**meta, "partition_by": "__kb"},
                        changes=changes_rel)

        table._transact(attempt)  # noqa: SLF001


class JoinMaterializedView(_BucketedView):
    """Inner or left equi-join of two txn tables, maintained
    incrementally — the reference's ``final`` table is a JOIN rebuilt
    wholesale every DAG run (read_delta.py:280-285); at 100 TB a
    refresh must cost O(changed keys), not O(join).

    Two paths, chosen per refresh from the sources' logs (no option):

    - **Sources that share this view's buckets** (both are bucketed
      views with this view's ``keys`` and ``n_buckets`` — e.g. a join
      over another join view and an agg view): the refresh joins the
      two sources' changed buckets, read in place at the pinned
      ``(lv, rv)``, and replaces those buckets of the view in ONE
      commit. The first build is the join of the two snapshots. No
      replica is written.
    - **Raw sources**: the classic streaming-join state shape (what
      Flink keeps for a two-sided join), materialized on the lakehouse
      — three bucketed tables under one root, a keyed replica of each
      side (the per-key state) and the join output. A refresh (1)
      reads each side's change feed bounded to the captured version,
      (2) derives the set of AFFECTED BUCKETS from the changed keys,
      (3) applies each side's delta to its replica by net row count
      and (4) recomputes the join for those buckets only, from the
      partition-pruned replicas, never touching the sources. The first
      refresh builds all three tables from the source snapshots.
      Non-row-wise source history (overwrite / uncaptured-DV delete —
      the feed raises) degrades to a flagged full rebuild, after which
      incremental maintenance resumes.

    Every read and write in a refresh is partition-granular
    (``commit(adds, removes)`` of ``__kb=`` subdirs), so refresh cost
    is O(changed keys x bucket width) while a rebuild pays O(join).
    Join columns other than the keys must be distinct between the two
    sides."""

    def __init__(self, root: str, key, n_buckets: int = 32,
                 how: str = "inner", capture_changes: bool = False):
        """``how``: ``"inner"`` or ``"left"`` (the reference's
        ``final`` table is a LEFT join — read_delta.py:280-285, NULL
        counts preserved). Because a refresh RECOMPUTES the affected
        buckets — from the sources in place or from the keyed
        replicas — and never reasons about delta-join algebra, any
        join type that is local to a key bucket is maintained
        correctly, including the appearing/disappearing NULL-padded
        rows that make left-outer delta rules hard in the classical
        formulation.

        ``capture_changes``: write row-wise change files with every
        view commit, so the maintained view is itself a CDF source and
        further incremental views stack on it (resync rebuilds remain
        full overwrites — downstream consumers resync there, as
        Delta's rule requires)."""
        if how not in ("inner", "left"):
            raise ValueError(f"unsupported join type: {how!r}")
        super().__init__(f"{root}/join", key, n_buckets, capture_changes)
        self.how = how
        self.left_state = TxnTable(f"{root}/left_state")
        self.right_state = TxnTable(f"{root}/right_state")

    # -- public ------------------------------------------------------

    def refresh(self, spark: SparkSession, left: TxnTable,
                right: TxnTable) -> tuple[int, int]:
        """Bring the join view up to (left.latest, right.latest);
        returns the (left, right) versions now reflected. No-op (no
        empty commits) when neither source moved."""
        lv, rv = left.latest_version(), right.latest_version()
        if lv is None or rv is None:
            raise ValueError("both sources need at least one commit")
        last = self.view.meta_with("mv_left_version")[0]
        llast = last.get("mv_left_version", -1)
        rlast = last.get("mv_right_version", -1)
        if lv <= llast and rv <= rlast:
            return llast, rlast
        meta = {"operation": "join_mv_refresh",
                "mv_left_version": lv, "mv_right_version": rv}
        if self._shares_buckets(left, lv) and self._shares_buckets(right, rv):
            return self._refresh_in_place(spark, left, right, llast, rlast,
                                          lv, rv, meta)
        if llast < 0:  # first build
            self._rebuild(spark, left, right, lv, rv, meta)
            return lv, rv
        if self._replicas_behind(llast, rlast):
            # the view moved without its replicas (their sources shared
            # its buckets then): rebuild them with it
            self._rebuild(spark, left, right, lv, rv,
                          {**meta, "mv_resync": True})
            return lv, rv
        try:
            lch = left.read_changes(spark, since_version=llast, upto=lv)
            rch = right.read_changes(spark, since_version=rlast, upto=rv)
            # Crash idempotence: the three commits a refresh makes
            # (left state, right state, view) are not atomic, and only
            # the VIEW's commit advances (llast, rlast). A crash after
            # a state leg leaves that replica AHEAD of the view's
            # record; blindly re-applying the view-window deltas would
            # double-count into it. Each state leg therefore uses ITS
            # OWN recorded high-water (every _apply_side commit
            # carries mv_left/right_version): a leg already at the
            # target gets an empty delta (its bucket contents are
            # still re-read and re-joined for the view), a leg partway
            # ahead gets only its unapplied remainder.
            lst = self._state_leg_feed(spark, left, self.left_state,
                                       llast, lv, lch)
            rst = self._state_leg_feed(spark, right, self.right_state,
                                       rlast, rv, rch)
        except ValueError:
            self._rebuild(spark, left, right, lv, rv,
                          {**meta, "mv_resync": True})
            return lv, rv
        if not self.apply_change_batch(spark, lch, rch, meta,
                                       lch_state=lst, rch_state=rst):
            return llast, rlast  # no changed keys: no empty commit
        return lv, rv

    def _refresh_in_place(self, spark, left: TxnTable, right: TxnTable,
                          llast: int, rlast: int, lv: int, rv: int,
                          meta: dict) -> tuple[int, int]:
        """The refresh over two sources that share this view's buckets:
        one view commit of the join of their changed buckets, read at
        the pinned ``(lv, rv)`` — or, for the first build, of their
        snapshots. A crash before the commit leaves the view's record
        where it was, so the retry reads the same log range."""
        if llast < 0:
            self._replace_all(self.view, self._join_of(
                self._source_rows(spark, left, lv),
                self._source_rows(spark, right, rv)), meta)
            return lv, rv
        buckets = sorted(set(self._changed_buckets(left, llast, lv))
                         | set(self._changed_buckets(right, rlast, rv)))
        if not buckets:
            return llast, rlast  # no bucket changed: no empty commit
        self._replace_buckets(self.view, self._join_of(
            self._source_rows(spark, left, lv, buckets),
            self._source_rows(spark, right, rv, buckets)), buckets, meta)
        return lv, rv

    def _replicas_behind(self, llast: int, rlast: int) -> bool:
        """True when a replica's own record is older than the view's
        ``(llast, rlast)`` (or it has none)."""
        return any(
            state.meta_with(key)[0].get(key, -1) < last
            for state, key, last in (
                (self.left_state, "mv_left_version", llast),
                (self.right_state, "mv_right_version", rlast)))

    def _state_leg_feed(self, spark, source: TxnTable,
                        state: TxnTable, view_last: int, target: int,
                        view_feed: DataFrame):
        """The change feed one state replica still needs, given what
        its own commit meta says it already absorbed. ``view_feed`` is
        the view-window feed (since the VIEW's recorded version);
        normally the state matches the view and gets it unchanged."""
        if state.latest_version() is None:
            return view_feed
        own_key = ("mv_left_version" if state is self.left_state
                   else "mv_right_version")
        m = state.meta_with(own_key)[0]
        own = m.get(own_key, view_last)
        if own <= view_last:
            return view_feed          # state in lockstep with view
        if own >= target:
            return view_feed.limit(0)  # leg fully applied: empty delta
        return source.read_changes(spark, since_version=own,
                                   upto=target)

    def apply_change_batch(self, spark: SparkSession, lch: DataFrame,
                           rch: DataFrame, meta: dict,
                           guard=None, lch_state: DataFrame = None,
                           rch_state: DataFrame = None) -> list[int]:
        """Apply one batch of change rows (read_changes shape: data
        columns + ``_change_type``) from each side and re-join the
        affected buckets; returns the affected bucket ids (every bucket
        when all three tables were still empty: each is then built
        whole, one commit per table, the view as the join of the
        states). The shared
        core of the batch ``refresh`` and the streaming maintenance
        (streaming/joinmv.py): ``guard`` — a
        ``callable(table, leg_fn)`` — wraps each of the three commits
        (left state, right state, view) so the streaming sink can make
        every leg individually replay-guarded; each leg recomputes
        from current state, so a guarded retry after a lost race is
        safe. ``lch_state``/``rch_state`` (batch crash-resume): the
        feed actually applied to a state replica, when it differs from
        the affected-bucket window ``lch``/``rch`` — a leg whose prior
        commit already absorbed part of the window gets only the
        remainder (see ``_state_leg_feed``); affected buckets are
        always computed from the FULL view window so the view re-join
        covers everything since its own record. Raises ``ValueError``
        when the view has commits but a replica has none (a view
        ``refresh`` built in place): building that replica from one
        batch would silently drop every row the batch does not
        carry."""
        run = guard if guard is not None else (lambda table, fn: fn())
        # "__kb" is reserved: a source that is ITSELF a maintained
        # bucketed view (stacked join MVs) carries its own bucket
        # column in snapshots and change files; it is physical layout,
        # not data — strip it so this view re-buckets by its own fn
        lch, rch = lch.drop("__kb"), rch.drop("__kb")
        if lch_state is not None:
            lch_state = lch_state.drop("__kb")
        if rch_state is not None:
            rch_state = rch_state.drop("__kb")
        bare = [t.path for t in (self.left_state, self.right_state)
                if t.latest_version() is None]
        if bare and self.view.latest_version() is not None:
            raise ValueError(
                f"join view {self.view.path} has commits but its "
                f"replica(s) {bare} have none: it was built in place "
                "from sources that share its buckets, so change rows "
                "cannot be applied to it. Keep maintaining it with "
                "JoinMaterializedView.refresh, or feed change rows to "
                "a view under a new root")
        affected = self._affected(
            lch.select(*self.keys)
            .unionByName(rch.select(*self.keys)).distinct())
        fresh = all(t.latest_version() is None for t in
                    (self.left_state, self.right_state, self.view))
        if not fresh and not affected():
            return []
        lapply = lch if lch_state is None else lch_state
        rapply = rch if rch_state is None else rch_state
        run(self.left_state,
            lambda: self._apply_side(spark, self.left_state, lapply,
                                     affected, meta))
        run(self.right_state,
            lambda: self._apply_side(spark, self.right_state, rapply,
                                     affected, meta))

        def _view_leg():
            if self.view.latest_version() is None:
                self._replace_all(self.view, self._join_of(
                    self.left_state.read(spark),
                    self.right_state.read(spark)), meta)
                return
            joined = self._join_of(
                self._read_buckets(spark, self.left_state, affected()),
                self._read_buckets(spark, self.right_state, affected()))
            self._replace_buckets(self.view, joined, affected(), meta)

        run(self.view, _view_leg)
        return list(range(self.n_buckets)) if fresh else affected()

    # -- internals ---------------------------------------------------

    def _join_of(self, l: DataFrame, r: DataFrame) -> DataFrame:
        """``l`` joined with ``r`` on the keys, bucketed (a side's own
        ``__kb`` is dropped)."""
        l, r = l.drop("__kb"), r.drop("__kb")
        lc = [c for c in l.columns if c not in self.keys]
        rc = [c for c in r.columns if c not in self.keys]
        return (l.join(r, self.keys, self.how)
                .select(*self.keys, *lc, *rc)
                .withColumn("__kb", self._bucket()))

    def _rebuild(self, spark, left, right, lv, rv, meta) -> None:
        ls, rs = (self._source_rows(spark, t, v).withColumn("__kb",
                                                            self._bucket())
                  for t, v in ((left, lv), (right, rv)))
        for tbl, df in ((self.left_state, ls), (self.right_state, rs),
                        (self.view, self._join_of(ls, rs))):
            self._replace_all(tbl, df, meta)


class _SingleSourceView(_BucketedView):
    """A bucketed view over ONE CDF source, whose view table is its
    only state. Subclasses name their commits (``NAME``), derive the
    view from a source snapshot (``_from_snapshot``) and apply a batch
    of change rows (``apply_change_batch``)."""

    #: commit operations are ``<NAME>_refresh`` (batch refresh) and
    #: ``<NAME>_stream_refresh`` (streaming/mv.write_stream_bucketed_view)
    NAME: str

    def refresh(self, spark: SparkSession, source: TxnTable) -> int:
        """Bring the view up to ``source.latest_version()``; returns
        the source version now reflected. No empty commits. The first
        refresh builds from the source snapshot. Over a source that
        shares this view's buckets, a refresh rebuilds the changed
        buckets from the source's rows at its version (one commit; a
        resync is the every-bucket case). Over a raw source it applies
        the change rows, and history the feed cannot express row-wise
        makes a flagged (``mv_resync``) rebuild from the snapshot."""
        meta = {"operation": f"{self.NAME}_refresh"}
        sv = source.latest_version()
        if sv is None or not self._shares_buckets(source, sv):
            return self.fold(spark, source, meta, rebuild=self._rebuild_from)
        last = (self.view.meta_with("mv_source_version")[0]
                .get("mv_source_version", -1))
        if sv <= last:
            return last
        meta["mv_source_version"] = sv
        if last < 0:
            self._rebuild_from(spark, source, sv, meta)
            return sv
        buckets = self._changed_buckets(source, last, sv)
        if not buckets:
            return last  # no bucket changed: no empty commit
        self._replace_buckets(
            self.view, self._bucketed(
                self._source_rows(spark, source, sv, buckets)),
            buckets, meta)
        return sv

    def fold(self, spark: SparkSession, source: TxnTable, meta: dict,
             guard=None, rebuild=None) -> int:
        """:func:`fold_changes` over this view under
        ``mv_source_version``: the change rows since the view's record
        go through ONE ``apply_change_batch`` (``guard`` passed
        through) whose commit meta is ``meta`` plus the new
        ``mv_source_version``. ``rebuild`` — ``callable(spark, source,
        version, meta)`` — is how :meth:`refresh` builds the first view
        and resyncs from the snapshot; the streaming index legs pass
        none."""
        def _meta(sv: int, resync: bool = False) -> dict:
            return {**meta, "mv_source_version": sv,
                    **({"mv_resync": True} if resync else {})}

        return fold_changes(
            spark, source, self.view, "mv_source_version",
            lambda ch, sv: self.apply_change_batch(spark, ch, _meta(sv),
                                                   guard=guard),
            rebuild and (lambda sv, resync: rebuild(
                spark, source, sv, _meta(sv, resync))))

    def _rebuild_from(self, spark, source: TxnTable, sv: int,
                      meta: dict) -> None:
        self._replace_all(self.view, self._bucketed(
            self._source_rows(spark, source, sv)), meta)

    def _bucketed(self, rows: DataFrame) -> DataFrame:
        """The view rows derived from source ``rows``, bucketed."""
        return self._from_snapshot(rows).withColumn("__kb", self._bucket())


class MapMaterializedView(_SingleSourceView):
    """Row-wise PROJECTION materialized view over one CDF source: the
    maintained form of a SELECT-expression layer — the reference's
    flagship prime/total-salary query (README.md:140-164) is exactly
    this over its ``final`` table. A refresh maps the source's change
    rows through ``map_fn`` (1:1, row-wise — no joins, no aggregates)
    and applies them by net row count to the bucketed view, so refresh
    cost is O(changed rows x bucket width), never O(view).

    ``map_fn`` must be a deterministic per-row DataFrame transform that
    PRESERVES the key columns; change rows are projected sign-by-sign
    (inserted rows through the map stay inserts, deleted stay deletes),
    which is correct precisely because the map is a function of the
    row."""

    NAME = "map_mv"

    def __init__(self, root: str, key, map_fn, n_buckets: int = 32,
                 capture_changes: bool = False):
        super().__init__(root, key, n_buckets, capture_changes)
        self.map_fn = map_fn

    def apply_change_batch(self, spark: SparkSession, ch: DataFrame,
                           meta: dict, guard=None) -> list[int]:
        """Apply one batch of change rows (read_changes shape) through
        the projection; returns the affected bucket ids (every bucket
        when it built the empty view whole). The shared
        core of the batch ``refresh`` and the streaming maintenance
        (``streaming/mv.write_stream_bucketed_view``); ``guard`` wraps
        the single view commit the same way the join MV's legs are
        wrapped, so the streaming sink is replay-guarded."""
        run = guard if guard is not None else (lambda table, fn: fn())
        ch = ch.drop("_commit_version", "__kb")
        ct = F.col("_change_type")
        # project sign-by-sign: map_fn sees plain data rows (its select
        # list need not carry _change_type through)
        pos = (self.map_fn(
            ch.filter(ct.isin("insert", "update_postimage"))
            .drop("_change_type"))
            .withColumn("_change_type", F.lit("insert")))
        neg = (self.map_fn(
            ch.filter(ct.isin("delete", "update_preimage"))
            .drop("_change_type"))
            .withColumn("_change_type", F.lit("delete")))
        projected = pos.unionByName(neg)
        affected = self._affected(projected)
        fresh = self.view.latest_version() is None
        if not fresh and not affected():
            return []  # nothing changed: no empty commit
        run(self.view,
            lambda: self._apply_side(spark, self.view, projected,
                                     affected, meta))
        return list(range(self.n_buckets)) if fresh else affected()

    def _from_snapshot(self, snap: DataFrame) -> DataFrame:
        return self.map_fn(snap)


class AggMaterializedView(_SingleSourceView):
    """Per-group partials (cnt/sm) maintained BUCKETED: the
    ``maintain_agg_view`` semantics on the ``__kb`` partition-granular
    layout, for aggregates whose group count scales WITH the corpus
    (e.g. per-employee activity partials — O(groups) = O(dimension
    rows)). The plain agg view overwrites its whole table every
    refresh, which is fine while groups are tiny (per-BU rollups) but
    becomes the chain's bottleneck when groups track the corpus:
    measured in scripts/bench_final_pipeline_stress.py, the composed
    pipeline's refresh slope was the agg overwrite. Here a refresh
    applies the signed delta to ONLY the affected buckets (read
    affected, full-outer with the delta, replace affected), so cost is
    O(changed groups x bucket width) — and ``capture_changes`` makes
    the bucketed view a CDF source through the same bucket-level
    change files the join MV writes, so downstream views stack."""

    NAME = "agg_mv"

    def __init__(self, root: str, group_cols, value_col: str,
                 n_buckets: int = 32, capture_changes: bool = False):
        super().__init__(root, group_cols, n_buckets, capture_changes)
        self.value_col = value_col

    def apply_change_batch(self, spark: SparkSession, ch: DataFrame,
                           meta: dict, guard=None) -> list[int]:
        """Apply one batch of source change rows; returns the affected
        bucket ids (every bucket when it built the empty view whole).
        ``guard`` wraps the single commit for streaming replay
        protection (same contract as the join MV's legs)."""
        run = guard if guard is not None else (lambda table, fn: fn())
        delta = agg_delta_from_changes(ch.drop("__kb"), self.keys,
                                       self.value_col)
        changed = delta.filter((F.col("d_count") != 0)
                               | (F.col("d_sum") != 0))
        affected = self._affected(changed)
        fresh = self.view.latest_version() is None
        if not fresh and not affected():
            return []

        def _leg():
            if self.view.latest_version() is None:
                self._replace_all(self.view, _as_partials(
                    changed, self.keys).withColumn("__kb", self._bucket()),
                    meta)
                return
            old = (self._read_buckets(spark, self.view, affected())
                   .drop("__kb"))
            new = (_merge_partials(old, changed, self.keys)
                   .withColumn("__kb", self._bucket()))
            self._replace_buckets(self.view, new, affected(), meta)

        run(self.view, _leg)
        return list(range(self.n_buckets)) if fresh else affected()

    def initialize_empty(self, spark: SparkSession, source: TxnTable,
                         meta: dict | None = None) -> None:
        """Materialize ZERO partials (schema only, one 0-row data
        file) for a view whose source feed has not delivered any rows
        yet — so a downstream LEFT join can build against it instead
        of waiting forever (the reference's ``final`` keeps employee
        rows with NULL aggregates when no activities exist,
        read_delta.py:280-294). Deliberately records NO
        ``mv_source_version``: nothing from the feed is considered
        absorbed, so a later batch refresh folds the entire feed and
        the streaming ledger guards its own commits. It records the
        layout with no replaced bucket (``mv_buckets: []``), so a view
        stacked on this one rebuilds nothing for it. No-op if the view
        already has a commit."""
        if self.view.latest_version() is not None:
            return
        src = source.read(spark).limit(0)
        empty = (self._bucketed(src.drop("__kb"))
                 .repartition(1))  # one 0-row file carries the schema
        self.view.append(empty, self._view_meta(
            {**(meta or {}), "operation": "agg_mv_init_empty"}, []))

    def _from_snapshot(self, snap: DataFrame) -> DataFrame:
        return _partials(snap, self.keys, self.value_col)

    def read(self, spark: SparkSession,
             version: int | None = None) -> DataFrame:
        """Partials + derived mean, __kb stripped. ``version`` pins the
        read at a specific view commit (serve-snapshot discipline)."""
        v = self.view.read(spark, version=version).drop("__kb")
        return v.withColumn("mean", F.col("sm") / F.col("cnt"))
