"""Incremental materialized-view maintenance (operators/mv.py): the
partials maintained from the change feed must equal the direct
aggregation of the source snapshot after ANY commit sequence, including
histories the feed cannot express row-wise (resync path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (
    maintain_agg_view,
    read_agg_view,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, grp string, val int")


def _want(spark, src):
    return {(r.grp, r.cnt, r.sm) for r in
            src.read(spark).groupBy("grp")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("val").alias("sm")).collect()}


def _got(spark, view):
    return {(r.grp, r.cnt, r.sm) for r in
            read_agg_view(spark, view).collect()}


def test_mv_incremental_equals_recompute(spark, tmp_path):
    src = TxnTable(str(tmp_path / "src"))
    view = TxnTable(str(tmp_path / "view"))
    src.append(_df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5)]))
    assert maintain_agg_view(spark, src, view, ["grp"], "val") == 0
    assert _got(spark, view) == _want(spark, src)
    # merge (update + insert), rewrite delete, DV delete — each applied
    # as its own delta
    src.merge(spark, _df(spark, [(1, "a", 100), (4, "c", 7)]), "id")
    maintain_agg_view(spark, src, view, ["grp"], "val")
    assert _got(spark, view) == _want(spark, src)
    src.delete_where(spark, "id = 2")
    maintain_agg_view(spark, src, view, ["grp"], "val")
    assert _got(spark, view) == _want(spark, src)
    src.delete_where(spark, "id = 4", use_dv=True)
    maintain_agg_view(spark, src, view, ["grp"], "val")
    assert _got(spark, view) == _want(spark, src)
    assert ("c", 1, 7) not in _got(spark, view)  # group fully deleted


def test_mv_refresh_is_idempotent_and_batched(spark, tmp_path):
    src = TxnTable(str(tmp_path / "src"))
    view = TxnTable(str(tmp_path / "view"))
    src.append(_df(spark, [(1, "a", 1)]))
    v = maintain_agg_view(spark, src, view, ["grp"], "val")
    before = view.latest_version()
    # no new source commits: no-op, no empty commit
    assert maintain_agg_view(spark, src, view, ["grp"], "val") == v
    assert view.latest_version() == before
    # several source commits between refreshes: one combined delta
    src.append(_df(spark, [(2, "a", 2)]))
    src.append(_df(spark, [(3, "b", 3)]))
    maintain_agg_view(spark, src, view, ["grp"], "val")
    assert _got(spark, view) == _want(spark, src)
    assert view.latest_version() == before + 1


def test_mv_resyncs_over_non_cdf_history(spark, tmp_path):
    src = TxnTable(str(tmp_path / "src"))
    view = TxnTable(str(tmp_path / "view"))
    src.append(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    maintain_agg_view(spark, src, view, ["grp"], "val")
    # full overwrite: not row-wise expressible -> full resync, flagged
    src.overwrite(_df(spark, [(9, "z", 9)]))
    maintain_agg_view(spark, src, view, ["grp"], "val")
    assert _got(spark, view) == _want(spark, src) == {("z", 1, 9)}
    assert view.last_meta().get("mv_resync") is True
    # and incremental maintenance resumes after the resync
    src.append(_df(spark, [(10, "z", 1)]))
    maintain_agg_view(spark, src, view, ["grp"], "val")
    assert _got(spark, view) == {("z", 2, 10)}
    assert view.last_meta().get("mv_resync") is None
    # a first refresh over history that already holds the overwrite
    # rescans too
    fresh = TxnTable(str(tmp_path / "fresh"))
    maintain_agg_view(spark, src, fresh, ["grp"], "val")
    assert _got(spark, fresh) == _want(spark, src)
    assert fresh.last_meta().get("mv_resync") is True


def test_mv_streaming_maintenance(spark, tmp_path):
    """The CDF-stream-driven view (streaming/mv.py) converges to the
    direct aggregation through append + MERGE + DELETE commits, and a
    restart on the same checkpoint re-applies nothing."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.mv import (
        write_stream_agg_view,
    )

    src = TxnTable(str(tmp_path / "src"))
    view_path = str(tmp_path / "view")
    ck = str(tmp_path / "ck")
    src.append(_df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5)]))
    src.merge(spark, _df(spark, [(1, "a", 100), (4, "c", 7)]), "id")
    src.delete_where(spark, "id = 2")

    def drain():
        q = write_stream_agg_view(spark, src.path, view_path, ck,
                                  ["grp"], "val", app_id="mvstream")
        q.awaitTermination(120)

    drain()
    view = TxnTable(view_path)
    assert _got(spark, view) == _want(spark, src)
    v = view.latest_version()
    drain()  # restart: nothing new, nothing re-applied
    assert view.latest_version() == v
    src.append(_df(spark, [(5, "b", 50)]))
    drain()
    assert _got(spark, view) == _want(spark, src)


def test_mv_survives_uncaptured_dv_delete(spark, tmp_path):
    """DV DELETE with capture_changes=False: the feed raises, so the MV
    must resync from a snapshot — not silently drift past the delete."""
    src = TxnTable(str(tmp_path / "src"))
    view = TxnTable(str(tmp_path / "view"))
    src.append(_df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5)]))
    maintain_agg_view(spark, src, view, ["grp"], "val")
    src.delete_where(spark, "id = 2", use_dv=True, capture_changes=False)
    maintain_agg_view(spark, src, view, ["grp"], "val")
    assert _got(spark, view) == _want(spark, src) == {("a", 1, 10),
                                                      ("b", 1, 5)}
    assert view.last_meta().get("mv_resync") is True


def test_mv_concurrent_commit_not_double_applied(spark, tmp_path,
                                                 monkeypatch):
    """A source commit landing between latest_version() capture and the
    feed read must NOT be applied in this refresh AND replayed in the
    next (the feed is bounded upto the captured version)."""
    src = TxnTable(str(tmp_path / "src"))
    view = TxnTable(str(tmp_path / "view"))
    src.append(_df(spark, [(1, "a", 10)]))
    maintain_agg_view(spark, src, view, ["grp"], "val")
    src.append(_df(spark, [(2, "a", 5)]))

    real_rc = src.read_changes
    fired = {}

    def racing_rc(spark_, since_version, **kw):
        if not fired:
            fired["x"] = True
            src.append(_df(spark, [(3, "a", 100)]))  # lands mid-refresh
        return real_rc(spark_, since_version=since_version, **kw)

    monkeypatch.setattr(src, "read_changes", racing_rc)
    maintain_agg_view(spark, src, view, ["grp"], "val")
    maintain_agg_view(spark, src, view, ["grp"], "val")  # picks up id=3
    assert _got(spark, view) == _want(spark, src) == {("a", 3, 115)}


# --- incremental JOIN materialized view ---------------------------------

from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E402,E501
    JoinMaterializedView,
)


def _ldf(spark, rows):
    return spark.createDataFrame(rows, "k int, lval string")


def _rdf(spark, rows):
    return spark.createDataFrame(rows, "k int, rval int")


def _jwant(spark, left, right):
    return sorted(
        tuple(r) for r in
        left.read(spark).join(right.read(spark), "k")
        .select("k", "lval", "rval").collect())


def _jgot(spark, jmv):
    return sorted(tuple(r) for r in
                  jmv.read(spark).select("k", "lval", "rval").collect())


def test_join_mv_refresh_after_commits_on_either_side(spark, tmp_path):
    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=8)
    left.append(_ldf(spark, [(1, "a"), (2, "b"), (3, "c")]))
    right.append(_rdf(spark, [(1, 10), (1, 11), (2, 20), (9, 90)]))
    assert jmv.refresh(spark, left, right) == (0, 0)
    assert _jgot(spark, jmv) == _jwant(spark, left, right)
    # left-side MERGE (update + insert)
    left.merge(spark, _ldf(spark, [(2, "B!"), (9, "i")]), "k")
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == _jwant(spark, left, right)
    # right-side rewrite DELETE
    right.delete_where(spark, "k = 1")
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == _jwant(spark, left, right)
    # right-side append (N-side grows), left-side DV delete
    right.append(_rdf(spark, [(3, 30), (3, 31)]))
    left.delete_where(spark, "k = 2", use_dv=True)
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == _jwant(spark, left, right)
    # no-op refresh: no new commits on either side, no empty commit
    v = jmv.view.latest_version()
    jmv.refresh(spark, left, right)
    assert jmv.view.latest_version() == v


def test_join_mv_duplicate_rows_multiset_correct(spark, tmp_path):
    """The N-side can carry exact-duplicate rows; net-count delta
    application must preserve multiplicities through delete/re-insert."""
    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=4)
    left.append(_ldf(spark, [(1, "a")]))
    right.append(_rdf(spark, [(1, 10), (1, 10), (1, 10)]))  # x3 same row
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == [(1, "a", 10)] * 3
    right.delete_where(spark, "rval = 10")  # removes all three
    right.append(_rdf(spark, [(1, 10)]))    # one comes back
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == [(1, "a", 10)]


def test_join_mv_refresh_is_partition_granular(spark, tmp_path):
    """A 1-key change must commit adds/removes ONLY in that key's
    bucket — the O(changed keys) contract, visible in the log."""
    import os

    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=8)
    left.append(_ldf(spark, [(i, f"v{i}") for i in range(40)]))
    right.append(_rdf(spark, [(i, i * 10) for i in range(40)]))
    jmv.refresh(spark, left, right)
    before = set(jmv.view.snapshot_dirs())
    left.merge(spark, _ldf(spark, [(7, "CHANGED")]), "k")
    jmv.refresh(spark, left, right)
    after = set(jmv.view.snapshot_dirs())
    changed_parts = {os.path.basename(d)
                     for d in (before - after) | (after - before)}
    assert len(changed_parts) == 1  # exactly one __kb= bucket replaced
    assert _jgot(spark, jmv) == _jwant(spark, left, right)


def test_join_mv_bucket_emptied_by_delete(spark, tmp_path):
    """Deleting every row of a key must remove its rows from the view
    even when the recomputed bucket is empty (the overwrite_partitions
    blind spot the custom replace covers)."""
    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=2)
    left.append(_ldf(spark, [(1, "a")]))
    right.append(_rdf(spark, [(1, 10)]))
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == [(1, "a", 10)]
    left.delete_where(spark, "k = 1")
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == []
    # and maintenance resumes
    left.append(_ldf(spark, [(1, "back")]))
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == [(1, "back", 10)]


def test_join_mv_resyncs_over_non_cdf_history(spark, tmp_path):
    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=4)
    left.append(_ldf(spark, [(1, "a"), (2, "b")]))
    right.append(_rdf(spark, [(1, 10), (2, 20)]))
    jmv.refresh(spark, left, right)
    right.overwrite(_rdf(spark, [(2, 99)]))  # not row-wise expressible
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == _jwant(spark, left, right) == [
        (2, "b", 99)]
    assert jmv.view.last_meta().get("mv_resync") is True
    left.append(_ldf(spark, [(2, "b2")]))
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == _jwant(spark, left, right)
    assert jmv.view.last_meta().get("mv_resync") is None


def test_stream_join_mv_maintains_and_restarts(spark, tmp_path):
    """One streaming query over BOTH sources' change feeds maintains
    the join view through append / MERGE / rewrite-DELETE / DV-DELETE
    commits on either side; a restart on the same checkpoint
    re-applies nothing; post-restart commits stream through."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.joinmv import (  # noqa: E501
        write_stream_join_mv,
    )

    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=8)
    ck = str(tmp_path / "ck")
    left.append(_ldf(spark, [(1, "a"), (2, "b"), (3, "c")]))
    right.append(_rdf(spark, [(1, 10), (2, 20), (2, 21), (9, 90)]))
    left.merge(spark, _ldf(spark, [(2, "B!"), (9, "i")]), "k")
    right.delete_where(spark, "k = 1")

    def drain():
        q = write_stream_join_mv(spark, left.path, right.path, jmv,
                                 ck, app_id="jmvstream")
        q.awaitTermination(120)

    drain()
    assert _jgot(spark, jmv) == _jwant(spark, left, right)
    v = jmv.view.latest_version()
    drain()  # restart: nothing new, nothing re-applied
    assert jmv.view.latest_version() == v
    # post-restart commits on both sides, incl. a DV delete
    right.append(_rdf(spark, [(3, 30)]))
    left.delete_where(spark, "k = 2", use_dv=True)
    drain()
    assert _jgot(spark, jmv) == _jwant(spark, left, right)


def test_stream_join_mv_batch_twin_equivalence(spark, tmp_path):
    """The per-batch apply (the driver-gated twin path) produces a view
    identical to the batch refresh over the same commit history."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.joinmv import (  # noqa: E501
        _SIDE,
        apply_join_mv_stream_batch,
    )

    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    sj = JoinMaterializedView(str(tmp_path / "smv"), "k", n_buckets=4)
    bj = JoinMaterializedView(str(tmp_path / "bmv"), "k", n_buckets=4)
    left.append(_ldf(spark, [(1, "a"), (2, "b")]))
    right.append(_rdf(spark, [(1, 10), (2, 20)]))

    def push(batch_id, l_lo, r_lo):
        import pyspark.sql.functions as F
        lch = (left.read_changes(spark, since_version=l_lo)
               .drop("_commit_version")
               .withColumn("rval", F.lit(None).cast("int"))
               .withColumn(_SIDE, F.lit("l")))
        rch = (right.read_changes(spark, since_version=r_lo)
               .drop("_commit_version")
               .withColumn("lval", F.lit(None).cast("string"))
               .withColumn(_SIDE, F.lit("r")))
        apply_join_mv_stream_batch(
            spark, sj, lch.unionByName(rch), batch_id, "twin",
            ["lval"], ["rval"])

    push(0, -1, -1)
    left.merge(spark, _ldf(spark, [(1, "A"), (3, "c")]), "k")
    right.append(_rdf(spark, [(3, 30)]))
    push(1, 0, 0)
    bj.refresh(spark, left, right)
    assert _jgot(spark, sj) == _jgot(spark, bj) == _jwant(
        spark, left, right)
    # replaying an applied batch is a no-op on every leg
    vs = (sj.left_state.latest_version(),
          sj.right_state.latest_version(), sj.view.latest_version())
    push(1, 0, 0)
    assert vs == (sj.left_state.latest_version(),
                  sj.right_state.latest_version(),
                  sj.view.latest_version())


def test_join_mv_left_outer_null_pad_appears_and_disappears(
        spark, tmp_path):
    """how='left': deleting a key's last right-side row makes the
    NULL-padded left row APPEAR in the view; inserting a match makes
    it disappear — the classic hard case of outer-join delta rules,
    free here because affected buckets are recomputed from replicas."""
    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=4,
                               how="left")
    left.append(_ldf(spark, [(1, "a"), (2, "b")]))
    right.append(_rdf(spark, [(1, 10)]))
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == [(1, "a", 10), (2, "b", None)]
    right.append(_rdf(spark, [(2, 20)]))     # pad row must disappear
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == [(1, "a", 10), (2, "b", 20)]
    right.delete_where(spark, "k = 1")       # pad row must appear
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == [(1, "a", None), (2, "b", 20)]
    left.delete_where(spark, "k = 1")        # left delete drops it
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == [(2, "b", 20)]
    # and it matches the direct left join at every point
    want = sorted(tuple(r) for r in
                  left.read(spark).join(right.read(spark), "k", "left")
                  .select("k", "lval", "rval").collect())
    assert _jgot(spark, jmv) == want


def test_stacked_mv_agg_over_join_view(spark, tmp_path):
    """MV composition: with capture_changes=True the join view is
    itself a CDF source, so an AGG MV maintained over it stays correct
    through join-view refreshes — each layer costs O(its own delta).
    The first join build commits adds-only (row-wise expressible:
    every row an insert), so the agg is incremental from the start; a
    mid-history REBUILD of the join view (a source overwrite forces
    one) has no row-wise delta, so the downstream agg must RESYNC
    there, then resume incrementally."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        maintain_agg_view,
        read_agg_view,
    )

    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=4,
                               capture_changes=True)
    agg = TxnTable(str(tmp_path / "agg"))

    def want():
        return {
            (r["lval"], r["cnt"], r["sm"]) for r in
            left.read(spark).join(right.read(spark), "k")
            .groupBy("lval")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("rval").alias("sm")).collect()}

    def got():
        return {(r["lval"], r["cnt"], r["sm"]) for r in
                read_agg_view(spark, agg)
                .select("lval", "cnt", "sm").collect()}

    left.append(_ldf(spark, [(1, "a"), (2, "b"), (3, "a")]))
    right.append(_rdf(spark, [(1, 10), (2, 20), (3, 30), (3, 31)]))
    jmv.refresh(spark, left, right)  # build: adds-only = all inserts
    maintain_agg_view(spark, jmv.view, agg, ["lval"], "rval")
    assert agg.last_meta().get("mv_resync") is None
    assert got() == want()
    # join-view bucket replaces carry CDF: agg stays incremental
    left.merge(spark, _ldf(spark, [(2, "a"), (4, "c")]), "k")
    right.append(_rdf(spark, [(4, 40)]))
    jmv.refresh(spark, left, right)
    maintain_agg_view(spark, jmv.view, agg, ["lval"], "rval")
    assert agg.last_meta().get("mv_resync") is None
    assert got() == want()
    right.delete_where(spark, "k = 3")
    jmv.refresh(spark, left, right)
    maintain_agg_view(spark, jmv.view, agg, ["lval"], "rval")
    assert agg.last_meta().get("mv_resync") is None
    assert got() == want()
    # a source overwrite forces a join-view REBUILD (full overwrite,
    # no row-wise delta): the stacked agg must resync, not drift
    right.overwrite(_rdf(spark, [(1, 11), (2, 22)]))
    jmv.refresh(spark, left, right)
    assert jmv.view.last_meta().get("mv_resync") is True
    maintain_agg_view(spark, jmv.view, agg, ["lval"], "rval")
    assert agg.last_meta().get("mv_resync") is True
    assert got() == want()
    # and incremental maintenance resumes end-to-end
    left.merge(spark, _ldf(spark, [(1, "z")]), "k")
    jmv.refresh(spark, left, right)
    maintain_agg_view(spark, jmv.view, agg, ["lval"], "rval")
    assert agg.last_meta().get("mv_resync") is None
    assert got() == want()


def test_streaming_agg_view_over_join_view_cdf(spark, tmp_path):
    """Full composition: the STREAMING agg-view job (streaming/mv.py)
    consumes the JOIN view's change feed — the maintained join view is
    a first-class txnlog CDF source like any table, so the existing
    streaming MV machinery stacks on it unchanged."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        read_agg_view,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.mv import (  # noqa: E501
        write_stream_agg_view,
    )

    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=4,
                               capture_changes=True)
    agg_path, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
    left.append(_ldf(spark, [(1, "a"), (2, "b"), (3, "a")]))
    right.append(_rdf(spark, [(1, 10), (2, 20), (3, 30)]))
    jmv.refresh(spark, left, right)

    def drain():
        q = write_stream_agg_view(spark, jmv.view.path, agg_path, ck,
                                  ["lval"], "rval", app_id="stacked")
        q.awaitTermination(120)

    def want():
        return {(r["lval"], r["cnt"], r["sm"]) for r in
                left.read(spark).join(right.read(spark), "k")
                .groupBy("lval")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("rval").alias("sm")).collect()}

    def got():
        return {(r["lval"], r["cnt"], r["sm"]) for r in
                read_agg_view(spark, TxnTable(agg_path))
                .select("lval", "cnt", "sm").collect()}

    drain()
    assert got() == want()
    left.merge(spark, _ldf(spark, [(1, "b"), (4, "c")]), "k")
    right.append(_rdf(spark, [(4, 40)]))
    jmv.refresh(spark, left, right)
    drain()
    assert got() == want()


def test_stacked_mv_survives_view_compaction(spark, tmp_path):
    """Many refreshes leave small files per bucket; OPTIMIZE on the
    view is layout-only, so the downstream agg MUST keep applying the
    feed across it without a resync (compaction commits are skipped
    by read_changes) and stay correct."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        maintain_agg_view,
        read_agg_view,
    )

    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=2,
                               capture_changes=True)
    agg = TxnTable(str(tmp_path / "agg"))
    left.append(_ldf(spark, [(1, "a"), (2, "b")]))
    right.append(_rdf(spark, [(1, 10), (2, 20)]))
    jmv.refresh(spark, left, right)
    maintain_agg_view(spark, jmv.view, agg, ["lval"], "rval")
    jmv.view.compact(spark)  # layout-only commit on the view
    left.merge(spark, _ldf(spark, [(2, "a")]), "k")
    jmv.refresh(spark, left, right)
    maintain_agg_view(spark, jmv.view, agg, ["lval"], "rval")
    assert agg.last_meta().get("mv_resync") is None  # no resync
    got = {(r["lval"], r["cnt"], r["sm"]) for r in
           read_agg_view(spark, agg).select("lval", "cnt", "sm")
           .collect()}
    want = {(r["lval"], r["cnt"], r["sm"]) for r in
            left.read(spark).join(right.read(spark), "k")
            .groupBy("lval").agg(F.count(F.lit(1)).alias("cnt"),
                                 F.sum("rval").alias("sm")).collect()}
    assert got == want


def test_join_mv_composite_key(spark, tmp_path):
    """Composite join keys: bucketing hashes all key columns, joins
    match on the full tuple, and refreshes stay partition-granular."""
    import os

    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), ["k1", "k2"],
                               n_buckets=8)
    left.append(spark.createDataFrame(
        [(1, "x", "a"), (1, "y", "b"), (2, "x", "c")],
        "k1 int, k2 string, lval string"))
    right.append(spark.createDataFrame(
        [(1, "x", 10), (1, "y", 11), (2, "x", 20), (2, "z", 99)],
        "k1 int, k2 string, rval int"))
    jmv.refresh(spark, left, right)

    def want():
        return sorted(tuple(r) for r in
                      left.read(spark)
                      .join(right.read(spark), ["k1", "k2"])
                      .select("k1", "k2", "lval", "rval").collect())

    def got():
        return sorted(tuple(r) for r in
                      jmv.read(spark)
                      .select("k1", "k2", "lval", "rval").collect())

    assert got() == want() == [(1, "x", "a", 10), (1, "y", "b", 11),
                               (2, "x", "c", 20)]
    # a one-composite-key change replaces exactly one bucket
    before = set(jmv.view.snapshot_dirs())
    left.merge(spark, spark.createDataFrame(
        [(1, "y", "B!")], "k1 int, k2 string, lval string"),
        ["k1", "k2"])
    jmv.refresh(spark, left, right)
    changed = {os.path.basename(d) for d in
               before ^ set(jmv.view.snapshot_dirs())}
    assert len(changed) == 1
    assert got() == want()


def test_join_mv_batch_refresh_resumes_after_partial_crash(
        spark, tmp_path, monkeypatch):
    """The three commits a batch refresh makes are not atomic; only the
    view's commit advances the refresher's high-water. A crash after a
    state leg must NOT double-apply that leg's deltas on the retry:
    each state leg carries its own (mv_left_version, mv_right_version)
    meta and the retry gives an already-applied leg an empty delta —
    including when the retry targets a FURTHER-advanced source (the
    partially-applied leg then gets only its unapplied remainder)."""
    import pytest

    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=4)
    left.append(_ldf(spark, [(1, "a"), (2, "b")]))
    right.append(_rdf(spark, [(1, 10), (2, 20), (2, 21)]))
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == _jwant(spark, left, right)

    # -- crash exactly after the LEFT state leg commits ---------------
    left.merge(spark, _ldf(spark, [(1, "A!"), (3, "c")]), "k")
    right.append(_rdf(spark, [(3, 30)]))
    orig = JoinMaterializedView._apply_side

    def boom(self, spark_, state, changes, affected, meta):
        orig(self, spark_, state, changes, affected, meta)
        if state is self.left_state:
            raise RuntimeError("crash between legs")

    monkeypatch.setattr(JoinMaterializedView, "_apply_side", boom)
    with pytest.raises(RuntimeError, match="crash between legs"):
        jmv.refresh(spark, left, right)
    monkeypatch.setattr(JoinMaterializedView, "_apply_side", orig)

    # retry at the SAME target versions: left leg already applied
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == _jwant(spark, left, right)
    # the left replica holds exactly the source rows (no double-apply)
    lrows = sorted(tuple(r) for r in
                   jmv.left_state.read(spark).drop("__kb").collect())
    assert lrows == sorted(tuple(r) for r in left.read(spark).collect())

    # -- crash again, then let the source ADVANCE before the retry ----
    left.merge(spark, _ldf(spark, [(2, "B!")]), "k")
    monkeypatch.setattr(JoinMaterializedView, "_apply_side", boom)
    with pytest.raises(RuntimeError, match="crash between legs"):
        jmv.refresh(spark, left, right)
    monkeypatch.setattr(JoinMaterializedView, "_apply_side", orig)
    left.delete_where(spark, "k = 1")       # target advances past crash
    right.append(_rdf(spark, [(9, 90)]))
    jmv.refresh(spark, left, right)
    assert _jgot(spark, jmv) == _jwant(spark, left, right)
    lrows = sorted(tuple(r) for r in
                   jmv.left_state.read(spark).drop("__kb").collect())
    assert lrows == sorted(tuple(r) for r in left.read(spark).collect())


def test_first_batch_with_deletes_builds_the_per_bucket_view(spark,
                                                             tmp_path):
    """An empty view's first batch — inserts, cancelling deletes, an
    update pair, a duplicate, an unmatched delete — is built in one
    commit per table, without change files, and holds exactly what the
    per-bucket path builds from the same batch once the tables exist
    (here: after an empty first batch). The first commit reads back as
    inserts of the built rows."""
    from collections import Counter

    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        AggMaterializedView,
        JoinMaterializedView,
        MapMaterializedView,
    )

    ch = spark.createDataFrame(
        [(1, "a", 10, "insert"), (2, "b", 20, "insert"),
         (2, "b", 20, "delete"), (3, "c", 30, "update_preimage"),
         (3, "C", 31, "update_postimage"), (3, "c", 30, "insert"),
         (4, "d", 40, "delete"), (5, "e", 50, "insert"),
         (5, "e", 50, "insert")],
        "id int, grp string, val int, _change_type string")
    lch = ch.select("id", "grp", "_change_type")
    rch = ch.select("id", "val", "_change_type")

    def rows(df):
        return Counter(tuple(r) for r in df.drop("__kb").collect())

    def built(name, make, apply, tables):
        fresh, per_bucket = (make(str(tmp_path / f"{name}_{i}"))
                             for i in (0, 1))
        apply(fresh, lambda df: df)
        apply(per_bucket, lambda df: df.limit(0))  # empty tables first
        apply(per_bucket, lambda df: df)
        for t in tables(fresh):
            assert t.latest_version() == 0, (name, t.path)
            assert not t._doc(0).get("changes"), (name, t.path)  # noqa: SLF001
            feed = t.read_changes(spark, -1).drop("_commit_version")
            assert rows(feed.filter("_change_type = 'insert'")
                        .drop("_change_type")) == rows(t.read(spark))
            assert feed.filter("_change_type <> 'insert'").count() == 0
        for a, b in zip(tables(fresh), tables(per_bucket)):
            assert rows(a.read(spark)) == rows(b.read(spark)), (name, a.path)
        return fresh

    meta = {"operation": "test"}
    mv = built("map", lambda r: MapMaterializedView(
        r, "id", lambda df: df.select("id", "grp", (df.val * 2).alias("v2")),
        n_buckets=4, capture_changes=True),
        lambda v, f: v.apply_change_batch(spark, f(ch), meta),
        lambda v: [v.view])
    assert rows(mv.read(spark)) == Counter(
        [(1, "a", 20), (3, "C", 62), (5, "e", 100), (5, "e", 100)])
    agg = built("agg", lambda r: AggMaterializedView(
        r, "grp", "val", n_buckets=4, capture_changes=True),
        lambda v, f: v.apply_change_batch(spark, f(ch), meta),
        lambda v: [v.view])
    assert {("a", 1, 10), ("C", 1, 31), ("e", 2, 100)} <= {
        (r.grp, r.cnt, r.sm) for r in agg.read(spark).collect()}
    jmv = built("join", lambda r: JoinMaterializedView(
        r, "id", n_buckets=4, capture_changes=True),
        lambda v, f: v.apply_change_batch(spark, f(lch), f(rch), meta),
        lambda v: [v.left_state, v.right_state, v.view])
    assert rows(jmv.read(spark)) == Counter(
        [(1, "a", 10), (3, "C", 31)] + [(5, "e", 50)] * 4)


# --- views over sources that share their buckets ------------------------

def _sh_left(spark, rows):
    return spark.createDataFrame(rows, "k int, lval string, lnum int")


def _sh_right(spark, rows):
    return spark.createDataFrame(rows, "k int, rval int")


def _rows(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def _doubled(df):
    return df.select("k", "lval", (F.col("lnum") * 2).alias("l2"))


def _shared_case(spark, root, kind):
    """(raw left, raw right, the bucketed sources, the view under test,
    ``check(step)``) for ``kind`` in inner / left / map / agg. The
    bucketed sources are identity map views over the raw tables,
    bucketed like the view; ``check`` refreshes every layer, asserts
    the view equals its twin over the raw tables and a batch recompute,
    and returns the view's rows."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        AggMaterializedView,
        MapMaterializedView,
    )

    left, right = TxnTable(f"{root}/l"), TxnTable(f"{root}/r")
    lb, rb = (MapMaterializedView(f"{root}/{n}b", "k", lambda df: df,
                                  n_buckets=4) for n in "lr")

    def make(name):
        if kind in ("inner", "left"):
            return JoinMaterializedView(f"{root}/{name}", "k", n_buckets=4,
                                        how=kind, capture_changes=True)
        if kind == "map":
            return MapMaterializedView(f"{root}/{name}", "k", _doubled,
                                       n_buckets=4)
        return AggMaterializedView(f"{root}/{name}", "k", "lnum",
                                   n_buckets=4)

    view, twin = make("in_place"), make("raw")
    if kind in ("inner", "left"):
        def refresh():
            lb.refresh(spark, left)
            rb.refresh(spark, right)
            view.refresh(spark, lb.view, rb.view)
            twin.refresh(spark, left, right)

        def want():
            return (left.read(spark).join(right.read(spark), "k", kind)
                    .select("k", "lval", "lnum", "rval"))
    else:
        def refresh():
            lb.refresh(spark, left)
            view.refresh(spark, lb.view)
            twin.refresh(spark, left)

        def want():
            src = left.read(spark)
            return (_doubled(src) if kind == "map" else
                    src.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"),
                                         F.sum("lnum").alias("sm")))

    def check(step):
        refresh()
        cols = want().columns
        got, raw, batch = (_rows(view.read(spark).select(*cols)),
                           _rows(twin.read(spark).select(*cols)),
                           _rows(want()))
        assert got == raw == batch, (kind, step)
        return got

    return left, right, (lb, rb), view, check


import pytest  # noqa: E402


@pytest.mark.parametrize("kind", ["inner", "left", "map", "agg"])
def test_view_over_bucket_sharing_sources_matches_raw_and_batch(
        spark, tmp_path, kind):
    """A view whose sources share its buckets rebuilds each changed
    bucket from them in place, with no replica and no resync flag, and
    equals the same view over the raw sources and a batch recompute
    through inserts, deletes, update pairs, an emptied bucket, the
    NULL-padded left row appearing and disappearing, a source resync
    (overwrite), a source compaction and a crash before the view commit
    followed by a retry."""
    left, right, sources, view, check = _shared_case(
        spark, str(tmp_path), kind)
    left.append(_sh_left(spark, [(i, f"v{i}", i) for i in range(12)]
                         + [(3, "v3", 3)]))
    right.append(_sh_right(spark, [(i, 10 * i) for i in range(0, 12, 2)]
                           + [(4, 41)]))
    check("build")
    left.append(_sh_left(spark, [(20, "n", 5), (21, "m", 6)]))
    right.append(_sh_right(spark, [(21, 210), (1, 11)]))
    check("insert")
    right.delete_where(spark, "k = 0")  # left join: pad row appears
    left.delete_where(spark, "k = 5")
    got = check("delete")
    if kind == "left":
        assert got[(0, "v0", 0, None)] == 1
    left.merge(spark, _sh_left(spark, [(7, "seven", 70)]), "k")
    right.merge(spark, _sh_right(spark, [(2, 22)]), "k")
    check("update pairs")
    assert left.read(spark).filter("pmod(hash(k), 4) = 1").count()
    left.delete_where(spark, "pmod(hash(k), 4) = 1")  # empties a bucket
    check("emptied bucket")
    assert not view.view.read(spark).filter("__kb = 1").count()
    right.append(_sh_right(spark, [(0, 5)]))  # left join: pad row goes
    got = check("pad row disappears")
    if kind == "left":
        assert got[(0, "v0", 0, None)] == 0
    left.overwrite(_sh_left(spark, [(i, f"w{i}", i + 1)
                                    for i in range(0, 30, 3)]))
    check("source resync")
    for s in sources:
        if s.view.latest_version() is not None:
            s.view.compact(spark)  # a source commit without mv_buckets
    left.append(_sh_left(spark, [(40, "x", 4)]))
    check("source compaction")

    left.append(_sh_left(spark, [(41, "y", 1), (3, "again", 9)]))
    before = view.view.latest_version()
    real = TxnTable.commit
    target = view.view.path

    def crash(self, adds, removes, meta=None, *a, **k):
        if self.path == target:
            raise RuntimeError("crash before the view commit")
        return real(self, adds, removes, meta, *a, **k)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(TxnTable, "commit", crash)
        with pytest.raises(RuntimeError, match="crash before"):
            check("crash")
    assert view.view.latest_version() == before
    check("retry")
    assert view.view.latest_version() == before + 1
    metas = [view.view._doc(v)["meta"]  # noqa: SLF001
             for v in range(view.view.latest_version() + 1)]
    assert not any(m.get("mv_resync") for m in metas)
    assert all(m["mv_bucket_by"] == {"keys": ["k"], "n_buckets": 4}
               for m in metas)
    if kind in ("inner", "left"):
        assert view.left_state.latest_version() is None
        assert view.right_state.latest_version() is None


def test_source_rows_outside_the_layout_are_read_whole(spark, tmp_path):
    """A source that records this view's layout but holds rows outside
    any ``__kb=`` leaf (a foreign plain append) is read whole and
    re-bucketed, never read as empty buckets."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        MapMaterializedView,
    )

    src = TxnTable(str(tmp_path / "src"))
    mv = MapMaterializedView(str(tmp_path / "mv"), "k", _doubled,
                             n_buckets=4)
    layout = {"mv_bucket_by": {"keys": ["k"], "n_buckets": 4}}
    rows = [(i, f"v{i}", i) for i in range(8)]
    src.append(_sh_left(spark, rows).withColumn(
        "__kb", F.pmod(F.hash("k"), F.lit(4))),
        {**layout, "mv_buckets": [0, 1, 2, 3]})
    mv.refresh(spark, src)
    src.append(_sh_left(spark, [(9, "n", 1)]).withColumn(
        "__kb", F.pmod(F.hash("k"), F.lit(4))),
        {**layout, "mv_buckets": [int(spark.range(1).select(
            F.pmod(F.hash(F.lit(9)), F.lit(4))).first()[0])]})
    mv.refresh(spark, src)
    assert _rows(mv.read(spark).select("k", "lval", "l2")) == _rows(
        _doubled(src.read(spark)))
    assert mv.view.last_meta()["mv_source_version"] == 1


def _mini_chain(spark, root, n_final=4, prime_keys="k"):
    """jmv1 (l ⋈ r) and agg (over a) over raw tables, final = jmv1 ⟕
    agg and prime = a map view over final — the cdc chain's shape."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        AggMaterializedView,
        MapMaterializedView,
    )

    left, right, act = (TxnTable(f"{root}/{n}") for n in ("l", "r", "a"))
    jmv1 = JoinMaterializedView(f"{root}/jmv1", "k", n_buckets=4,
                                capture_changes=True)
    agg = AggMaterializedView(f"{root}/agg", "k", "dur", n_buckets=4,
                              capture_changes=True)
    final = JoinMaterializedView(f"{root}/final", "k", n_buckets=n_final,
                                 how="left", capture_changes=True)
    prime = MapMaterializedView(
        f"{root}/prime", prime_keys,
        lambda df: df.select("k", "lval", "rval", "cnt",
                             (F.col("sm") / F.col("cnt")).alias("mean")),
        n_buckets=4)
    left.append(_ldf(spark, [(i, f"e{i}") for i in range(10)]))
    right.append(_rdf(spark, [(i, i) for i in range(10)]))
    act.append(spark.createDataFrame([(i % 7, i) for i in range(20)],
                                     "k int, dur int"))

    def chain():
        jmv1.refresh(spark, left, right)
        agg.refresh(spark, act)
        final.refresh(spark, jmv1.view, agg.view)
        prime.refresh(spark, final.view)

    return left, right, act, final, prime, chain


def _final_want(spark, left, right, act):
    a = act.read(spark).groupBy("k").agg(F.count(F.lit(1)).alias("cnt"),
                                         F.sum("dur").alias("sm"))
    return _rows(left.read(spark).join(right.read(spark), "k")
                 .join(a, "k", "left").select("k", "lval", "rval", "cnt",
                                              "sm"))


def test_chain_step_commits_once_per_stacked_layer(spark, tmp_path):
    """One step of the cdc chain's shape (an activity commit) commits
    once on final's view and once on prime's, and never on final's
    replica tables: both of final's sources share its buckets."""
    left, right, act, final, prime, chain = _mini_chain(
        spark, str(tmp_path))
    chain()
    assert final.view.latest_version() == prime.view.latest_version() == 0
    act.append(spark.createDataFrame([(2, 5), (8, 1)], "k int, dur int"))
    act.delete_where(spark, "dur = 3")
    chain()
    assert final.view.latest_version() == prime.view.latest_version() == 1
    assert final.left_state.latest_version() is None
    assert final.right_state.latest_version() is None
    assert _rows(final.read(spark).select("k", "lval", "rval", "cnt", "sm")
                 ) == _final_want(spark, left, right, act)
    assert _rows(prime.read(spark).select("k", "cnt")) == _rows(
        final.read(spark).select("k", "cnt"))


@pytest.mark.parametrize("n_final, prime_keys",
                         [(8, "k"), (4, ["k", "lval"])])
def test_view_over_differently_bucketed_sources_keeps_replicas(
        spark, tmp_path, n_final, prime_keys):
    """A view whose bucket count (final over 4-bucket sources, with 8)
    or keys (prime keyed by k and lval over final, keyed by k) differ
    from its source's keeps the change-row path — final's replicas
    commit, prime applies final's change rows — and stays correct."""
    left, right, act, final, prime, chain = _mini_chain(
        spark, str(tmp_path), n_final, prime_keys)
    applied = []
    real_apply = prime.apply_change_batch
    prime.apply_change_batch = lambda *a, **k: applied.append(
        real_apply(*a, **k))
    for step in range(2):
        chain()
        assert (final.left_state.latest_version() is not None) == (
            n_final == 8)
        assert _rows(final.read(spark).select(
            "k", "lval", "rval", "cnt", "sm")) == _final_want(
            spark, left, right, act)
        assert _rows(prime.read(spark).select("k", "lval", "rval", "cnt")
                     ) == _rows(final.read(spark).select(
                         "k", "lval", "rval", "cnt"))
        act.append(spark.createDataFrame([(3, 4)], "k int, dur int"))
    assert len(applied) == 1  # the second step's


def test_change_rows_refused_on_a_view_built_in_place(spark, tmp_path):
    """Change rows fed to a join view whose refresh built it in place
    (no replica) raise with the remedy, instead of building a replica
    from one batch and silently dropping every other row; a source
    re-bucketed under the view moves it back to the replica path with a
    flagged rebuild."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        MapMaterializedView,
    )

    left, right = TxnTable(str(tmp_path / "l")), TxnTable(str(tmp_path / "r"))
    lb, rb = (MapMaterializedView(str(tmp_path / f"{n}b"), "k",
                                  lambda df: df, n_buckets=4)
              for n in "lr")
    jmv = JoinMaterializedView(str(tmp_path / "mv"), "k", n_buckets=4)
    left.append(_ldf(spark, [(1, "a"), (2, "b"), (3, "c")]))
    right.append(_rdf(spark, [(1, 10), (2, 20), (3, 30)]))
    lb.refresh(spark, left)
    rb.refresh(spark, right)
    jmv.refresh(spark, lb.view, rb.view)
    v = jmv.view.latest_version()
    lch = _ldf(spark, [(4, "d")]).withColumn("_change_type", F.lit("insert"))
    rch = _rdf(spark, [(4, 40)]).withColumn("_change_type", F.lit("insert"))
    with pytest.raises(ValueError, match="JoinMaterializedView.refresh"):
        jmv.apply_change_batch(spark, lch, rch, {"operation": "feed"})
    assert jmv.view.latest_version() == v
    assert jmv.left_state.latest_version() is None

    # the left source is rebuilt with 8 buckets: it no longer shares
    lb8 = MapMaterializedView(lb.view.path, "k",
                              lambda df: df, n_buckets=8)
    lb8._rebuild_from(spark, left, 0,  # noqa: SLF001
                      {"operation": "rebucket", "mv_source_version": 0})
    left.append(_ldf(spark, [(5, "e")]))
    right.append(_rdf(spark, [(5, 50)]))
    lb8.refresh(spark, left)
    rb.refresh(spark, right)
    jmv.refresh(spark, lb8.view, rb.view)
    assert jmv.view.last_meta().get("mv_resync") is True
    assert jmv.left_state.latest_version() is not None
    assert _jgot(spark, jmv) == _jwant(spark, left, right)
