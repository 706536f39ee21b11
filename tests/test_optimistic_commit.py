"""Every write that publishes dirs it has just written commits through
``TxnTable._transact``, the one optimistic-commit loop: a lost race
costs at most ``_COMMIT_ATTEMPTS`` rounds, backs off between rounds,
and reclaims every dir the write left behind — data commit roots,
``changes/`` dirs and ``dv/`` position files — when it gives up.

Fault-injected: ``TxnTable.commit`` always loses the version race and
the backoff only counts, so each op exhausts its rule (a single-shot
rewrite raises at once; row-level ops rebase; a stream leg redoes).
A write that removes what it read commits against the version it
read."""

from __future__ import annotations

import os
from functools import partial

import pytest

from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (
    MapMaterializedView,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    _COMMIT_ATTEMPTS,
    TxnConflictError,
    TxnTable,
    _guarded_commit,
    _stream_meta,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming import cc

_WRITTEN = ("data", "changes", "dv")


def _rows(spark, ids, day=0):
    return spark.createDataFrame([(i, day, f"v{i}") for i in ids],
                                 "id int, day int, val string")


def _table(spark, tmp_path) -> TxnTable:
    t = TxnTable(str(tmp_path / "t"))
    t.append(_rows(spark, range(0, 6)))
    t.append(_rows(spark, range(6, 12), day=1))
    return t


def _view(spark, tmp_path):
    mv = MapMaterializedView(str(tmp_path / "mv"), "id",
                             lambda df: df.select("id", "day", "val"),
                             n_buckets=4, capture_changes=True)

    def batch(ids):
        return (_rows(spark, ids)
                .selectExpr("*", "'insert' AS _change_type"))

    mv.apply_change_batch(spark, batch(range(4)), {"operation": "build"})
    return mv.view, lambda: mv.apply_change_batch(
        spark, batch(range(4, 8)), {"operation": "refresh"})


_OPS = {
    "delete_cdf": lambda spark, t: t.delete_where(spark, "id % 3 = 0"),
    "delete_no_cdf": lambda spark, t: t.delete_where(
        spark, "id % 3 = 0", capture_changes=False),
    "delete_dv": lambda spark, t: t.delete_where(spark, "id = 4",
                                                 use_dv=True),
    "update": lambda spark, t: t.update_where(spark, "id < 3",
                                              {"val": "'x'"}),
    "overwrite": lambda spark, t: t.overwrite(_rows(spark, [1, 2])),
    "merge": lambda spark, t: t.merge(spark, _rows(spark, [1, 20]), "id"),
    "guarded_overwrite": lambda spark, t: _guarded_commit(
        t, 7, "leak", lambda: t.overwrite(
            _rows(spark, [1, 2]), _stream_meta(7, "leak", "fold"))),
    # a guarded leg over a rebasing op (the annindex DV retraction):
    # the inner op is single-shot inside the leg's budget, never a
    # budget of its own per round
    "guarded_delete_dv": lambda spark, t: _guarded_commit(
        t, 7, "leak", lambda: t.delete_where(
            spark, "id = 1", use_dv=True,
            meta=_stream_meta(7, "leak", "ann_index_retract"))),
}


def _entries(path: str) -> dict:
    return {d: set(os.listdir(os.path.join(path, d)))
            if os.path.isdir(os.path.join(path, d)) else set()
            for d in _WRITTEN}


@pytest.mark.parametrize("op", [*_OPS, "mv_bucket_replace"])
def test_lost_races_are_bounded_backed_off_and_reclaimed(
        spark, tmp_path, monkeypatch, op):
    if op == "mv_bucket_replace":
        t, run = _view(spark, tmp_path)
    else:
        t = _table(spark, tmp_path)
        run = partial(_OPS[op], spark, t)
    v0 = t.latest_version()
    before = _entries(t.path)
    calls = {"commit": 0, "backoff": 0}

    def always_conflict(self, *a, **k):
        calls["commit"] += 1
        raise TxnConflictError("injected lost race")

    def counting_backoff(attempt):
        calls["backoff"] += 1

    monkeypatch.setattr(TxnTable, "commit", always_conflict)
    monkeypatch.setattr(TxnTable, "_conflict_backoff",
                        staticmethod(counting_backoff))
    with pytest.raises(TxnConflictError):
        run()
    monkeypatch.undo()
    assert 1 <= calls["commit"] <= _COMMIT_ATTEMPTS, calls
    # one backoff between every two lost rounds, none after the last
    assert calls["backoff"] == calls["commit"] - 1, calls
    assert t.latest_version() == v0
    after = _entries(t.path)
    leaked = {d: sorted(after[d] - before[d]) for d in _WRITTEN
              if after[d] - before[d]}
    assert not leaked, f"lost races leaked written dirs: {leaked}"


def test_cc_compact_keeps_the_labels_of_a_torn_batch(spark, tmp_path,
                                                     crash_at_commit):
    """``streaming/cc.compact`` folds assign at the version the latest
    remap commit recorded, so it commits against that version: with a
    batch torn between its assign and remap legs it raises and changes
    nothing, instead of removing the batch's assign rows (which the
    redelivery would then skip, its assign leg being in the ledger)."""
    root = str(tmp_path / "cc")
    a, r = cc._tables(root)

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, nbr long")

    def labels():
        return sorted((x["doc_id"], x["cluster_id"])
                      for x in cc.current_labels(spark, root).collect())

    cc.ingest_batch(a, r, batch([(5, None), (9, None)]), 0, "t")
    cc.ingest_batch(a, r, batch([(3, None), (3, 5)]), 1, "t")
    torn = batch([(7, None), (11, None)])
    with crash_at_commit(r.path, 2) as crash:
        with pytest.raises(RuntimeError):
            cc.ingest_batch(a, r, torn, 2, "t")
    assert crash.hits == 1
    versions = (a.latest_version(), r.latest_version())
    before = (_entries(a.path), _entries(r.path))
    with pytest.raises(TxnConflictError):
        cc.compact(spark, root)
    assert (a.latest_version(), r.latest_version()) == versions
    assert (_entries(a.path), _entries(r.path)) == before

    cc.ingest_batch(a, r, torn, 2, "t")  # redelivery: the remap leg lands
    want = [(3, 3), (5, 3), (7, 7), (9, 9), (11, 11)]
    assert labels() == want
    cc.compact(spark, root)
    assert labels() == want
    assert r.read(spark).count() == 0
