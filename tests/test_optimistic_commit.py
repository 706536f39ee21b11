"""Every write that publishes dirs it has just written commits through
``TxnTable._transact``, the one optimistic-commit loop: a lost race
costs at most ``_COMMIT_ATTEMPTS`` rounds, backs off between rounds,
and reclaims every dir the write left behind — data commit roots,
``changes/`` dirs and ``dv/`` position files — when it gives up.

Fault-injected: ``TxnTable.commit`` always loses the version race and
the backoff only counts, so each op exhausts its rule (a single-shot
rewrite raises at once; row-level ops rebase; a stream leg redoes)."""

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
