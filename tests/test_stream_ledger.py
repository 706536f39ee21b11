"""The stream-batch ledger is part of TxnTable's write contract: one
exactly-once append path for every streaming sink.

A replayed ``(stream_app_id, stream_batch_id)`` is terminal in every
append branch — plain, partition-declared and identity: no new version,
no leaked data dir, no commit retry and no backoff. A structural check
keeps the ledger lookups and hand-built stream metas inside
``sources/txnlog.py``, so per-sink guard copies cannot come back."""

from __future__ import annotations

import os
import re

import pytest

import sport_advantages_moderne_data_infrastructure_spark as pkg
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
    _stream_meta,
)


def _table(tmp_path, layout: str) -> TxnTable:
    t = TxnTable(str(tmp_path / layout))
    if layout == "partitioned":
        t.set_partition_column("day")
    elif layout == "identity":
        t.set_identity_column("rid")
    return t


def _bypass_first_ledger_check(t: TxnTable, monkeypatch) -> None:
    """Make ``append``'s up-front ledger check miss once — the state of
    a replica that checked before a racer committed the same batch — so
    the refusal comes from the ledger check inside ``commit``."""
    real = t._replays
    calls = {"n": 0}

    def _replays(meta):
        calls["n"] += 1
        return False if calls["n"] == 1 else real(meta)

    monkeypatch.setattr(t, "_replays", _replays)


@pytest.mark.parametrize("race", [False, True], ids=["replay", "race"])
@pytest.mark.parametrize("layout", ["plain", "partitioned", "identity"])
def test_replayed_batch_is_terminal(spark, tmp_path, monkeypatch,
                                    layout, race):
    t = _table(tmp_path, layout)
    df = spark.createDataFrame([(1, 0), (2, 1)], "id int, day int")
    meta = _stream_meta(0, "rt", "stream_append")
    assert t.append(df, meta) == 0
    data_root = os.path.join(t.path, "data")
    dirs = set(os.listdir(data_root))

    calls = {"commit": 0, "backoff": 0}
    real_commit = t.commit

    def counting_commit(*a, **k):
        calls["commit"] += 1
        return real_commit(*a, **k)

    def counting_backoff(attempt):
        calls["backoff"] += 1

    monkeypatch.setattr(t, "commit", counting_commit)
    monkeypatch.setattr(t, "_conflict_backoff", counting_backoff)
    if race:
        _bypass_first_ledger_check(t, monkeypatch)

    assert t.append(df, dict(meta)) is None
    assert t.latest_version() == 0
    assert set(os.listdir(data_root)) == dirs
    assert calls["commit"] == (1 if race else 0)
    assert calls["backoff"] == 0
    assert t.read(spark).count() == 2
    # the next batch commits normally
    assert t.append(df, _stream_meta(1, "rt", "stream_append")) == 1


_PKG_ROOT = os.path.dirname(pkg.__file__)
_LEDGER_HOME = os.path.join("sources", "txnlog.py")
_FORBIDDEN = {
    "ledger lookup": re.compile(r"\.max_stream_batch_id\("),
    "hand-built stream meta": re.compile(
        r"""["']stream_batch_id["']\s*:"""
        r"""|\[\s*["']stream_batch_id["']\s*\]\s*=[^=]"""
        r"""|\bdict\([^)]*\bstream_batch_id\s*="""),
}


def test_ledger_stays_in_txnlog():
    """Only sources/txnlog.py reads the ledger or builds a stream meta;
    every sink goes through ``TxnTable.append``/``_guarded_commit`` and
    ``_stream_meta``."""
    hits = []
    for root, _, files in os.walk(_PKG_ROOT):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, _PKG_ROOT)
            if rel == _LEDGER_HOME:
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    for what, rx in _FORBIDDEN.items():
                        if rx.search(line):
                            hits.append(f"{rel}:{n}: {what}: "
                                        f"{line.strip()}")
    assert not hits, "\n".join(hits)
