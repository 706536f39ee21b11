"""The change-feed starter (``streaming/pipeline._start_change_feed``):
a native Spark file stream over each source table's commit docs wakes
the sink, each batch's version range is pinned in the checkpoint
(``versions/<batch_id>``) and its rows are read with
``TxnTable.read_changes``. These pin that each batch's signed change
rows net to the difference of the snapshots it spans, that a replay
reads exactly its pinned range, that a missing source fails the start,
and that a sink restarted on a checkpoint of an earlier feed fails with
a remedy that neither drops nor doubles rows."""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pytest

from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (
    JoinMaterializedView,
    MapMaterializedView,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming.joinmv import (  # noqa: E501
    write_stream_join_mv,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming.mv import (
    write_stream_bucketed_view,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming.pipeline import (  # noqa: E501
    _start_change_feed,
)

#: checkpoints the row-level ``format("txnlog")`` Python source left: its
#: offsets are ``{"version": N}``, one line per source
_ROW_FEED_CHECKPOINTS = os.path.join(os.path.dirname(__file__), "fixtures",
                                     "row_feed_checkpoint")
_SIGN = {"insert": 1, "update_postimage": 1,
         "delete": -1, "update_preimage": -1}


def _rows(df) -> Counter:
    return Counter(tuple(sorted(r.asDict().items())) for r in df.collect())


def _snapshot(spark, t: TxnTable, v: int, cols: list[str]) -> Counter:
    """The rows of ``t`` at version ``v`` (none before the first
    commit), positionally renamed to ``cols``."""
    if v < 0:
        return Counter()
    return Counter(tuple(r) for r in
                   t.read(spark, version=v).toDF(*cols).collect())


def test_version_feed_delivers_the_row_feed(spark, tmp_path):
    """Over an append, a MERGE, a DV delete with change capture, a
    compaction and a column rename + append, each step is one batch of
    the starter, and its change rows, signed (inserts and post-images
    +1, deletes and pre-images -1), net to the step's snapshot
    difference ``read(v) - read(v_before)`` as multisets, projected to
    the current column names."""
    t = TxnTable(str(tmp_path / "t"))
    steps = [
        lambda: t.append(spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
            "id int, val string, score double")),
        lambda: t.merge(spark, spark.createDataFrame(
            [(2, "B", 20.0), (4, "d", 4.0)],
            "id int, val string, score double"), "id"),
        lambda: t.delete_where(spark, "id = 3", use_dv=True,
                               capture_changes=True),
        lambda: t.compact(spark),
        lambda: (t.rename_column("val", "name"),
                 t.append(spark.createDataFrame(
                     [(5, "e", 5.0)], "id int, name string, score double"))),
    ]
    before = -1
    for n, step in enumerate(steps):
        step()
        v = t.latest_version()
        cols = t.read(spark).columns
        got = []
        q = _start_change_feed(
            spark, [t.path],
            lambda changes, _: got.append(
                changes[t.path].select(*cols, "_change_type").collect()),
            str(tmp_path / "ck_versions"), True)
        q.awaitTermination(120)
        q.stop()
        assert len(got) == 1, f"step {n}: {len(got)} batches"
        net = Counter()
        for r in got[0]:
            net[tuple(r)[:-1]] += _SIGN[r["_change_type"]]
        want = _snapshot(spark, t, v, cols)
        want.subtract(_snapshot(spark, t, before, cols))
        assert +net == +want and -net == -want, f"step {n}"
        before = v
    assert len(got[0]) == 1  # the last step: one insert


def _row_feed_checkpoint(kind: str, dest) -> str:
    """A copy of the ``kind`` (single/multi source) row-feed checkpoint
    fixture at ``dest``."""
    shutil.copytree(os.path.join(_ROW_FEED_CHECKPOINTS, kind), dest)
    return str(dest)


def test_row_feed_checkpoint_fails_loudly_single_source(spark, tmp_path):
    """A single-source sink restarted on a row-level feed checkpoint:
    ``ValueError`` naming the remedy, and no view commit."""
    src = TxnTable(str(tmp_path / "src"))
    src.append(spark.createDataFrame([(1, 10), (2, 20)], "id int, v int"))
    ckpt = _row_feed_checkpoint("single", tmp_path / "ckpt")
    mv = MapMaterializedView(str(tmp_path / "view"), "id", lambda df: df,
                             n_buckets=2)
    with pytest.raises(ValueError,
                       match="new, empty view tables.*fresh checkpoint"):
        write_stream_bucketed_view(spark, src.path, mv, ckpt)
    assert mv.view.latest_version() is None


def test_row_feed_checkpoint_fails_loudly_multi_source(spark, tmp_path):
    """A two-source sink restarted on the row-level feeds' checkpoint
    (one offset per source): ``ValueError`` naming the remedy, not
    Spark's source-count assertion, and no view commit."""
    left, right = (TxnTable(str(tmp_path / "l")),
                   TxnTable(str(tmp_path / "r")))
    left.append(spark.createDataFrame([(1, 10)], "id int, lv int"))
    right.append(spark.createDataFrame([(1, "x")], "id int, rv string"))
    ckpt = _row_feed_checkpoint("multi", tmp_path / "ckpt")
    jmv = JoinMaterializedView(str(tmp_path / "jmv"), "id", n_buckets=2)
    with pytest.raises(ValueError,
                       match="new, empty view tables.*fresh checkpoint"):
        write_stream_join_mv(spark, left.path, right.path, jmv, ckpt)
    assert jmv.view.latest_version() is None


def _run(q) -> None:
    q.awaitTermination(120)
    q.stop()


def test_old_feed_checkpoint_refused_and_remedy_converges(spark, tmp_path):
    """A sink restarted on a checkpoint of the Python version feed
    (``{"versions": …}`` offsets) fails with the remedy, and following
    it — new view tables on a fresh checkpoint, same app id — yields
    the batch recompute through later batches too."""
    src = TxnTable(str(tmp_path / "src"))
    schema = "id int, v int"
    src.append(spark.createDataFrame([(1, 10), (2, 20)], schema))
    src.append(spark.createDataFrame([(3, 30)], schema))

    def double(df):
        return df.select("id", (df.v * 2).alias("v2"))

    old = MapMaterializedView(str(tmp_path / "old"), "id", double,
                              n_buckets=2)
    old.refresh(spark, src)
    ckpt = tmp_path / "ck_old"
    for d in ("offsets", "commits"):
        (ckpt / d).mkdir(parents=True)
    (ckpt / "offsets" / "0").write_text(
        'v1\n{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}\n'
        + json.dumps({"versions": {src.path: 1}}) + "\n")
    (ckpt / "commits" / "0").write_text('v1\n{"nextBatchWatermarkMs":0}\n')
    before = old.view.latest_version()
    with pytest.raises(ValueError,
                       match="new, empty view tables.*fresh checkpoint"):
        write_stream_bucketed_view(spark, src.path, old, str(ckpt),
                                   app_id="app")
    assert old.view.latest_version() == before

    new = MapMaterializedView(str(tmp_path / "new"), "id", double,
                              n_buckets=2)
    fresh = str(tmp_path / "ck_fresh")
    for rows in ([], [(4, 40)], [(5, 50), (6, 60)]):
        if rows:
            src.append(spark.createDataFrame(rows, schema))
        _run(write_stream_bucketed_view(spark, src.path, new, fresh,
                                        app_id="app"))
        assert _rows(new.read(spark)) == _rows(double(src.read(spark)))


def test_replay_reads_its_pinned_range(spark, tmp_path, crash_at_commit,
                                       monkeypatch):
    """Crash after the batch's range record is written but before the
    sink's commit, land a new commit, restart: the replay reads exactly
    the recorded range, the new commit arrives in the next batch, and
    records older than the previous batch are gone."""
    src = TxnTable(str(tmp_path / "src"))
    schema = "id int, v int"
    mv = MapMaterializedView(str(tmp_path / "view"), "id", lambda df: df,
                             n_buckets=2)
    ckpt = str(tmp_path / "ckpt")
    records = os.path.join(ckpt, "versions")

    def start():
        return write_stream_bucketed_view(spark, src.path, mv, ckpt,
                                          app_id="replay")

    src.append(spark.createDataFrame([(1, 10)], schema))
    _run(start())                                     # batch 0
    src.append(spark.createDataFrame([(2, 20)], schema))
    with crash_at_commit(mv.view.path, 1) as crash:  # batch 1 dies
        q = start()
        with pytest.raises(Exception):
            q.awaitTermination(120)
        q.stop()
    assert crash.hits == 1
    with open(os.path.join(records, "1")) as fh:
        assert json.load(fh) == {src.path: 1}
    src.append(spark.createDataFrame([(3, 30)], schema))   # version 2

    reads, real = [], TxnTable.read_changes

    def _read(self, spark_, since_version, upto=None):
        reads.append((since_version, upto))
        return real(self, spark_, since_version, upto)

    monkeypatch.setattr(TxnTable, "read_changes", _read)
    _run(start())
    assert reads == [(0, 1), (1, 2)]
    assert sorted(os.listdir(records)) == ["1", "2"]
    assert _rows(mv.read(spark)) == _rows(src.read(spark))


def test_missing_source_fails_loudly(spark, tmp_path):
    """A source table that does not exist yet fails the start with a
    ``ValueError`` naming it; nothing is created for it, for the other
    sources or for the checkpoint."""
    src = TxnTable(str(tmp_path / "src"))
    src.append(spark.createDataFrame([(1, 10)], "id int, v int"))
    missing = str(tmp_path / "later")
    ckpt = tmp_path / "ckpt"
    listing = sorted(os.listdir(src.log_dir))
    with pytest.raises(ValueError, match="later.*not a transactional"):
        _start_change_feed(spark, [src.path, missing],
                           lambda changes, _: None, str(ckpt), True)
    assert not os.path.exists(missing) and not ckpt.exists()
    assert sorted(os.listdir(src.log_dir)) == listing
