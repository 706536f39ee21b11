"""The change-feed sinks' version feed (``streaming/pipeline.
_start_change_feed`` over ``sources/txnstream.TxnVersionFeed``): the
stream carries only log-version ranges and each trigger reads its rows
with ``TxnTable.read_changes``. These pin that it delivers what the
public row-level ``format("txnlog")`` change feed delivers, and that a
sink restarted on a checkpoint of that row-level feed fails with the
remedy instead of a ``KeyError`` or Spark's source-count assertion."""

from __future__ import annotations

from collections import Counter

import pytest

from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (
    JoinMaterializedView,
    MapMaterializedView,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnstream import (  # noqa: E501
    register_txn_source,
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


def _rows(df) -> Counter:
    return Counter(tuple(sorted(r.asDict().items())) for r in df.collect())


def _row_feed(spark, path: str):
    register_txn_source(spark)
    return (spark.readStream.format("txnlog")
            .option("readChangeFeed", "true").load(path))


def _drain_row_feed(spark, feed, checkpoint: str) -> list[Counter]:
    """Run the row-level feed to the end on ``checkpoint``; one change-row
    multiset per batch."""
    got = []
    q = (feed.writeStream
         .foreachBatch(lambda df, _: got.append(_rows(df)))
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    return got


def test_version_feed_delivers_the_row_feed(spark, tmp_path):
    """Over an append, a MERGE, a DV delete with change capture, a
    compaction and a column rename, each step's batch carries the same
    multiset of change rows through the starter as through
    ``readStream.format("txnlog").option("readChangeFeed", "true")``."""
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
    for n, step in enumerate(steps):
        step()
        rows = _drain_row_feed(spark, _row_feed(spark, t.path),
                               str(tmp_path / "ck_rows"))
        got = []
        q = _start_change_feed(
            spark, [t.path],
            lambda changes, _: got.append(_rows(changes[t.path])),
            str(tmp_path / "ck_versions"), True)
        q.awaitTermination(120)
        q.stop()
        assert len(got) == 1, f"step {n}: {len(got)} batches"
        assert got[0] == sum(rows, Counter()), f"step {n}"
    assert sum(got[0].values()) == 1  # the last step: one insert


def test_row_feed_checkpoint_fails_loudly_single_source(spark, tmp_path):
    """A single-source sink restarted on a row-level feed checkpoint:
    ``ValueError`` naming the remedy, and no view commit."""
    src = TxnTable(str(tmp_path / "src"))
    src.append(spark.createDataFrame([(1, 10), (2, 20)], "id int, v int"))
    ckpt = str(tmp_path / "ckpt")
    _drain_row_feed(spark, _row_feed(spark, src.path), ckpt)
    mv = MapMaterializedView(str(tmp_path / "view"), "id", lambda df: df,
                             n_buckets=2)
    with pytest.raises(ValueError,
                       match="batch refresh.*fresh checkpoint"):
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
    ckpt = str(tmp_path / "ckpt")
    _drain_row_feed(spark, _row_feed(spark, left.path)
                    .unionByName(_row_feed(spark, right.path),
                                 allowMissingColumns=True), ckpt)
    jmv = JoinMaterializedView(str(tmp_path / "jmv"), "id", n_buckets=2)
    with pytest.raises(ValueError,
                       match="batch refresh.*fresh checkpoint"):
        write_stream_join_mv(spark, left.path, right.path, jmv, ckpt)
    assert jmv.view.latest_version() is None
