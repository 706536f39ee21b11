"""Safe type widening on evolution (r11, VERDICT r10 #4): INT->BIGINT /
FLOAT->DOUBLE through merge_schema append and autoMerge MERGE — the log
records the WIDE type, files keep their narrow physical type and upcast
at the scan, never a rewrite. Narrowing and lossy pairs stay rejected."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from sport_advantages_moderne_data_infrastructure_spark.sources import (
    txnlog as TL,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)


def test_append_widening_end_to_end(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 1.5)], "k int, amt float"))
    t.append(spark.createDataFrame([(2, 2.5)], "k int, amt double"),
             merge_schema=True)
    cur = t.read(spark)
    assert dict(cur.dtypes) == {"k": "int", "amt": "double"}
    assert {(r["k"], r["amt"]) for r in cur.collect()} == {(1, 1.5),
                                                           (2, 2.5)}
    # era-correct time travel: the pre-widening snapshot stays narrow
    assert dict(t.read(spark, version=0).dtypes) == {"k": "int",
                                                     "amt": "float"}
    # protocol floor raised: pre-widening readers refuse
    proto = json.load(open(os.path.join(t.log_dir, "protocol.json")))
    assert proto["min_reader_version"] >= TL.TW_READER_VERSION
    # a NARROWER frame into the widened table upcasts at the scan
    t.append(spark.createDataFrame([(3, 3.5)], "k int, amt float"),
             merge_schema=True)
    cur = t.read(spark)
    assert dict(cur.dtypes) == {"k": "int", "amt": "double"}
    assert cur.count() == 3


def test_merge_automerge_widens_key_type(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)],
                                   "k int, amt double"))
    t.merge(spark, spark.createDataFrame(
        [(2, 20.0), (2 ** 40, 9.0)], "k long, amt double"),
        "k", auto_merge=True)
    cur = t.read(spark)
    assert dict(cur.dtypes) == {"k": "bigint", "amt": "double"}
    assert {(r["k"], r["amt"]) for r in cur.collect()} == {
        (1, 1.0), (2, 20.0), (2 ** 40, 9.0)}
    # the change feed across the boundary coerces consistently
    ch = t.read_changes(spark, since_version=0)
    assert dict(ch.dtypes)["k"] == "bigint"


def test_lossy_and_incompatible_changes_rejected(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 1.0)], "k long, amt double"))
    # long -> double is lossy past 2^53: NOT on the lattice, either way
    with pytest.raises(ValueError, match="not these changes"):
        t.append(spark.createDataFrame([(2.5, 2.0)],
                                       "k double, amt double"),
                 merge_schema=True)
    # long frame into a double column is equally off-lattice
    t2 = TxnTable(str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(1, 1.0)], "k int, amt double"))
    with pytest.raises(ValueError, match="not these changes"):
        t2.append(spark.createDataFrame([(2, 2)], "k int, amt long"),
                  merge_schema=True)
    # genuine type change still rejected
    with pytest.raises(ValueError, match="not these changes"):
        t2.append(spark.createDataFrame([(3, "x")],
                                        "k int, amt string"),
                  merge_schema=True)


def test_reads_widened_table(spark, tmp_path, feed_to_parquet):
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 1.5)], "k int, amt float"))
    t.append(spark.createDataFrame([(2, 2.5)], "k long, amt double"),
             merge_schema=True)
    df = t.read(spark)
    assert dict(df.dtypes) == {"k": "bigint", "amt": "double"}
    assert {(r["k"], r["amt"]) for r in df.collect()} == {(1, 1.5),
                                                          (2, 2.5)}
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    feed_to_parquet(t.path, out, ck)
    got = spark.read.parquet(out)
    assert got.count() == 2 and dict(got.dtypes)["k"] == "bigint"


def test_widening_composes_with_column_mapping(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 1.5)], "k int, amt float"))
    t.rename_column("amt", "amount")
    t.append(spark.createDataFrame([(2, 2.5)],
                                   "k int, amount double"),
             merge_schema=True)
    cur = t.read(spark)
    assert dict(cur.dtypes) == {"k": "int", "amount": "double"}
    assert {(r["k"], r["amount"]) for r in cur.collect()} == {
        (1, 1.5), (2, 2.5)}
    # era view: narrow type under the OLD name
    assert dict(t.read(spark, version=0).dtypes) == {"k": "int",
                                                     "amt": "float"}


@pytest.mark.parametrize("write", ["overwrite_partitions", "append"])
def test_partition_granular_type_change_refused(spark, tmp_path, write):
    """A partition-granular write that changes a column's type off the
    widening lattice is refused before it commits, naming the remedy,
    and the table stays readable: the commit would have logged a
    schema no scan can read its old files with."""
    t = TxnTable(str(tmp_path / "t"))
    if write == "append":
        t.set_partition_column("p")
    first = spark.createDataFrame([(1, 1.5, 0), (2, 2.5, 1)],
                                  "id int, score double, p int")
    bad = spark.createDataFrame([(3, "oops", 1)],
                                "id int, score string, p int")
    if write == "append":
        t.append(first)
        go = lambda: t.append(bad)  # noqa: E731
    else:
        t.overwrite_partitions(first, "p")
        go = lambda: t.overwrite_partitions(bad, "p")  # noqa: E731
    v0, dirs0 = t.latest_version(), set(os.listdir(t.path + "/data"))
    with pytest.raises(ValueError, match=r"score.*double.*string"
                       r".*cast the frame to the table's types"):
        go()
    assert t.latest_version() == v0
    assert set(os.listdir(t.path + "/data")) == dirs0  # files reclaimed
    assert dict(t.read(spark).dtypes)["score"] == "double"
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 1.5, 0), (2, 2.5, 1)]
