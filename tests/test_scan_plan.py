"""Every ``TxnTable`` reader plans through one explicit-schema scan.

Each case builds one reader's frame on one layout and checks two
things:

- building the frame runs no Spark job (no schema inference, no type
  probe), counted through a job group;
- its rows, column order and dtypes equal a DataFrame model built from
  the written batches.

Layouts: plain, single-key, multi-key and generated-key partitioned, a
``__kb``-bucketed table with three live commit roots, column-mapped,
type-widened, live deletion vectors, and two legacy logs whose commit
docs carry no ``"schema"`` (plain with an evolved column, and
partitioned with the key types in generation.json's
``partition_types``, as such logs were written). Readers: ``read``,
``read_partitions``, ``read_partitions_where``, ``read_range``,
``read_point``, ``read_increment`` and ``read_changes``."""

from __future__ import annotations

import json
import os
import uuid
from collections import Counter
from functools import reduce

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)

_DATA = ["id", "day", "grp", "val", "x", "ts"]


def _batch(spark, ids):
    return spark.createDataFrame(
        [(i, i % 3, "a" if i % 2 else "b", f"v{i}", i * 7 % 50)
         for i in ids],
        "id int, day int, grp string, val string, x int").withColumn(
        "ts", F.expr("TIMESTAMP'2024-01-01 00:00:00' "
                     "+ make_interval(0, 0, 0, id * 3)"))


_IDS = [range(0, 8), range(8, 16), range(16, 24)]


def _strip_schemas(t: TxnTable) -> None:
    for v in t.versions():
        p = os.path.join(t.log_dir, f"{v:011d}.json")
        with open(p) as fh:
            doc = json.load(fh)
        doc.pop("schema", None)
        with open(p, "w") as fh:
            json.dump(doc, fh)


def _build(spark, path, layout):
    """(table, model batches, model column order, version of each batch,
    leading partition key or None)."""
    t = TxnTable(path)
    batches = [_batch(spark, ids) for ids in _IDS]
    cols, key = list(_DATA), None
    if layout in ("single_key", "legacy_partitioned"):
        t.set_partition_column("day")
        cols, key = [c for c in _DATA if c != "day"] + ["day"], "day"
    elif layout == "multi_key":
        t.set_partition_column(["day", "grp"])
        cols = [c for c in _DATA if c not in ("day", "grp")] + ["day", "grp"]
        key = "day"
    elif layout == "generated":
        t.set_generated_column("month_ts", "DATE_TRUNC('month', ts)")
        t.set_partition_column("month_ts")
        batches = [b.withColumn("month_ts", F.expr("DATE_TRUNC('month', ts)"))
                   for b in batches]
        cols, key = _DATA + ["month_ts"], "month_ts"
    elif layout == "bucketed":
        batches = [b.withColumn("__kb", F.lit(k)) for k, b in
                   enumerate(batches)]
        cols, key = _DATA + ["__kb"], "__kb"
    elif layout == "widened":
        batches = [batches[0]] + [b.withColumn("x", F.col("x").cast("long"))
                                  for b in batches[1:]]
    elif layout == "legacy_plain":
        batches[2] = batches[2].withColumn("note", F.concat(F.lit("n"),
                                                            F.col("id")))
        cols = _DATA + ["note"]
    versions = []
    for i, b in enumerate(batches):
        if layout == "bucketed":
            t.overwrite_partitions(b, "__kb")
        elif layout == "mapped" and i == 2:
            t.rename_column("val", "label")
            b = b.withColumnRenamed("val", "label")
            batches[2] = b
            t.append(b)
        else:  # a generated key is the engine's to compute
            t.append(b.drop("month_ts"),
                     merge_schema=layout in ("widened", "legacy_plain"))
        versions.append(t.latest_version())
    if layout == "mapped":
        batches = [b.withColumnRenamed("val", "label") for b in batches]
        cols = ["label" if c == "val" else c for c in cols]
    if layout == "widened":
        batches[0] = batches[0].withColumn("x", F.col("x").cast("long"))
    if layout == "dv_live":
        t.delete_where(spark, "id IN (3, 12)", use_dv=True)
    if layout.startswith("legacy"):
        _strip_schemas(t)
        if key is not None:  # key types as the partitioned write logged
            cfg = t.generation_config()
            cfg["partition_types"] = {"day": "int"}
            t._write_config("generation.json", cfg)  # noqa: SLF001
    return TxnTable(path), batches, cols, versions, key


LAYOUTS = ["plain", "single_key", "multi_key", "generated", "bucketed",
           "mapped", "widened", "dv_live", "legacy_plain",
           "legacy_partitioned"]
READERS = ["read", "read_partitions", "read_partitions_where",
           "read_range", "read_point", "read_increment", "read_changes"]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("scan_plan")
    return {lay: _build(spark, str(root / lay), lay) for lay in LAYOUTS}


def _model(batches, cols):
    df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                batches)
    return df.select(*cols)


def _case(spark, layout, reader, t, batches, cols, versions, key):
    """(a callable building the frame, its model) of one reader on one
    layout, or None when the reader does not apply."""
    snap = _model(batches, cols)
    if layout == "dv_live":
        snap = snap.filter(~F.col("id").isin(3, 12))
    if reader == "read":
        return lambda: t.read(spark), snap
    if reader in ("read_partitions", "read_partitions_where"):
        if key is None:
            return None
        one = sorted(r[0] for r in snap.select(
            F.col(key).cast("string")).distinct().collect())[1]
        if reader == "read_partitions":
            return (lambda: t.read_partitions(spark, [one]),
                    snap.filter(F.col(key).cast("string") == one))
        cond = f"{key} >= '{one}'" if key == "month_ts" else f"{key} >= {one}"
        return (lambda: t.read_partitions_where(spark, cond),
                snap.filter(cond))
    if reader == "read_range":
        return (lambda: t.read_range(spark, "id", 5, 17),
                snap.filter("id BETWEEN 5 AND 17"))
    if reader == "read_point":
        return (lambda: t.read_point(spark, "id", 9),
                snap.filter("id = 9"))
    if reader == "read_increment":
        if layout == "dv_live":
            return None  # a DV commit is not append-only
        return (lambda: t.read_increment(spark, versions[0]),
                _model(batches[1:], cols))
    # each version's rows carry that version's columns; a column added
    # later follows the feed's own _change_type/_commit_version
    feed = [b.select(*[c for c in cols if c in b.columns])
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(v))
            for b, v in zip(batches[1:], versions[1:])]
    if layout == "dv_live":
        feed.append(_model(batches, cols).filter(F.col("id").isin(3, 12))
                    .withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_version", F.lit(versions[-1] + 1)))
    return (lambda: t.read_changes(spark, versions[0]),
            reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                   feed))


@pytest.mark.parametrize("reader", READERS)
@pytest.mark.parametrize("layout", LAYOUTS)
def test_reader_plans_without_a_job(spark, tables, layout, reader):
    case = _case(spark, layout, reader, *tables[layout])
    if case is None:
        pytest.skip(f"{reader} does not apply to the {layout} layout")
    build, model = case
    sc = spark.sparkContext
    tag = f"scan-plan-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, "frame-building job count")
    try:
        df = build()
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
    assert jobs == 0, f"building the frame ran {jobs} Spark job(s)"
    assert df.columns == model.columns
    assert df.dtypes == model.dtypes
    assert (Counter(tuple(r) for r in df.collect())
            == Counter(tuple(r) for r in model.collect()))


def test_incremental_zorder_reads_the_tail_through_the_scan(spark, tmp_path):
    """Incremental ZORDER rewrites its tail through the one scan, so a
    live deletion vector stays applied and a renamed column keeps its
    values: rows read the same before and after the compaction."""
    t = TxnTable(str(tmp_path / "t"))
    for lo in (0, 10):
        t.append(spark.createDataFrame(
            [(i, i * 3 % 7, f"v{i}") for i in range(lo, lo + 10)],
            "id int, x int, val string"))
    t.delete_where(spark, "id IN (2, 13)", use_dv=True)
    t.rename_column("val", "label")
    before = Counter(tuple(r) for r in t.read(spark).collect())
    assert t.compact_zorder_incremental(spark, ["x"], target_dirs=2)
    assert Counter(tuple(r) for r in t.read(spark).collect()) == before
