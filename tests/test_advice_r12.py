"""Round-12 advisor regressions: (1) overwrite() on an identity table
must capture its commit base BEFORE the identity high-water read so an
interleaved identity-allocating append surfaces as TxnConflictError
instead of being absorbed with a stale high water; (2) protocol floor
rewrites must re-read protocol.json from disk and only ever RAISE
fields — a stale in-handle cache must never downgrade a floor another
handle raised; (3) maintained-artifact serves must pin the
bookkeeping-carrying view read at the same commit the meta came from
(a refresh interleaving between the meta read and the data read must
not pair fresh data with stale bookkeeping); (4) the ANN DV-needle
retraction path must accept string/UUID vec_ids like the
partition-rewrite path does."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnConflictError,
    TxnTable,
)


def _orders(spark, n=60):
    return (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .orderBy("o_orderkey").limit(n))


def test_overwrite_identity_race_conflicts_not_absorbed(spark, tmp_path):
    """An identity-allocating append landing between overwrite()'s
    high-water read and its commit must fail the overwrite with
    TxnConflictError — absorbing it would commit a high water LOWER
    than ids the interleaved append already handed out, and later
    appends would re-issue those ids."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "t"))
    t.set_identity_column("rid", start=1, step=1)
    t.append(o.limit(20))  # rid 1..20

    real_hw = t._identity_high_water  # noqa: SLF001
    fired = {}

    def hw_then_interleave(version=None):
        hw = real_hw(version)
        if "done" not in fired:
            fired["done"] = True
            # competing writer allocates 1..10 MORE ids (21..30) after
            # this handle read its high water but before it commits
            TxnTable(t.path).append(o.limit(10))
        return hw

    t._identity_high_water = hw_then_interleave  # noqa: SLF001
    with pytest.raises(TxnConflictError):
        t.overwrite(o.limit(5))
    # the table still holds both appends, ids unique, high water 30
    s = TxnTable(t.path).read(spark)
    assert s.count() == 30
    assert s.agg(F.countDistinct("rid")).first()[0] == 30
    assert s.agg(F.max("rid")).first()[0] == 30


def test_protocol_floor_never_downgraded_by_stale_cache(spark, tmp_path):
    """Handle A caches the protocol, handle B raises min_reader_version
    (first DV commit), then A triggers a writer-floor bump — the
    rewrite must preserve B's reader floor, not restate A's cache
    (which would let pre-DV readers resurrect deleted rows)."""
    o = _orders(spark, 30)
    a = TxnTable(str(tmp_path / "p"))
    a.append(o)
    a.read(spark)  # populates a's protocol cache from disk (reader 1)
    assert a._protocol_cache is not None  # noqa: SLF001

    b = TxnTable(a.path)
    b.delete_where(spark, "o_orderkey <= 3", use_dv=True)
    proto = json.load(open(os.path.join(a.log_dir, "protocol.json")))
    assert proto["min_reader_version"] == 2  # B raised the floor

    a.set_generated_column("cents",
                           "CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    proto = json.load(open(os.path.join(a.log_dir, "protocol.json")))
    assert proto["min_reader_version"] == 2, "stale cache downgraded DV floor"
    assert proto["min_writer_version"] >= 2

    # and the dual direction: a fresh handle's reader-floor bump must
    # not downgrade the writer floor the generation declaration set
    c = TxnTable(a.path)
    c._raise_protocol(reader_floor=3)  # noqa: SLF001
    proto = json.load(open(os.path.join(a.log_dir, "protocol.json")))
    assert proto["min_reader_version"] == 3
    assert proto["min_writer_version"] >= 2


def test_served_sketch_pins_at_meta_commit(spark, tmp_path, monkeypatch):
    """A fold interleaving between the serve's meta read and its sketch
    read must NOT leak into the answer: the serve pins the sketch at
    the commit the meta came from, so the estimate reflects the state
    the bookkeeping describes."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        distinct as D,
    )

    root = str(tmp_path / "hll")
    events, sketch = D._tables(root)  # noqa: SLF001
    batch0 = spark.range(50).select(F.col("id").cast("long").alias("v"))
    D.ingest_batch(events, sketch, batch0, 0, "v", "pin")

    real = TxnTable.meta_with

    def meta_then_interleave(self, key, version=None):
        out = real(self, key, version)
        if "done" not in fired:
            fired["done"] = True
            later = spark.range(50, 500).select(
                F.col("id").cast("long").alias("v"))
            D.ingest_batch(events, sketch, later, 1, "v", "pin")
        return out

    fired = {}
    monkeypatch.setattr(TxnTable, "meta_with", meta_then_interleave)
    est = D.approx_distinct_served(spark, root).first()["n_approx"]
    monkeypatch.setattr(TxnTable, "meta_with", real)
    assert fired.get("done"), "interleave did not fire"
    # pinned serve answers as of the pre-interleave fold (~50), never
    # the post-interleave 500-distinct sketch
    assert est < 100
    # and after the interleaved fold is visible, a fresh serve sees it
    est2 = D.approx_distinct_served(spark, root).first()["n_approx"]
    assert est2 > 400


def test_dv_needle_retraction_accepts_string_ids(spark, sf_dir, tmp_path):
    """retract_batch's DV fast path renders the IN list type-aware:
    string (even quote-bearing) vec_ids ride the position file exactly
    like integral ids do, matching the rewrite leg's tolerance."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.ivf import (
        train_centroids,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
        load_table,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.annindex import (
        ingest_batch,
        read_index,
        retract_batch,
    )

    e = (load_table(spark, sf_dir, "embeddings").limit(60)
         .select(F.concat(F.lit("doc'"), F.col("vec_id").cast("string"))
                 .alias("vec_id"), "embedding").cache())
    centroids = train_centroids(e, k=4, max_iter=3)
    idx = TxnTable(str(tmp_path / "idx"))
    ingest_batch(idx, e, centroids, 0, "sdv")

    needles = e.limit(2).select("vec_id", "embedding")
    gone = [r["vec_id"] for r in needles.select("vec_id").collect()]
    live0 = set(idx.snapshot_dirs())
    retract_batch(idx, needles, centroids, 1, "sdv", use_dv=True)
    assert set(idx.snapshot_dirs()) == live0  # position file only
    m = read_index(spark, idx.path)
    assert m.filter(F.col("vec_id").isin(gone)).count() == 0
    assert m.count() == 60 - len(gone)


def test_commit_ledger_guard_absorbs_same_batch_race(spark, tmp_path):
    """r12 review: the exactly-once ledger check lives INSIDE commit()
    (Delta's SetTransaction discipline) — a second commit of the same
    (app_id, batch_id) raises TxnConflictError even though it targets
    a fresh version, closing the window where a replica landing after
    a sink's pre-commit ledger check double-committed a batch. Other
    apps and later batches are unaffected."""
    o = _orders(spark, 20)
    t = TxnTable(str(tmp_path / "lg"))
    meta = {"stream_batch_id": 5, "stream_app_id": "x",
            "operation": "stream_append"}
    rel = t._write_data(o.limit(5))  # noqa: SLF001
    t.commit([rel], [], meta)
    rel2 = t._write_data(o.limit(3))  # noqa: SLF001
    with pytest.raises(TxnConflictError, match="already"):
        t.commit([rel2], [], dict(meta))
    # later batch and other app both commit fine
    t.commit([rel2], [], {**meta, "stream_batch_id": 6})
    rel3 = t._write_data(o.limit(2))  # noqa: SLF001
    t.commit([rel3], [], {**meta, "stream_app_id": "y",
                          "stream_batch_id": 5})
    assert t.read(spark).count() == 10
