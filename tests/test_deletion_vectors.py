"""Deletion vectors (sources/txnlog, round 6): row-level DELETE without
rewriting any data file — Delta's DV sidecars in miniature. The commit
records per-dir position files; every read path anti-joins them out;
rewrites materialize them; protocol gating keeps pre-DV readers from
resurrecting rows."""

from __future__ import annotations

import os

import pytest

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnProtocolError,
    TxnTable,
)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id int, val string")


def _ids(spark, t, **kw):
    return {r.id for r in t.read(spark, **kw).collect()}


def _dv_table(spark, tmp_path, name="t"):
    t = TxnTable(str(tmp_path / name))
    t.append(_df(spark, 0, 100))
    t.append(_df(spark, 100, 200))
    return t


def test_dv_delete_reads_exact_and_rewrites_nothing(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    dirs_before = set(t.snapshot_dirs())
    files_before = sorted(
        os.path.join(r, f)
        for d in dirs_before
        for r, _, fs in os.walk(os.path.join(t.path, d)) for f in fs)
    t.delete_where(spark, "id % 10 = 0", use_dv=True)
    # same data dirs, same physical files — the delete was metadata
    assert set(t.snapshot_dirs()) == dirs_before
    files_after = sorted(
        os.path.join(r, f)
        for d in dirs_before
        for r, _, fs in os.walk(os.path.join(t.path, d)) for f in fs)
    assert files_after == files_before
    assert _ids(spark, t) == {i for i in range(200) if i % 10 != 0}
    # equals the rewrite-mode delete on a twin table
    tw = _dv_table(spark, tmp_path, "twin")
    tw.delete_where(spark, "id % 10 = 0")
    assert _ids(spark, t) == _ids(spark, tw)


def test_dv_cumulative_and_idempotent(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id % 10 = 0", use_dv=True)
    v = t.latest_version()
    # re-deleting already-deleted rows: no new matches, no commit
    assert t.delete_where(spark, "id % 10 = 0", use_dv=True) == v
    t.delete_where(spark, "id % 7 = 0", use_dv=True)
    assert _ids(spark, t) == {i for i in range(200)
                              if i % 10 != 0 and i % 7 != 0}
    # one live DV file per dir, counts cumulative
    for ref in t.snapshot_dvs().values():
        assert ref["rows"] > 10


def test_dv_metadata_count_exact_stats_degrade(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    assert t.snapshot_row_count() == 200
    assert t.stats_minmax("id") == (0, 199)
    t.delete_where(spark, "id >= 190", use_dv=True)
    assert t.snapshot_row_count() == 190  # exact, zero data I/O
    # deleted rows may have been the extremes: stats are bounds now
    assert t.stats_minmax("id") is None
    # time travel: pre-DV snapshot intact, with exact metadata count
    assert _ids(spark, t, version=1) == set(range(200))
    assert t.snapshot_row_count(version=1) == 200


def test_dv_applied_on_pruned_and_point_reads(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    for lo in (0, 1000, 2000):
        t.append(_df(spark, lo, lo + 100))
    t.enable_bloom(["id"])
    t.append(_df(spark, 3000, 3100))
    t.delete_where(spark, "id IN (1050, 3050)", use_dv=True)
    got = {r.id for r in t.read_range(spark, "id", 1000, 1099).collect()}
    assert got == set(range(1000, 1100)) - {1050}
    assert t.read_point(spark, "id", 3050).count() == 0
    assert t.read_point(spark, "id", 3049).count() == 1


def test_dv_rewrite_paths_materialize_and_respect(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id % 10 = 0", use_dv=True)
    # UPDATE must not resurrect DV'd rows
    t.update_where(spark, "id < 5", {"val": "'patched'"})
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert (0, "v0") not in got and (0, "patched") not in got
    assert (1, "patched") in got and (11, "v11") in got
    # compact materializes: no DVs left, rows preserved
    t.compact(spark)
    assert t.snapshot_dvs() == {}
    assert _ids(spark, t) == {i for i in range(200) if i % 10 != 0}
    assert t.stats_minmax("id") is not None  # stats exact again


def test_dv_merge_does_not_resurrect(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id = 50", use_dv=True)
    t.merge(spark, _df(spark, 60, 61), "id")
    assert 50 not in _ids(spark, t)


def test_dv_change_feed_and_increment_guard(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id % 50 = 0", use_dv=True)
    ch = t.read_changes(spark, since_version=-1)
    deletes = {r.id for r in ch.filter("_change_type = 'delete'").collect()}
    assert deletes == {0, 50, 100, 150}
    with pytest.raises(ValueError, match="rewrite"):
        t.read_increment(spark, since_version=1).count()


def test_dv_restore_roundtrip(spark, tmp_path):
    t = _dv_table(spark, tmp_path)                    # v0, v1
    t.delete_where(spark, "id % 10 = 0", use_dv=True)  # v2
    t.delete_where(spark, "id % 7 = 0", use_dv=True)   # v3
    t.restore(2)                                       # back to one DV
    assert _ids(spark, t) == {i for i in range(200) if i % 10 != 0}
    t.restore(1)                                       # back to no DVs
    assert _ids(spark, t) == set(range(200))
    assert t.snapshot_dvs() == {}
    t.restore(3)                                       # forward again
    assert _ids(spark, t) == {i for i in range(200)
                              if i % 10 != 0 and i % 7 != 0}


def test_dv_clone_carries_positions(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id % 10 = 0", use_dv=True)
    c = t.clone(str(tmp_path / "c"))
    assert _ids(spark, c) == {i for i in range(200) if i % 10 != 0}
    # independent afterwards
    t.delete_where(spark, "id % 7 = 0", use_dv=True)
    assert 7 in _ids(spark, c) and 7 not in _ids(spark, t)


def test_dv_checkpoint_carries_mapping(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id % 10 = 0", use_dv=True)
    t.checkpoint()
    for lo in (200, 300, 400):
        t.append(_df(spark, lo, lo + 10))
    # planning from the checkpoint must still see the DV mapping
    assert 10 not in _ids(spark, t)
    assert t.snapshot_row_count() == 180 + 30


def test_dv_vacuum_retention(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id % 10 = 0", use_dv=True)
    t.delete_where(spark, "id % 7 = 0", use_dv=True)  # supersedes file 1
    kept = t.vacuum(older_than_seconds=0)  # keep_versions: both stay
    assert not any(v.startswith("dv/") for v in kept)
    victims = t.vacuum(keep_versions=False, older_than_seconds=0)
    assert any(v.startswith("dv/") for v in victims)  # superseded swept
    assert _ids(spark, t) == {i for i in range(200)
                              if i % 10 != 0 and i % 7 != 0}


def test_dv_protocol_gates_old_readers(spark, tmp_path):
    import json

    t = _dv_table(spark, tmp_path)
    proto = os.path.join(t.log_dir, "protocol.json")
    with open(proto) as fh:
        assert json.load(fh)["min_reader_version"] == 1
    t.delete_where(spark, "id = 1", use_dv=True)
    with open(proto) as fh:
        assert json.load(fh)["min_reader_version"] == 2
    # a pre-DV reader (capability 1) must refuse, not resurrect
    fresh = TxnTable(t.path)
    import sport_advantages_moderne_data_infrastructure_spark.sources.txnlog as TL
    old = TL._READER_CAPABILITY
    TL._READER_CAPABILITY = 1
    try:
        with pytest.raises(TxnProtocolError, match="requires reader"):
            fresh.read(spark)
    finally:
        TL._READER_CAPABILITY = old


def test_dv_batch_read_applies_positions(spark, tmp_path):
    """Snapshot reads mask DV'd positions (row_idx == file-order
    position, Spark's _metadata.row_index contract) — equal to the
    model of the deletes, incl. time travel to the pre-DV snapshot."""
    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id % 10 = 0", use_dv=True)
    t.delete_where(spark, "id % 7 = 0", use_dv=True)
    assert _ids(spark, t) == {i for i in range(200) if i % 10 and i % 7}
    assert _ids(spark, t, version=1) == set(range(200))


def test_dv_change_feed_stream_guard(spark, tmp_path, feed_to_parquet):
    """The streaming change feed refuses a DV commit without change
    files like any rewrite (its row-level delta exists only as
    bitmaps), and delivers the delete rows of one that captured them."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    bare = _dv_table(spark, tmp_path, "bare")
    bare.delete_where(spark, "id = 1", use_dv=True, capture_changes=False)
    with pytest.raises(StreamingQueryException, match="deletion-vector"):
        feed_to_parquet(bare.path, str(tmp_path / "out0"),
                        str(tmp_path / "ck0"))

    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id = 1", use_dv=True)
    out = str(tmp_path / "out1")
    feed_to_parquet(t.path, out, str(tmp_path / "ck1"), cdf=True)
    got = spark.read.parquet(out)
    assert got.filter("_change_type = 'insert'").count() == 200
    assert [r.id for r in got.filter("_change_type = 'delete'")
            .collect()] == [1]


def test_dv_uncaptured_delete_fails_change_feed(spark, tmp_path):
    """A DV DELETE with capture_changes=False has no change files and no
    removes — its row-level delta exists only as DV bitmaps. The batch
    change feed must raise (mirroring the streaming CDF reader and
    read_increment), never fall through to the append branch and let
    incremental consumers silently miss the deletions."""
    t = _dv_table(spark, tmp_path)
    t.delete_where(spark, "id = 50", use_dv=True, capture_changes=False)
    with pytest.raises(ValueError, match="deletion-vector"):
        t.read_changes(spark, since_version=1)
    # and from before the DV commit, same failure (not a silent skip)
    with pytest.raises(ValueError, match="deletion-vector"):
        t.read_changes(spark, since_version=-1)


# --- partitioned-table DVs (r11): needle deletes without a partition
# rewrite — the ANN inverted lists' GDPR shape ---------------------------


def _part_table(spark, tmp_path, n=1000):
    from pyspark.sql import functions as F

    t = TxnTable(str(tmp_path / "pt"))
    df = spark.range(0, n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 8).cast("int").alias("centroid_id"),
        (F.col("id") * 2).alias("val"))
    adds = t._write_data_partitioned(df, "centroid_id")  # noqa: SLF001
    t.commit(adds, [], {"operation": "seed",
                        "partition_by": "centroid_id"},
             expected_version=None)
    return t


def test_partitioned_dv_delete_all_read_paths(spark, tmp_path,
                                              feed_to_parquet):
    """use_dv=True on a partition-granular layout: the commit is a
    position file (no partition rewrite — the live dirs are untouched),
    the condition may reference the PARTITION column (parsed from the
    path at the declared type), and every read path masks: snapshot,
    partition-pruned, and the change feed."""
    t = _part_table(spark, tmp_path)
    live0 = set(t.snapshot_dirs())
    t.delete_where(spark, "vec_id % 100 = 7 AND centroid_id = 7",
                   use_dv=True)
    assert set(t.snapshot_dirs()) == live0  # no rewrite, same dirs
    assert t.read(spark).count() == 995
    assert t.read(spark).filter("vec_id % 100 = 7").count() > 0  # other lists
    assert (t.read(spark)
            .filter("vec_id % 100 = 7 AND centroid_id = 7").count() == 0)
    rp = t.read_partitions(spark, [7])
    assert rp.count() == 120 and rp.filter("vec_id % 100 = 7").count() == 0
    # the change feed carries the DV delete's captured rows: the
    # seed's inserts net of them are the masked snapshot
    out = str(tmp_path / "out")
    feed_to_parquet(t.path, out, str(tmp_path / "ck"), cdf=True)
    feed = spark.read.parquet(out)
    gone = feed.filter("_change_type = 'delete'")
    assert gone.count() == 5
    assert gone.filter("centroid_id != 7").count() == 0
    assert (feed.filter("_change_type = 'insert'").count() - 5
            == t.read(spark).count())


def test_partitioned_dv_cumulative_count_travel_compact(spark,
                                                        tmp_path):
    """Second DV on the same lists is CUMULATIVE (an already-deleted
    row is not double-counted), metadata row counts subtract the
    positions, time travel resurrects, and compaction materializes
    the DVs (positions drop, mapping clears, counts hold)."""
    t = _part_table(spark, tmp_path)
    t.delete_where(spark, "vec_id % 100 = 7 AND centroid_id = 7",
                   use_dv=True)
    # vec_id 7 is already gone (7 % 8 == 7): only 16 is new
    t.delete_where(spark, "vec_id IN (7, 16)", use_dv=True)
    assert t.read(spark).count() == 994
    assert t.snapshot_row_count() == 994
    assert t.read(spark, version=0).count() == 1000
    t.compact(spark)
    assert t.snapshot_dvs() == {}
    assert t.read(spark).count() == 994
    assert t.read(spark).filter("vec_id = 16").count() == 0


def test_partitioned_dv_change_feed_carries_preimages(spark, tmp_path):
    """The DV commit's change rows are delete PREIMAGES with the
    partition column attached — downstream incremental consumers
    (e.g. a stacked MV) subtract exactly the masked rows."""
    t = _part_table(spark, tmp_path)
    t.delete_where(spark, "vec_id IN (3, 11)", use_dv=True)
    ch = t.read_changes(spark, since_version=0)
    dels = ch.filter("_change_type = 'delete'")
    rows = {(r["vec_id"], r["centroid_id"]) for r in dels.collect()}
    assert rows == {(3, 3), (11, 3)}


def test_partitioned_delete_without_dv_rewrites_partition(spark,
                                                          tmp_path):
    """r12: the non-DV partitioned delete rewrites ONLY the matched
    partition (the r11 refusal is gone); the DV path remains the
    needle-cheap alternative on the same table."""
    t = _part_table(spark, tmp_path)
    cold = {d for d in t.snapshot_dirs()
            if "centroid_id=3" not in d}
    t.delete_where(spark, "vec_id = 3")
    assert t.read(spark).count() == 999
    assert t.read(spark).filter("vec_id = 3").count() == 0
    assert cold <= set(t.snapshot_dirs())  # cold partitions untouched


def test_partitioned_dv_clone_and_restore_roundtrip(spark, tmp_path):
    """CLONE carries the subdir-keyed DV mapping (masked rows stay
    masked in the clone), and RESTORE to the pre-DV version
    resurrects then a re-restore re-masks — the metadata round-trip
    at partition-granular depth."""
    t = _part_table(spark, tmp_path)
    t.delete_where(spark, "vec_id IN (5, 13)", use_dv=True)   # v1
    c = t.clone(str(tmp_path / "dst"))
    assert c.read(spark).count() == 998
    assert c.read(spark).filter("vec_id IN (5, 13)").count() == 0
    t.restore(0)
    assert t.read(spark).count() == 1000
    t.restore(1)
    assert t.read(spark).count() == 998
