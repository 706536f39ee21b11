"""Transactional table format (sources/txnlog): atomicity, snapshot
isolation, time travel, optimistic concurrency, vacuum, and the
exactly-once streaming MERGE sink built on it."""

from __future__ import annotations

import os

import pytest

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnConflictError,
    TxnTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, val string")


def _rows(df):
    return {(r["id"], r["val"]) for r in df.collect()}


def test_append_overwrite_roundtrip(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    assert _rows(t.read(spark)) == {(1, "a"), (2, "b"), (3, "c")}
    t.overwrite(_df(spark, [(9, "z")]))
    assert _rows(t.read(spark)) == {(9, "z")}
    assert t.versions() == [0, 1, 2]


def test_time_travel(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    assert _rows(t.read(spark, version=0)) == {(1, "a")}
    assert _rows(t.read(spark, version=1)) == {(2, "b")}


def test_merge_upsert_semantics(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge(spark, _df(spark, [(2, "B!"), (4, "d")]), "id")
    assert _rows(t.read(spark)) == {(1, "a"), (2, "B!"), (3, "c"), (4, "d")}
    # pre-merge snapshot still readable (snapshot isolation for readers
    # planned against the old version)
    assert _rows(t.read(spark, version=0)) == {(1, "a"), (2, "b"), (3, "c")}


def test_crash_leaves_snapshot_intact_and_vacuum_reclaims(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    # simulate a writer crashing after data write, before commit: data
    # files exist but no log doc references them
    orphan = t._write_data(_df(spark, [(99, "junk")]))
    assert _rows(t.read(spark)) == {(1, "a")}  # reader never sees it
    victims = t.vacuum(older_than_seconds=0)
    assert victims == [orphan]
    assert not os.path.exists(os.path.join(t.path, orphan))
    assert _rows(t.read(spark)) == {(1, "a")}  # snapshot untouched


def test_optimistic_concurrency_conflict(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    base = t.latest_version()
    d1 = t._write_data(_df(spark, [(2, "b")]))
    d2 = t._write_data(_df(spark, [(3, "c")]))
    t.commit([d1], [], expected_version=base)
    with pytest.raises(TxnConflictError):
        t.commit([d2], [], expected_version=base)  # lost the race
    # winner's commit is the table state
    assert _rows(t.read(spark)) == {(1, "a"), (2, "b")}


def test_vacuum_aggressive_drops_superseded_versions(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    victims = t.vacuum(keep_versions=False, older_than_seconds=0)
    assert len(victims) == 1  # version-0 data gone
    assert _rows(t.read(spark)) == {(2, "b")}  # current snapshot safe


def test_stream_merge_txn_exactly_once_restart(spark, sf_dir, tmp_path):
    from sport_advantages_moderne_data_infrastructure_spark.sources import (
        domain as D,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    D.cdc_events(spark, sf_dir).repartition(4).write.parquet(src)
    parsed = P.stream_cdc_from_files(spark, src, max_files_per_trigger=2)

    q = P.write_stream_merge_txn(parsed, target, ckpt)
    q.awaitTermination(120)
    t = TxnTable(target)
    n1 = t.read(spark).count()
    v1 = t.latest_version()
    assert n1 > 0
    # ids are unique in the fixture → merge state = distinct parsed ids
    from sport_advantages_moderne_data_infrastructure_spark.operators.cdc import (
        parse_cdc,
    )
    expect = parse_cdc(spark.read.parquet(src)).select("id").distinct().count()
    assert n1 == expect

    # restart on the same checkpoint: no new input → no new commits, no
    # row growth (exactly-once)
    q2 = P.write_stream_merge_txn(
        P.stream_cdc_from_files(spark, src, max_files_per_trigger=2),
        target, ckpt)
    q2.awaitTermination(120)
    assert t.read(spark).count() == n1
    assert t.latest_version() == v1


def test_stream_merge_txn_replayed_batch_is_skipped(spark, sf_dir, tmp_path):
    """Crash-after-commit-before-checkpoint: the replayed micro-batch id
    is detected in the commit meta and skipped — no duplicate commit."""
    from sport_advantages_moderne_data_infrastructure_spark.sources import (
        domain as D,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    D.cdc_events(spark, sf_dir).repartition(2).write.parquet(src)
    parsed = P.stream_cdc_from_files(spark, src)
    q = P.write_stream_merge_txn(parsed, target, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    t = TxnTable(target)
    v1, n1 = t.latest_version(), t.read(spark).count()
    assert t.last_meta()["stream_batch_id"] == 0

    # fresh checkpoint replays batch 0 against the same target — the
    # meta guard must no-op it
    q2 = P.write_stream_merge_txn(
        P.stream_cdc_from_files(spark, src), target, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert t.latest_version() == v1
    assert t.read(spark).count() == n1


def test_compact_preserves_state_and_history(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    for i in range(5):  # five appends = five data dirs (streaming shape)
        t.append(_df(spark, [(i, f"v{i}")]))
    before = _rows(t.read(spark))
    assert len(t.snapshot_dirs()) == 5
    v = t.compact(spark)
    assert len(t.snapshot_dirs()) == 1
    assert _rows(t.read(spark)) == before  # byte-identical state
    assert _rows(t.read(spark, version=v - 1)) == before  # time travel ok
    # aggressive vacuum now reclaims the five small dirs
    assert len(t.vacuum(keep_versions=False, older_than_seconds=0)) == 5
    assert _rows(t.read(spark)) == before


def test_overwrite_schema_evolution(spark, tmp_path):
    """The reference's overwriteSchema=true full-refresh semantics
    (read_delta.py:219-222): an overwrite may change the schema; the new
    snapshot reads with the new schema, time travel reads the old one."""
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.overwrite(spark.createDataFrame([(2, "b", 9.5)],
                                      "id int, val string, score double"))
    assert t.read(spark).columns == ["id", "val", "score"]
    assert t.read(spark, version=0).columns == ["id", "val"]


def test_txn_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: any interleaving of append/overwrite/merge must
    leave the table equal to a dict-model replay, and every historical
    version must stay time-travel readable. Deterministic op table (not
    hypothesis: each op is a Spark write, so we bound the count)."""
    seqs = [
        ["a1", "m2", "o3", "m4"],
        ["m1", "a2", "m3", "o4"],
    ]
    for si, seq in enumerate(seqs):
        t = TxnTable(str(tmp_path / f"t{si}"))
        model: dict[int, str] = {}
        snapshots = []
        for step, op in enumerate(seq):
            kind, base = op[0], int(op[1])
            if kind == "a":
                # appends use fresh keys (append-only fact semantics —
                # duplicate-key appends are the merge sink's job)
                rows = [(100 + step * 10 + j, f"{op}_{j}") for j in range(2)]
            else:
                # merges/overwrites reuse a small key space so matched-key
                # updates genuinely occur across steps
                rows = [((base % 2) * 10 + j, f"{op}_{j}") for j in range(2)]
            if kind == "a":
                t.append(_df(spark, rows))
                model.update(dict(rows))
            elif kind == "o":
                t.overwrite(_df(spark, rows))
                model = dict(rows)
            else:
                t.merge(spark, _df(spark, rows), "id")
                model.update(dict(rows))
            snapshots.append(dict(model))
            assert _rows(t.read(spark)) == set(model.items()), (si, step)
        # full history stays readable and correct
        for v, snap in enumerate(snapshots):
            assert _rows(t.read(spark, version=v)) == set(snap.items())


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "id int, val string, day int")


def _prows(df):
    return {(r["id"], r["val"], r["day"]) for r in df.collect()}


def test_overwrite_partitions_touches_only_matching(spark, tmp_path):
    import glob
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite_partitions(
        _pdf(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)]), "day")
    day2_files = sorted(glob.glob(os.path.join(t.path, "data", "*",
                                               "day=2", "*.parquet")))
    # replace day 1 and add day 4; days 2 and 3 untouched
    t.overwrite_partitions(_pdf(spark, [(9, "A", 1), (4, "d", 4)]), "day")
    assert _prows(t.read(spark)) == {
        (9, "A", 1), (2, "b", 2), (3, "c", 3), (4, "d", 4)}
    # untouched partition kept its exact physical files (no rewrite)
    assert sorted(glob.glob(os.path.join(
        t.path, "data", "*", "day=2", "*.parquet"))) == day2_files
    # time travel to the pre-overwrite snapshot
    assert _prows(t.read(spark, version=0)) == {
        (1, "a", 1), (2, "b", 2), (3, "c", 3)}


def test_read_partitions_plans_only_matching_dirs(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite_partitions(
        _pdf(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)]), "day")
    pruned = t.read_partitions(spark, [2])
    assert _prows(pruned) == {(2, "b", 2)}
    # metadata pruning: nothing outside day=2 is even planned
    assert all("day=2" in f for f in pruned.inputFiles())


def test_merge_preserves_partitioned_layout(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite_partitions(_pdf(spark, [(1, "a", 1), (2, "b", 2)]), "day")
    t.merge(spark, _pdf(spark, [(2, "B!", 2), (5, "e", 5)]), "id")
    assert _prows(t.read(spark)) == {(1, "a", 1), (2, "B!", 2), (5, "e", 5)}
    # layout stayed partition-granular → partition overwrite still exact
    t.overwrite_partitions(_pdf(spark, [(7, "g", 5)]), "day")
    assert _prows(t.read(spark)) == {(1, "a", 1), (2, "B!", 2), (7, "g", 5)}


def test_overwrite_partitions_rejects_layout_mismatch(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_pdf(spark, [(1, "a", 1)]))  # plain layout
    with pytest.raises(ValueError, match="partition"):
        t.overwrite_partitions(_pdf(spark, [(2, "b", 2)]), "day")


def test_vacuum_keeps_partitioned_commit_dirs(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite_partitions(_pdf(spark, [(1, "a", 1), (2, "b", 2)]), "day")
    orphan = t._write_data(_pdf(spark, [(9, "x", 9)]))
    assert t.vacuum(older_than_seconds=0) == [orphan]  # live dir NOT a victim
    assert _prows(t.read(spark)) == {(1, "a", 1), (2, "b", 2)}


def test_read_increment_change_feed(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    v0 = t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    assert _rows(t.read_increment(spark, since_version=v0)) == {
        (2, "b"), (3, "c")}
    assert t.read_increment(spark, since_version=2).count() == 0
    # a rewrite in the range invalidates append-only incremental reads
    t.overwrite(_df(spark, [(9, "z")]))
    with pytest.raises(ValueError, match="rewrite"):
        t.read_increment(spark, since_version=v0)


def test_snapshot_time_travel_and_change_feed_restart(spark, tmp_path,
                                                      feed_to_parquet):
    """Batch snapshot + time travel through ``TxnTable.read``, and the
    change feed (``_start_change_feed`` + ``read_changes``) with
    checkpointed exactly-once incremental restart."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))

    assert _rows(t.read(spark)) == {(1, "a"), (2, "b")}
    assert _rows(t.read(spark, version=0)) == {(1, "a")}

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    feed_to_parquet(t.path, out, ckpt)
    assert _rows(spark.read.parquet(out)) == {(1, "a"), (2, "b")}
    t.append(_df(spark, [(3, "c")]))
    feed_to_parquet(t.path, out, ckpt)  # same checkpoint: new commit only
    assert _rows(spark.read.parquet(out)) == {(1, "a"), (2, "b"), (3, "c")}


def test_partitioned_batch_read(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite_partitions(_pdf(spark, [(1, "a", 1), (2, "b", 2)]), "day")
    got = t.read(spark)
    assert {(r["id"], r["val"], r["day"]) for r in got.collect()} == {
        (1, "a", 1), (2, "b", 2)}


def test_txn_append_stream_exactly_once(spark, tmp_path):
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    src, tp, ckpt = (str(tmp_path / d) for d in ("src", "t", "ckpt"))
    _df(spark, [(i, f"v{i}") for i in range(20)]) \
        .repartition(4).write.parquet(src)

    def drain():
        q = P.write_stream_txn_append(
            spark.readStream.schema("id int, val string").parquet(src),
            tp, ckpt)
        q.awaitTermination(120)

    drain()
    t = TxnTable(tp)
    assert _rows(t.read(spark)) == {(i, f"v{i}") for i in range(20)}
    v1 = t.latest_version()
    drain()  # same checkpoint, no new input: no growth, no new commits
    assert t.read(spark).count() == 20
    assert t.latest_version() == v1


def test_concurrent_appends_both_land(spark, tmp_path):
    """Blind appends retry through commit races: N threads appending
    concurrently all land, in some serial order, with no lost updates."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(0, "base")]))
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [pool.submit(t.append, _df(spark, [(i, f"w{i}")]))
                for i in range(1, 5)]
        versions = [f.result() for f in futs]
    assert sorted(versions) == [1, 2, 3, 4]  # four distinct commits
    assert _rows(t.read(spark)) == {(0, "base"), (1, "w1"), (2, "w2"),
                                    (3, "w3"), (4, "w4")}


# -- ADVICE r3 fixes ------------------------------------------------------


def test_replay_guard_survives_interleaved_compact(spark, sf_dir, tmp_path):
    """Exactly-once guard is a log SCAN, not a head-commit peek: a
    compact() interleaving between a batch's commit and its crash-replay
    must not hide the batch id (Delta's SetTransaction rule)."""
    from sport_advantages_moderne_data_infrastructure_spark.sources import (
        domain as D,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    src, target = str(tmp_path / "src"), str(tmp_path / "target")
    D.cdc_events(spark, sf_dir).repartition(2).write.parquet(src)
    q = P.write_stream_merge_txn(
        P.stream_cdc_from_files(spark, src), target, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    t = TxnTable(target)
    n1 = t.read(spark).count()
    t.compact(spark)  # maintenance commit lands AFTER the stream batch
    v_compacted = t.latest_version()
    assert t.last_meta().get("stream_batch_id") is None  # head hides it

    # fresh checkpoint replays batch 0: scan-based guard must no-op it
    q2 = P.write_stream_merge_txn(
        P.stream_cdc_from_files(spark, src), target, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert t.latest_version() == v_compacted
    assert t.read(spark).count() == n1


def test_txn_append_stream_replay_after_compact(spark, tmp_path):
    """Same scan-based guard on the txn append stream sink."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    src, tp, ck1, ck2 = (str(tmp_path / d)
                         for d in ("src", "t", "ck1", "ck2"))
    _df(spark, [(i, f"v{i}") for i in range(10)]) \
        .repartition(2).write.parquet(src)

    def drain(ck):
        q = P.write_stream_txn_append(
            spark.readStream.schema("id int, val string").parquet(src),
            tp, ck)
        q.awaitTermination(120)

    drain(ck1)
    t = TxnTable(tp)
    t.compact(spark)
    v = t.latest_version()
    drain(ck2)  # fresh checkpoint replays batch 0 → must be skipped
    assert t.latest_version() == v
    assert t.read(spark).count() == 10


def test_reads_string_partitions(spark, tmp_path):
    """ADVICE r3: a date-string-partitioned table must read back with a
    string-typed partition column, not an inferred int."""
    t = TxnTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
        "id int, val string, day string")
    t.overwrite_partitions(df, "day")
    got = t.read(spark)
    assert dict(got.dtypes)["day"] == "string"
    assert {(r["id"], r["val"], r["day"]) for r in got.collect()} == {
        (1, "a", "2024-01-01"), (2, "b", "2024-01-02")}


def test_vacuum_retention_spares_young_dirs(spark, tmp_path):
    """A just-written unreferenced dir may belong to an in-flight writer:
    default vacuum leaves it; a zero-retention vacuum reclaims it."""
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    orphan = t._write_data(_df(spark, [(99, "junk")]))
    assert t.vacuum() == []  # default retention: too young to kill
    assert os.path.exists(os.path.join(t.path, orphan))
    assert t.vacuum(older_than_seconds=0) == [orphan]


def test_empty_overwrite_yields_empty_snapshot(spark, tmp_path):
    """ADVICE r3: overwriting with an empty frame is a legal removes-only
    commit; the table then reads as 0 rows with the prior schema instead
    of raising."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, []))
    empty = t.read(spark)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "val"]
    # previous state still time travels
    assert _rows(t.read(spark, version=0)) == {(1, "a")}


def test_overwrite_toctou_conflict_detected(spark, tmp_path):
    """An overwrite captures its base version once: a commit landing
    between planning and publish makes it CONFLICT instead of silently
    keeping the interloper's files."""
    from unittest import mock

    tp = str(tmp_path / "t")
    t = TxnTable(tp)
    t.overwrite(_df(spark, [(1, "a")]))
    real_snapshot_dirs = TxnTable.snapshot_dirs

    def interloper(self, version=None):
        dirs = real_snapshot_dirs(self, version)
        # another writer lands AFTER base was captured
        if not getattr(interloper, "fired", False):
            interloper.fired = True
            t.append(_df(spark, [(5, "race")]))
        return dirs

    with mock.patch.object(TxnTable, "snapshot_dirs", interloper):
        with pytest.raises(TxnConflictError):
            t.overwrite(_df(spark, [(9, "z")]))
    # interloper's row survives; no silent half-overwrite
    assert (5, "race") in _rows(t.read(spark))


def test_stream_skip_change_commits(spark, tmp_path, feed_to_parquet):
    """A compacted table stays streamable: the change feed skips a
    compaction as layout-only (what Delta's skipChangeCommits gives a
    stream), and fails loudly on a full rewrite, which has no row-level
    delta."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    feed_to_parquet(t.path, out, ck)
    assert _rows(spark.read.parquet(out)) == {(1, "a")}
    t.compact(spark)  # rewrite commit in the next offset range
    t.append(_df(spark, [(2, "b")]))
    feed_to_parquet(t.path, out, ck)  # skips the compact, takes the append
    assert _rows(spark.read.parquet(out)) == {(1, "a"), (2, "b")}

    # a full rewrite still fails loudly
    t.overwrite(_df(spark, [(3, "c")]))
    with pytest.raises(StreamingQueryException, match="rewrite"):
        feed_to_parquet(t.path, out, ck)


def test_n_racing_commits_one_winner_per_version(spark, tmp_path):
    """Optimistic concurrency under N-way contention (VERDICT r3 #5): six
    writers race commit() against the SAME base version — exactly one
    wins it; with retries (append) ALL land across distinct versions."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(0, "base")]))
    base = t.latest_version()
    rels = [t._write_data(_df(spark, [(i, f"w{i}")])) for i in range(1, 7)]

    def try_commit(rel):
        try:
            return ("ok", t.commit([rel], [], expected_version=base))
        except TxnConflictError:
            return ("conflict", None)

    with ThreadPoolExecutor(max_workers=6) as pool:
        results = list(pool.map(try_commit, rels))
    wins = [r for r in results if r[0] == "ok"]
    assert len(wins) == 1  # all-or-one-winner for a contested version
    assert wins[0][1] == base + 1
    assert len([r for r in results if r[0] == "conflict"]) == 5
    # retrying appenders all land: 8 more writers, every row present
    with ThreadPoolExecutor(max_workers=8) as pool:
        versions = list(pool.map(
            lambda i: t.append(_df(spark, [(100 + i, f"r{i}")])),
            range(8)))
    assert len(set(versions)) == 8  # distinct serial order, no lost update
    got = _rows(t.read(spark))
    assert {(100 + i, f"r{i}") for i in range(8)} <= got
    # every version in the log is contiguous — one commit per version
    assert t.versions() == list(range(t.latest_version() + 1))


def test_racing_overwrite_vs_append_serializes(spark, tmp_path):
    """A full overwrite racing N appends: the overwrite either wins its
    version or conflicts loudly — never silently swallows a concurrent
    append's files (the TOCTOU class ADVICE r3 flagged)."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(0, "base")]))

    def do_overwrite():
        try:
            return ("ow", t.overwrite(_df(spark, [(99, "ow")])))
        except TxnConflictError:
            return ("ow-conflict", None)

    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [pool.submit(t.append, _df(spark, [(i, f"a{i}")]))
                for i in range(1, 4)]
        ow = pool.submit(do_overwrite)
        append_versions = [f.result() for f in futs]
        ow_result = ow.result()
    assert len(set(append_versions)) == 3
    got = _rows(t.read(spark))
    if ow_result[0] == "ow":
        # appends that serialized BEFORE the overwrite were replaced;
        # ones after it survive — but the snapshot is always consistent:
        # overwrite row present iff it won, plus post-overwrite appends
        assert (99, "ow") in got
        post = {(i, f"a{i}") for i, v in zip(range(1, 4), append_versions)
                if v > ow_result[1]}
        assert post <= got
    else:
        assert got == {(0, "base"), (1, "a1"), (2, "a2"), (3, "a3")}


# -- file skipping (min/max footer stats) ---------------------------------


def test_read_range_prunes_by_footer_stats(spark, tmp_path):
    """Commits record per-dir column min/max from parquet footers; a
    range read plans ONLY the overlapping dirs and equals the full-scan
    filter exactly."""
    t = TxnTable(str(tmp_path / "t"))
    for lo in (0, 100, 200, 300):  # four appends with disjoint id ranges
        t.append(spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(50)],
            "id int, val string"))
    assert len(t.snapshot_dirs()) == 4
    # stats landed in the log
    doc = t._doc(t.latest_version())
    (only_dir,) = doc["adds"]
    assert doc["stats"][only_dir]["id"] == [300, 349]

    pruned = t.pruned_dirs("id", 120, 180)
    assert len(pruned) == 1  # only the [100,149] dir overlaps... plus none
    got = _rows(t.read_range(spark, "id", 120, 180))
    want = {(i, f"v{i}") for i in range(120, 150)}
    assert got == want
    # full parity against the unpruned read
    from pyspark.sql import functions as F
    assert got == _rows(t.read(spark).filter(
        (F.col("id") >= 120) & (F.col("id") <= 180)))
    # open ranges: [200,249] and [300,349] overlap lo=220
    assert len(t.pruned_dirs("id", lo=220)) == 2
    assert t.read_range(spark, "id", lo=220).count() == 80
    # disjoint range: zero dirs planned, empty result, schema intact
    assert t.read_range(spark, "id", 1000, 2000).count() == 0


def test_read_range_keeps_statless_dirs(spark, tmp_path):
    """Dirs committed without stats (older tables) are conservatively
    scanned, never wrongly skipped."""
    import json

    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    # simulate a pre-stats commit doc by stripping the stats key
    doc_path = os.path.join(t.log_dir, f"{0:011d}.json")
    doc = json.load(open(doc_path))
    del doc["stats"]
    os.chmod(doc_path, 0o644)
    json.dump(doc, open(doc_path, "w"))
    t.append(_df(spark, [(500, "z")]))
    assert len(t.pruned_dirs("id", 400, 600)) == 2  # statless dir kept
    assert _rows(t.read_range(spark, "id", 400, 600)) == {(500, "z")}


def test_read_range_string_and_partitioned(spark, tmp_path):
    """String stats prune too, and partition-granular commits carry stats
    per SUBDIR."""
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite_partitions(_pdf(spark, [(1, "apple", 1), (2, "pear", 2)]),
                           "day")
    stats = t._live_stats()
    assert all(st.get("val") for st in stats.values())
    assert _prows(t.read_range(spark, "val", "aa", "mm")) == {(1, "apple", 1)}


def test_compact_if_needed_policy(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    for i in range(5):
        t.append(_df(spark, [(i, f"v{i}")]))
    assert t.compact_if_needed(spark, max_live_dirs=8) is None  # under cap
    assert len(t.snapshot_dirs()) == 5
    v = t.compact_if_needed(spark, max_live_dirs=4)  # over cap: compacts
    assert v == t.latest_version()
    assert len(t.snapshot_dirs()) == 1
    assert _rows(t.read(spark)) == {(i, f"v{i}") for i in range(5)}


def test_prune_read_skips_files(spark, tmp_path):
    """Stats file skipping: a range read plans only the overlapping
    commit dirs, and with the residual filter equals the unpruned
    read."""
    t = TxnTable(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(50)],
            "id int, val string"))
    # planning-level: 1 of 3 dirs
    assert len(t.pruned_dirs("id", 120, 140)) == 1
    got = t.read_range(spark, "id", 120, 140)
    assert _rows(got) == {(i, f"v{i}") for i in range(120, 141)}


def test_max_stream_batch_id_scan(spark, tmp_path):
    """Reverse-scan guard lookup: finds the sink's max batch id past
    interleaved non-stream commits, scopes by app id, and returns None on
    stream-free logs."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))  # no stream meta
    assert t.max_stream_batch_id() is None
    d = t._write_data(_df(spark, [(2, "b")]))
    t.commit([d], [], {"stream_batch_id": 3, "stream_app_id": "s1"})
    t.compact(spark)  # non-stream commit on top
    d = t._write_data(_df(spark, [(3, "c")]))
    t.commit([d], [], {"stream_batch_id": 1, "stream_app_id": "s2"})
    assert t.max_stream_batch_id() == 1          # latest stream commit
    assert t.max_stream_batch_id("s1") == 3      # per-app max
    assert t.max_stream_batch_id("s2") == 1
    assert t.max_stream_batch_id("s3") is None


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: commits record wall clock; read_at resolves the
    snapshot at-or-before a timestamp, and ``version_at`` feeds a
    versioned read the same snapshot."""
    import time

    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t_mid = time.time()
    time.sleep(0.05)
    t.overwrite(_df(spark, [(2, "b")]))

    assert t.version_at(t_mid) == 0
    assert _rows(t.read_at(spark, t_mid)) == {(1, "a")}
    assert _rows(t.read_at(spark, time.time())) == {(2, "b")}
    with pytest.raises(ValueError, match="no commit"):
        t.version_at(t_mid - 3600)

    got = t.read(spark, version=t.version_at(t_mid))
    assert _rows(got) == {(1, "a")}


def test_append_schema_mismatch_rejected_at_write(spark, tmp_path):
    """A mismatched append fails AT WRITE TIME with an actionable error
    (Delta's rule), not later inside the snapshot read's union; the table
    stays clean and overwrite() remains the schema-evolution path."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    v = t.latest_version()
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(2, "b", 1.5)],
                                       "id int, val string, score double"))
    assert t.latest_version() == v  # nothing committed
    assert _rows(t.read(spark)) == {(1, "a")}
    t.overwrite(spark.createDataFrame([(3, "c", 2.5)],
                                      "id int, val string, score double"))
    assert t.read(spark).columns == ["id", "val", "score"]


# -- log checkpoints (Delta-style bounded metadata replay) -----------------


def test_checkpoint_read_equivalence_and_tail_replay(spark, tmp_path):
    """A checkpoint changes planning cost, never results: snapshots, time
    travel below/above the checkpoint, and post-checkpoint commits all
    read identically to full log replay."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))          # v0
    t.overwrite(_df(spark, [(3, "c")]))                 # v1
    t.merge(spark, _df(spark, [(3, "C!"), (4, "d")]), "id")  # v2
    full_dirs = t.snapshot_dirs()
    assert t.checkpoint() == 2
    assert t.checkpoints() == [2]
    # state from the checkpoint equals full replay
    assert t.snapshot_dirs() == full_dirs
    assert _rows(t.read(spark)) == {(3, "C!"), (4, "d")}
    # time travel BELOW the checkpoint still full-replays correctly
    assert _rows(t.read(spark, version=0)) == {(1, "a"), (2, "b")}
    assert _rows(t.read(spark, version=1)) == {(3, "c")}
    # commits after the checkpoint replay as a tail on top of it
    t.append(_df(spark, [(5, "e")]))                    # v3
    assert _rows(t.read(spark)) == {(3, "C!"), (4, "d"), (5, "e")}


def test_checkpoint_bounds_commit_doc_reads(spark, tmp_path):
    """Snapshot planning after a checkpoint reads ONLY the tail commit
    docs — the O(commits-since-checkpoint) contract."""
    t = TxnTable(str(tmp_path / "t"))
    for i in range(8):
        t.append(_df(spark, [(i, f"v{i}")]))
    t.checkpoint()  # at v7
    t.append(_df(spark, [(100, "x")]))  # v8
    t.append(_df(spark, [(101, "y")]))  # v9
    read_docs = []
    orig = TxnTable._doc
    try:
        TxnTable._doc = lambda self, v: read_docs.append(v) or orig(self, v)
        dirs = t.snapshot_dirs()
    finally:
        TxnTable._doc = orig
    assert len(dirs) == 10
    assert set(read_docs) == {8, 9}  # nothing at or below the checkpoint


def test_checkpoint_if_needed_interval_policy(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    for i in range(5):
        t.append(_df(spark, [(i, "a")]))
    assert t.checkpoint_if_needed(interval=10) is None  # only 5 commits
    assert t.checkpoint_if_needed(interval=5) == 4
    assert t.checkpoints() == [4]
    assert t.checkpoint_if_needed(interval=5) is None  # 0 since last
    for i in range(5):
        t.append(_df(spark, [(10 + i, "b")]))
    assert t.checkpoint_if_needed(interval=5) == 9


def test_checkpoint_idempotent_republish(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    assert t.checkpoint() == 0
    assert t.checkpoint() == 0  # same prefix -> same content; no error
    assert t.checkpoints() == [0]
    assert t.versions() == [0]  # checkpoint files never pollute versions


def test_checkpoint_preserves_file_skipping_stats(spark, tmp_path):
    """pruned_dirs planned from checkpoint stats equals pre-checkpoint
    planning; read_range stays exact."""
    t = TxnTable(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(50)],
            "id int, val string"))
    before = t.pruned_dirs("id", 120, 140)
    t.checkpoint()
    assert t.pruned_dirs("id", 120, 140) == before
    assert len(before) == 1
    got = _rows(t.read_range(spark, "id", 120, 140))
    assert got == {(i, f"v{i}") for i in range(120, 141)}


def test_checkpoint_schema_dirs_for_empty_snapshot(spark, tmp_path):
    """A removes-only head + a checkpoint: the empty snapshot's schema
    resolves through the checkpoint's recorded schema_dirs."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))          # v0
    t.commit([], t.snapshot_dirs(), {"operation": "delete_all"})  # v1
    t.checkpoint()                            # at v1 (empty snapshot)
    got = t.read(spark)
    assert got.count() == 0
    assert got.columns == ["id", "val"]


def test_checkpoint_partitioned_table(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite_partitions(_pdf(spark, [(1, "a", 1), (2, "b", 1),
                                        (3, "c", 2)]), "day")
    t.checkpoint()
    t.overwrite_partitions(_pdf(spark, [(4, "d", 2)]), "day")
    assert _prows(t.read(spark)) == {(1, "a", 1), (2, "b", 1),
                                     (4, "d", 2)}
    assert _prows(t.read_partitions(spark, [1])) == {(1, "a", 1),
                                                     (2, "b", 1)}


def test_stream_guard_reads_through_checkpoint(spark, tmp_path):
    """max_stream_batch_id floors its reverse scan at the checkpoint and
    answers from the recorded per-app map — an old stream commit stays
    visible to the replay guard without reading pre-checkpoint docs."""
    t = TxnTable(str(tmp_path / "t"))
    d = t._write_data(_df(spark, [(1, "a")]))
    t.commit([d], [], {"stream_batch_id": 7, "stream_app_id": "s1"})  # v0
    d = t._write_data(_df(spark, [(2, "b")]))
    t.commit([d], [], {"stream_batch_id": 2, "stream_app_id": "s2"})  # v1
    t.checkpoint()
    t.compact(spark)  # non-stream commits above the checkpoint
    t.append(_df(spark, [(3, "c")]))
    read_docs = []
    orig = TxnTable._doc
    try:
        TxnTable._doc = lambda self, v: read_docs.append(v) or orig(self, v)
        assert t.max_stream_batch_id("s1") == 7
        assert t.max_stream_batch_id("s2") == 2
        assert t.max_stream_batch_id("s3") is None
        assert t.max_stream_batch_id() == 2  # newest stream commit's id
    finally:
        TxnTable._doc = orig
    assert set(read_docs) <= {2, 3}  # v0/v1 answered by the checkpoint


def test_checkpoint_incremental_build_from_previous(spark, tmp_path):
    """A second checkpoint builds from the first (stream ids and stats
    carried forward), and reads keep matching full replay."""
    t = TxnTable(str(tmp_path / "t"))
    d = t._write_data(_df(spark, [(1, "a")]))
    t.commit([d], [], {"stream_batch_id": 4, "stream_app_id": "s1"})  # v0
    t.checkpoint()                                                    # cp0
    t.append(_df(spark, [(2, "b")]))                                  # v1
    d = t._write_data(_df(spark, [(3, "c")]))
    t.commit([d], [], {"stream_batch_id": 9, "stream_app_id": "s1"})  # v2
    t.checkpoint()                                                    # cp2
    assert t.checkpoints() == [0, 2]
    assert t.max_stream_batch_id("s1") == 9
    assert _rows(t.read(spark)) == {(1, "a"), (2, "b"), (3, "c")}
    cp = t._checkpoint_doc(2)
    assert cp["stream_batch_ids"]["s1"] == 9
    assert len(cp["live"]) == 3


def test_stream_sink_auto_checkpoints_every_10_commits(spark, tmp_path):
    """The exactly-once txn append sink checkpoints the log as it
    streams: after >10 micro-batch commits a checkpoint exists and the
    table reads back every batch exactly once."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    target = str(tmp_path / "t")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    for i in range(12):
        _df(spark, [(i, f"v{i}")]).write.mode("append").json(src)
    q = P.write_stream_txn_append(
        spark.readStream.schema("id int, val string").option(
            "maxFilesPerTrigger", "1").json(src), target, ckpt)
    q.awaitTermination(120)
    t = TxnTable(target)
    assert len(t.versions()) >= 11
    assert t.checkpoints(), "sink should have checkpointed by commit 10"
    assert _rows(t.read(spark)) == {(i, f"v{i}") for i in range(12)}


def test_compact_zorder_one_column_makes_read_range_prune(spark, tmp_path):
    """OPTIMIZE with one-column clustering: interleaved appends leave
    every dir spanning the whole id domain (stats prune nothing);
    compact_zorder over one column rewrites into range-disjoint dirs,
    after which read_range plans ~1/N of them — and the data stays
    byte-identical."""
    t = TxnTable(str(tmp_path / "t"))
    # 3 appends, each spanning the WHOLE domain -> no pruning possible
    for off in (0, 1, 2):
        t.append(spark.createDataFrame(
            [(i, f"v{i}") for i in range(off, 300, 3)],
            "id int, val string"))
    assert len(t.pruned_dirs("id", 10, 40)) == 3  # every dir overlaps
    expect = _rows(t.read(spark))
    v = t.compact_zorder(spark, ["id"], target_dirs=3)
    assert v == t.latest_version()
    assert _rows(t.read(spark)) == expect  # byte-identical data
    dirs = t.snapshot_dirs()
    assert len(dirs) == 3
    # now the stats are tight: a 10% range plans exactly one dir
    assert len(t.pruned_dirs("id", 10, 40)) == 1
    got = _rows(t.read_range(spark, "id", 10, 40))
    assert got == {(i, f"v{i}") for i in range(10, 41)}
    # time travel to the pre-clustering layout still works
    assert _rows(t.read(spark, version=v - 1)) == expect


def test_compact_zorder_one_constant_column_compacts(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    for _ in range(3):
        t.append(spark.createDataFrame([(7, "x")], "id int, val string"))
    t.compact_zorder(spark, ["id"], target_dirs=4)
    assert len(t.snapshot_dirs()) == 1  # plain compaction
    assert _rows(t.read(spark)) == {(7, "x")}


# -- row-level DELETE ------------------------------------------------------


def test_delete_where_rewrites_only_matching_dirs(spark, tmp_path):
    """DELETE WHERE with stats pruning: the dir whose range can't contain
    matches keeps its exact physical path across the commit (zero I/O);
    the matching dir is rewritten without the deleted rows."""
    t = TxnTable(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(50)],
            "id int, val string"))
    before = set(t.snapshot_dirs())
    v = t.delete_where(spark, "id >= 120 AND id <= 130",
                       prune=("id", 120, 130))
    after = set(t.snapshot_dirs())
    # dirs 0-49 and 200-249 untouched (same rel paths); 100-149 rewritten
    assert len(before & after) == 2
    assert len(after - before) == 1
    expect = {(i, f"v{i}") for rng in ((0, 50), (100, 150), (200, 250))
              for i in range(*rng) if not 120 <= i <= 130}
    assert _rows(t.read(spark)) == expect
    # time travel to the pre-delete snapshot still has the rows
    assert len(_rows(t.read(spark, version=v - 1))) == 150


def test_delete_where_no_match_is_noop(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    v = t.latest_version()
    assert t.delete_where(spark, "id > 100") == v  # no commit added
    assert t.latest_version() == v
    assert _rows(t.read(spark)) == {(1, "a"), (2, "b")}


def test_delete_where_all_rows_leaves_empty_snapshot(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.delete_where(spark, "id >= 1")
    got = t.read(spark)
    assert got.count() == 0
    assert got.columns == ["id", "val"]  # schema survives DELETE-all


def test_delete_where_on_partitioned_layout(spark, tmp_path):
    """r12: partition-granular DELETE replaced the r11 refusal — a
    data-column predicate rewrites only the partitions holding
    matches; a partition-key-only predicate drops whole partitions."""
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite_partitions(
        _pdf(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 2)]), "day")
    t.delete_where(spark, "id = 1")
    assert _prows(t.read(spark)) == {(2, "b", 2), (3, "c", 2)}
    t.delete_where(spark, "day = 2")  # metadata-only whole-partition drop
    assert t.read(spark).count() == 0


# -- row-level UPDATE ------------------------------------------------------


def test_update_where_rewrites_only_matching_dirs(spark, tmp_path):
    """UPDATE ... SET ... WHERE with stats pruning: non-candidate dirs keep
    their physical paths (zero I/O); the matching dir is rewritten with
    the SET applied to matching rows and other rows carried through."""
    t = TxnTable(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(50)],
            "id int, val string"))
    before = set(t.snapshot_dirs())
    v = t.update_where(spark, "id >= 120 AND id <= 130",
                       {"val": "upper(val)"}, prune=("id", 120, 130))
    after = set(t.snapshot_dirs())
    assert len(before & after) == 2       # two dirs untouched
    assert len(after - before) == 1       # one rewritten
    expect = {(i, f"V{i}".upper() if 120 <= i <= 130 else f"v{i}")
              for rng in ((0, 50), (100, 150), (200, 250))
              for i in range(*rng)}
    assert _rows(t.read(spark)) == expect
    assert len(_rows(t.read(spark, version=v - 1))) == 150  # time travel


def test_update_where_set_on_condition_column(spark, tmp_path):
    """Mark-as-seen: SET rewrites the very column the WHERE reads. The
    snapshot flips and the CDF postimage reflects the NEW values (a
    re-filter of the rewritten frame would lose them)."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "new"), (2, "new"), (3, "done")]))
    t.update_where(spark, "val = 'new'", {"val": "'seen'"})
    assert _rows(t.read(spark)) == {(1, "seen"), (2, "seen"), (3, "done")}
    got = _changes(t.read_changes(spark, since_version=0))
    assert got == {
        (1, "new", "update_preimage", 1), (2, "new", "update_preimage", 1),
        (1, "seen", "update_postimage", 1),
        (2, "seen", "update_postimage", 1),
    }


def test_update_where_no_match_is_noop(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    v = t.latest_version()
    assert t.update_where(spark, "id > 100", {"val": "'x'"}) == v
    assert t.latest_version() == v


def test_update_where_rejects_bad_targets(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(spark, "id = 1", {"nope": "'x'"})
    # r12: a partitioned layout UPDATEs partition-granularly (the r11
    # refusal is gone) — only the matched partition rewrites
    tp = TxnTable(str(tmp_path / "p"))
    tp.overwrite_partitions(_pdf(spark, [(1, "a", 1), (2, "b", 2)]), "day")
    day2 = {d for d in tp.snapshot_dirs() if "day=2" in d}
    tp.update_where(spark, "id = 1", {"val": "'x'"})
    assert _prows(tp.read(spark)) == {(1, "x", 1), (2, "b", 2)}
    assert day2 <= set(tp.snapshot_dirs())  # cold partition untouched


def test_update_where_cast_preserves_schema(spark, tmp_path):
    """A SET expression whose natural type differs (int arithmetic on an
    int column yielding bigint) is cast back to the column's declared
    type, so appends after the UPDATE still schema-match."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.update_where(spark, "id = 2", {"id": "id + 100"})
    assert t.read(spark).schema["id"].dataType.simpleString() == "int"
    assert _rows(t.read(spark)) == {(1, "a"), (102, "b")}
    t.append(_df(spark, [(5, "e")]))  # must not raise
    assert (5, "e") in _rows(t.read(spark))


# -- change data feed (row-level, across rewrites) -------------------------


def _changes(df):
    return {(r["id"], r["val"], r["_change_type"], r["_commit_version"])
            for r in df.collect()}


def test_read_changes_append_merge_delete(spark, tmp_path):
    """CDF across the full op mix: appends surface as inserts, MERGE as
    insert/update_postimage from its change files, DELETE as delete rows;
    compaction is layout-only and contributes nothing."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))                 # v0
    t.merge(spark, _df(spark, [(2, "B!"), (3, "c")]), "id")    # v1
    t.compact(spark)                                           # v2
    t.delete_where(spark, "id = 1")                            # v3
    got = _changes(t.read_changes(spark, since_version=-1))
    assert got == {
        (1, "a", "insert", 0), (2, "b", "insert", 0),
        (3, "c", "insert", 1), (2, "b", "update_preimage", 1),
        (2, "B!", "update_postimage", 1),
        (1, "a", "delete", 3),
    }
    # consumer that already processed v1 sees only the delete
    assert _changes(t.read_changes(spark, since_version=2)) == {
        (1, "a", "delete", 3)}
    # fully caught up: empty frame with the CDF schema
    caught = t.read_changes(spark, since_version=3)
    assert caught.count() == 0
    assert "_change_type" in caught.columns


def test_read_changes_upper_bound(spark, tmp_path):
    """upto pins the feed's high-water mark: a consumer recording the
    version it read must not absorb a commit that lands mid-read (it
    would be replayed — and double-applied — on the next pass)."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))   # v0
    t.append(_df(spark, [(2, "b")]))   # v1
    t.append(_df(spark, [(3, "c")]))   # v2
    assert _changes(t.read_changes(spark, since_version=-1, upto=1)) == {
        (1, "a", "insert", 0), (2, "b", "insert", 1)}
    assert _changes(t.read_changes(spark, since_version=0, upto=1)) == {
        (2, "b", "insert", 1)}
    # upto == since: empty frame, CDF schema intact
    empty = t.read_changes(spark, since_version=1, upto=1)
    assert empty.count() == 0 and "_change_type" in empty.columns


def test_read_changes_overwrite_requires_resync(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(9, "z")]))
    with pytest.raises(ValueError, match="snapshot read"):
        t.read_changes(spark, since_version=0)
    # but the snapshot after resync is consistent
    assert _rows(t.read(spark)) == {(9, "z")}


def test_read_changes_matches_snapshot_replay(spark, tmp_path):
    """Applying the change feed to a downstream copy reproduces the
    upstream snapshot — the contract that makes CDF consumable."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge(spark, _df(spark, [(3, "C!"), (4, "d")]), "id")
    t.delete_where(spark, "id = 2")
    state: dict[int, str] = {}
    rows = sorted(t.read_changes(spark, -1).collect(),
                  key=lambda r: r["_commit_version"])
    for r in rows:
        if r["_change_type"] == "delete":
            state.pop(r["id"], None)
        elif r["_change_type"] != "update_preimage":
            state[r["id"]] = r["val"]
    assert set(state.items()) == _rows(t.read(spark))


def test_stream_read_change_feed_follows_merge_and_delete(
        spark, tmp_path, feed_to_parquet):
    """The change feed: a stream over an upserted table delivers
    row-level changes through MERGE/DELETE/compact instead of failing on
    the first rewrite commit."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))                # v0
    t.merge(spark, _df(spark, [(2, "B!"), (3, "c")]), "id")   # v1
    t.compact(spark)                                          # v2
    t.delete_where(spark, "id = 1")                           # v3
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    feed_to_parquet(t.path, out, ck, cdf=True)
    got = {(r["id"], r["val"], r["_change_type"], r["_commit_version"])
           for r in spark.read.parquet(out).collect()}
    assert got == {
        (1, "a", "insert", 0), (2, "b", "insert", 0),
        (3, "c", "insert", 1), (2, "b", "update_preimage", 1),
        (2, "B!", "update_postimage", 1),
        (1, "a", "delete", 3),
    }
    # incremental restart: new delete commit -> exactly the new rows
    t.delete_where(spark, "id = 3")                           # v4
    feed_to_parquet(t.path, out, ck, cdf=True)
    got2 = {(r["id"], r["val"], r["_change_type"], r["_commit_version"])
            for r in spark.read.parquet(out).collect()}
    assert got2 == got | {(3, "c", "delete", 4)}


def test_vacuum_reclaims_orphan_change_dirs(spark, tmp_path):
    """A crashed merge's unpublished change dir is reclaimed; referenced
    change files survive vacuum (read_changes still serves old
    consumers)."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.merge(spark, _df(spark, [(1, "A!")]), "id")  # writes referenced CDF
    orphan = t._write_changes(
        _df(spark, [(9, "junk")]).withColumn(
            "_change_type", __import__("pyspark.sql.functions",
                                       fromlist=["lit"]).lit("insert")))
    victims = t.vacuum(older_than_seconds=0)
    assert orphan in victims
    assert not os.path.exists(os.path.join(t.path, orphan))
    # the merge's change files still readable (pre+postimage since the
    # CDF carries update preimages for incremental consumers)
    got = {r["_change_type"]
           for r in t.read_changes(spark, since_version=0).collect()}
    assert got == {"update_preimage", "update_postimage"}


def test_append_merge_schema_evolution(spark, tmp_path):
    """mergeSchema appends: a new column null-fills history, a dropped
    column null-fills the new rows; time travel below the evolution
    keeps the old schema; plain appends still reject mismatches."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(spark.createDataFrame([(2, "b", 9.5)],
                                   "id int, val string, score double"),
             merge_schema=True)
    got = {(r["id"], r["val"], r["score"]) for r in t.read(spark).collect()}
    assert got == {(1, "a", None), (2, "b", 9.5)}
    assert t.read(spark, version=0).columns == ["id", "val"]
    # missing column null-fills the new rows
    t.append(spark.createDataFrame([(3,)], "id int"), merge_schema=True)
    got = {(r["id"], r["val"], r["score"]) for r in t.read(spark).collect()}
    assert got == {(1, "a", None), (2, "b", 9.5), (3, None, None)}
    # without the flag, mismatches still fail fast at write time
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.append(spark.createDataFrame([(4, 1.5)], "id int, other double"))


def test_merge_schema_type_change_rejected_without_logged_schema(
        spark, tmp_path):
    """r11 (ADVICE r10): the merge_schema type-change guard must hold
    on a legacy partitioned log whose commit docs record no schema:
    table_schema() derives it from the footers and the path keys, so a
    type-changed shared column still fails at write time instead of
    committing and bricking every later snapshot read."""
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite_partitions(
        spark.createDataFrame([(1, "a", 1.5, 0), (2, "b", 2.5, 1)],
                              "id int, val string, score double, p int"),
        "p")
    _strip_logged_schemas(t)
    t = TxnTable(t.path)
    assert "schema" not in t._doc(t.latest_version())  # the legacy precondition
    # type-changed shared column: rejected via the footer fallback
    with pytest.raises(ValueError, match="not these changes"):
        t.append(spark.createDataFrame(
            [(3, "c", "oops", 0)],
            "id int, val string, score string, p int"),
            merge_schema=True)
    # matching types + a NEW column still evolve fine
    t.append(spark.createDataFrame(
        [(3, "c", 3.5, 0, "en")],
        "id int, val string, score double, p int, lang string"),
        merge_schema=True)
    got = {(r["id"], r["lang"]) for r in t.read(spark).collect()}
    assert got == {(1, None), (2, None), (3, "en")}


def test_agg_delta_maintains_materialized_view(spark, tmp_path):
    """IVM contract: base partial aggregates + CDF deltas == a full
    recompute over the current snapshot, across merge (with preimages)
    and delete commits."""
    from pyspark.sql import functions as F

    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        agg_delta_from_changes,
    )

    sdf = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(30)],
        "id int, grp string, amount double")
    t = TxnTable(str(tmp_path / "t"))
    t.append(sdf)                                             # v0
    base_v = t.latest_version()
    base = (t.read(spark).groupBy("grp")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("amount").alias("total")))
    # upstream keeps changing: updates move amounts, deletes remove rows
    ups = spark.createDataFrame(
        [(3, "g0", 100.0), (4, "g1", 200.0), (99, "g2", 7.0)],
        "id int, grp string, amount double")
    t.merge(spark, ups, "id")                                 # v1
    t.delete_where(spark, "id >= 25")                         # v2
    delta = agg_delta_from_changes(
        t.read_changes(spark, since_version=base_v), ["grp"], "amount")
    maintained = (base.join(delta, "grp", "full")
                  .select("grp",
                          (F.coalesce("cnt", F.lit(0))
                           + F.coalesce("d_count", F.lit(0))).alias("cnt"),
                          (F.coalesce("total", F.lit(0.0))
                           + F.coalesce("d_sum", F.lit(0.0))).alias("total")))
    direct = (t.read(spark).groupBy("grp")
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.sum("amount").alias("total")))
    m = {(r["grp"]): (r["cnt"], round(r["total"], 6))
         for r in maintained.collect()}
    d = {(r["grp"]): (r["cnt"], round(r["total"], 6))
         for r in direct.collect()}
    assert m == d


# -- bloom-filter file skipping (point lookups) ----------------------------


def test_bloom_prunes_point_lookups(spark, tmp_path):
    """Equality probes on a high-cardinality string column: min/max can't
    prune (every dir's range spans the probe) but the per-dir bloom
    narrows the plan to the one dir holding the needle, and the read
    equals the full-scan filter exactly."""
    t = TxnTable(str(tmp_path / "t"))
    t.enable_bloom(["val"])
    for lo in (0, 100, 200, 300):
        t.append(spark.createDataFrame(
            [(lo + i, f"user-{(lo + i) * 7919 % 100000:05d}")
             for i in range(50)], "id int, val string"))
    # blooms landed in the log
    doc = t._doc(t.latest_version())
    (only_dir,) = doc["adds"]
    assert "val" in doc["bloom"][only_dir]
    needle = f"user-{123 * 7919 % 100000:05d}"  # lives in the 100-149 dir
    pruned = t.pruned_dirs_eq("val", needle)
    assert len(pruned) == 1
    got = _rows(t.read_point(spark, "val", needle))
    assert got == {(123, needle)}
    from pyspark.sql import functions as F
    assert got == _rows(t.read(spark).filter(F.col("val") == needle))
    # absent needle: usually zero dirs planned (bloom may false-positive,
    # never false-negative); result is exactly empty either way
    assert t.read_point(spark, "val", "user-nope").count() == 0


def test_bloom_pre_enable_dirs_stay_unprunable(spark, tmp_path):
    """Dirs committed before enable_bloom have no bloom: conservative
    keep, so reads stay exact across enablement."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))     # pre-bloom
    t.enable_bloom(["val"])
    t.append(_df(spark, [(3, "c"), (4, "d")]))     # bloomed
    pruned = t.pruned_dirs_eq("val", "a")
    assert len(pruned) == 1  # pre-bloom dir kept, bloomed dir pruned
    assert _rows(t.read_point(spark, "val", "a")) == {(1, "a")}
    assert _rows(t.read_point(spark, "val", "c")) == {(3, "c")}


def test_bloom_survives_checkpoint_and_update(spark, tmp_path):
    """Checkpoints carry live blooms forward; rewrite commits (UPDATE)
    regenerate blooms for their new dirs, so a post-update probe for the
    NEW value finds its dir and a probe for the OLD value stays exact."""
    t = TxnTable(str(tmp_path / "t"))
    t.enable_bloom(["val"], bits=4096, k=5)
    for i in range(6):
        t.append(_df(spark, [(i, f"w{i}")]))
    t.checkpoint()
    t.append(_df(spark, [(99, "tail")]))
    blooms = t._live_blooms()
    assert all("val" in b for b in blooms.values())
    assert len(t.pruned_dirs_eq("val", "w3")) <= 2  # fp-bounded, not 7
    t.update_where(spark, "id = 3", {"val": "'W3!'"})
    assert _rows(t.read_point(spark, "val", "W3!")) == {(3, "W3!")}
    assert t.read_point(spark, "val", "w3").count() == 0


def test_bloom_int_column_and_partitioned_commits(spark, tmp_path):
    """Int columns probe by canonical string; partition-granular commit
    dirs get blooms too (their parquet lives under the subdir)."""
    t = TxnTable(str(tmp_path / "t"))
    t.enable_bloom(["id"], bits=2048, k=4)
    t.overwrite_partitions(_pdf(spark, [(1, "a", 1), (2, "b", 2)]), "day")
    t.overwrite_partitions(_pdf(spark, [(3, "c", 3)]), "day")
    assert {r["id"] for r in t.read_point(spark, "id", 3).collect()} == {3}
    assert t.read_point(spark, "id", 77).count() == 0


def test_bloom_numeric_type_mismatch_no_false_negative(spark, tmp_path):
    """ADVICE r4: a double column storing 371.0 probed with int 371 must
    NOT be a false negative — build and probe canonicalize numerics to
    the same key (int-valued float == int == Decimal). Direct unit check
    plus the end-to-end read_point."""
    from decimal import Decimal

    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        _bloom_build, _bloom_may_contain)

    b = _bloom_build([371.0], 8192, 6)
    assert _bloom_may_contain(b, 371, 8192, 6)          # int probe
    assert _bloom_may_contain(b, 371.0, 8192, 6)        # float probe
    assert _bloom_may_contain(b, Decimal("371"), 8192, 6)
    b2 = _bloom_build([Decimal("2.50")], 8192, 6)
    assert _bloom_may_contain(b2, 2.5, 8192, 6)          # frac decimal == float
    # end-to-end: double column, int probe
    t = TxnTable(str(tmp_path / "t"))
    t.enable_bloom(["score"])
    t.append(spark.createDataFrame(
        [(i, float(i * 10)) for i in range(50)], "id int, score double"))
    t.append(spark.createDataFrame(
        [(i, float(i * 10)) for i in range(50, 100)], "id int, score double"))
    got = {(r["id"], r["score"])
           for r in t.read_point(spark, "score", 370).collect()}
    assert got == {(37, 370.0)}


def test_update_where_schema_evolved_dirs(spark, tmp_path):
    """ADVICE r4: a dir that predates a schema evolution must still take
    the UPDATE — candidate dirs align to the merged snapshot schema
    (null-filling the new column), not their own file schema; the mixed
    pre/post change frames union cleanly."""
    from pyspark.sql import functions as F

    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, val string"))          # pre-evolution
    t.append(spark.createDataFrame(
        [(3, "c", "x3")], "id int, val string, extra string"),
        merge_schema=True)                                     # evolved
    v = t.update_where(spark, "id <= 3", {"extra": "'seen'"})
    rows = {(r["id"], r["val"], r["extra"])
            for r in t.read(spark).collect()}
    assert rows == {(1, "a", "seen"), (2, "b", "seen"), (3, "c", "seen")}
    # change feed carries pre/post images across the mixed schemas
    ch = t.read_changes(spark, v - 1)
    pre = ch.filter(F.col("_change_type") == "update_preimage")
    post = ch.filter(F.col("_change_type") == "update_postimage")
    assert pre.count() == 3 and post.count() == 3
    assert {r["extra"] for r in post.collect()} == {"seen"}
    assert {r["extra"] for r in pre.collect()} == {None, "x3"}


def test_update_where_set_condition_on_evolved_column(spark, tmp_path):
    """Condition references the NEW column: pre-evolution rows null-fill,
    so 'extra IS NULL' addresses exactly the old dirs."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, val string"))
    t.append(spark.createDataFrame(
        [(3, "c", "x3")], "id int, val string, extra string"),
        merge_schema=True)
    t.update_where(spark, "extra IS NULL", {"extra": "'backfilled'"})
    rows = {(r["id"], r["extra"]) for r in t.read(spark).collect()}
    assert rows == {(1, "backfilled"), (2, "backfilled"), (3, "x3")}


def test_delete_where_schema_evolved_change_frames(spark, tmp_path):
    """DELETE spanning pre- and post-evolution dirs: both rewrite, and
    the deleted change frames union across the mixed schemas."""
    from pyspark.sql import functions as F

    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, val string"))
    t.append(spark.createDataFrame(
        [(3, "c", "x3"), (4, "d", "x4")],
        "id int, val string, extra string"), merge_schema=True)
    v = t.delete_where(spark, "id IN (1, 3)")
    assert {r["id"] for r in t.read(spark).collect()} == {2, 4}
    ch = t.read_changes(spark, v - 1)
    assert ch.filter(F.col("_change_type") == "delete").count() == 2


# -- schema in the log + constant-job row ops ------------------------------


def test_commit_records_table_schema(spark, tmp_path):
    """Commit docs carry the merged table schema (Delta's metaData
    action): reads plan with it (no mergeSchema footer job), evolution
    extends it, and DELETE never shrinks it."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    s0 = t.table_schema()
    assert s0 is not None and [f.name for f in s0.fields] == ["id", "val"]
    t.append(spark.createDataFrame(
        [(3, "c", "x3")], "id int, val string, extra string"),
        merge_schema=True)
    s1 = t.table_schema()
    assert [f.name for f in s1.fields] == ["id", "val", "extra"]
    # the explicit-schema read null-fills the pre-evolution dir
    got = {(r["id"], r["extra"]) for r in t.read(spark).collect()}
    assert got == {(1, None), (2, None), (3, "x3")}
    # deleting the only dir that carries `extra` keeps it in the schema
    t.delete_where(spark, "id = 3")
    assert [f.name for f in t.table_schema().fields] == [
        "id", "val", "extra"]
    assert "extra" in t.read(spark).columns


def test_row_ops_constant_job_count(spark, tmp_path):
    """DELETE/UPDATE WHERE run a CONSTANT number of Spark jobs (change
    write doubling as the Observation sizing pass + one rewrite)
    regardless of how many candidate dirs the table has — the per-dir
    probe loop this pins against cost 2-3 jobs per dir."""
    t = TxnTable(str(tmp_path / "t"))
    for lo in range(0, 600, 100):  # 6 commits -> 6 unpruned candidates
        t.append(spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(100)],
            "id int, val string"))

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("rowops-delete", "delete")
    t.delete_where(spark, "id % 100 < 10")
    n_delete = len(tracker.getJobIdsForGroup("rowops-delete"))
    sc.setJobGroup("rowops-update", "update")
    t.update_where(spark, "id % 100 >= 90", {"val": "'hot'"})
    n_update = len(tracker.getJobIdsForGroup("rowops-update"))
    sc.setJobGroup(None, None)

    assert n_delete <= 3, f"delete ran {n_delete} jobs for 6 candidates"
    assert n_update <= 3, f"update ran {n_update} jobs for 6 candidates"
    assert {r["id"] for r in t.read(spark).collect()} == {
        i for i in range(600) if i % 100 >= 10}


def test_delete_where_no_cdf_single_job(spark, tmp_path):
    """capture_changes=False (Delta's CDF-off default): identical final
    snapshot, ONE Spark job, no change files, no-op still detected."""
    t = TxnTable(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(50)],
            "id int, val string"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("nocdf-del", "x")
    v = t.delete_where(spark, "id >= 120 AND id <= 130",
                       prune=("id", 120, 130), capture_changes=False)
    n_jobs = len(tracker.getJobIdsForGroup("nocdf-del"))
    sc.setJobGroup(None, None)
    assert n_jobs <= 1, f"no-CDF delete ran {n_jobs} jobs"
    expect = {(i, f"v{i}") for rng in ((0, 50), (100, 150), (200, 250))
              for i in range(*rng) if not 120 <= i <= 130}
    assert _rows(t.read(spark)) == expect
    assert "changes" not in t._doc(v)
    # no matches -> no commit, nothing left behind
    assert t.delete_where(spark, "id > 9999",
                          capture_changes=False) == v
    assert t.latest_version() == v


def test_update_where_no_cdf_single_job(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    for lo in (0, 100):
        t.append(spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(50)],
            "id int, val string"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("nocdf-upd", "x")
    v = t.update_where(spark, "id >= 120 AND id <= 130",
                       {"val": "upper(val)"}, prune=("id", 120, 130),
                       capture_changes=False)
    n_jobs = len(tracker.getJobIdsForGroup("nocdf-upd"))
    sc.setJobGroup(None, None)
    assert n_jobs <= 1, f"no-CDF update ran {n_jobs} jobs"
    expect = {(i, f"v{i}".upper() if 120 <= i <= 130 else f"v{i}")
              for rng in ((0, 50), (100, 150)) for i in range(*rng)}
    assert _rows(t.read(spark)) == expect
    assert "changes" not in t._doc(v)
    assert t.update_where(spark, "id > 9999", {"val": "'x'"},
                          capture_changes=False) == v


def test_planning_stays_bounded_under_mixed_maintenance(spark, tmp_path):
    """The O(commits-since-checkpoint) planning contract survives a
    LONG-LIVED table's full maintenance mix — row-level DELETE rewrites
    (CDF-emitting), compaction, schema-recorded commits, vacuum — not
    just a clean append-only log: at 120 commits with checkpoints every
    10, planning reads <= interval tail docs, the SAME bound as at 12
    commits (age-independence), and results match a from-scratch replay."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = TxnTable(str(tmp_path / "t"))

    def tiny_commit(i):
        rel = f"data/commit{i:05d}"
        _os.makedirs(_os.path.join(t.path, rel))
        pq.write_table(
            pa.table({"id": pa.array([i * 5 + j for j in range(5)],
                                     pa.int64()),
                      "val": [f"v{i}-{j}" for j in range(5)]}),
            _os.path.join(t.path, rel, "part-0.parquet"))
        t.commit([rel], [], {"operation": "append"},
                 expected_version=t.latest_version())
        t.checkpoint_if_needed(10)

    def tail_doc_reads():
        read_docs = []
        orig = TxnTable._doc
        try:
            TxnTable._doc = (
                lambda self, v: read_docs.append(v) or orig(self, v))
            t.snapshot_dirs()
        finally:
            TxnTable._doc = orig
        return read_docs

    i = 0
    bounds = {}
    for mark in (12, 120):
        while (t.latest_version() or 0) < mark:
            i += 1
            tiny_commit(i)
            v = t.latest_version()
            if v % 15 == 0:
                t.delete_where(spark, f"id = {v * 5 - 2}")
            if v % 40 == 0:
                t.compact(spark, target_files=2)
        bounds[mark] = len(tail_doc_reads())
    t.vacuum()
    assert bounds[12] <= 11 and bounds[120] <= 11, bounds
    # age-independence: 10x the commits, same planning bound
    assert bounds[120] <= bounds[12] + 10
    # planning from the checkpoint equals full replay (and survives
    # vacuum, which must not break the metadata the planner needs)
    full = TxnTable(t.path)
    orig_base = TxnTable._base_checkpoint
    try:
        TxnTable._base_checkpoint = lambda self, version: None
        expect = set(full.snapshot_dirs())
    finally:
        TxnTable._base_checkpoint = orig_base
    assert set(t.snapshot_dirs()) == expect


def test_compact_zorder_prunes_on_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER BY (x, y): after the rewrite, a range probe on
    EITHER column prunes to a strict subset of dirs (~sqrt fraction),
    where linear clustering on x leaves y completely unprunable. Data
    and time travel are unaffected (the commit is layout-only)."""
    t = TxnTable(str(tmp_path / "t"))
    rows = [(i, (i * 37) % 1000, (i * 61) % 1000) for i in range(4000)]
    for lo in range(0, 4000, 1000):  # 4 arrival-order commits
        t.append(spark.createDataFrame(
            rows[lo:lo + 1000], "id int, x int, y int"))
    before = {r for r in rows}
    v = t.compact_zorder(spark, ["x", "y"], target_dirs=16)
    dirs = t.snapshot_dirs()
    assert len(dirs) == 16
    # pruning bites on BOTH dimensions
    px = t.pruned_dirs("x", 100, 120)
    py = t.pruned_dirs("y", 100, 120)
    assert len(px) <= len(dirs) // 2, f"x probe hit {len(px)}/{len(dirs)}"
    assert len(py) <= len(dirs) // 2, f"y probe hit {len(py)}/{len(dirs)}"
    # layout-only: byte-identical data, time travel intact
    got = {(r["id"], r["x"], r["y"]) for r in t.read(spark).collect()}
    assert got == before
    assert t.read(spark, version=v - 1).count() == 4000
    # pruned read is EXACT (residual filter over the kept dirs)
    got_x = {r["id"] for r in
             t.read_range(spark, "x", 100, 120).collect()}
    assert got_x == {i for i in range(4000) if 100 <= (i * 37) % 1000 <= 120}


def test_compact_zorder_single_column_delegates(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(i, i % 100) for i in range(500)], "id int, x int"))
    t.compact_zorder(spark, ["x"], target_dirs=4)
    assert len(t.snapshot_dirs()) == 4
    assert len(t.pruned_dirs("x", 10, 12)) == 1  # linear: perfectly tight


# -- RESTORE TABLE TO VERSION ----------------------------------------------


def test_restore_to_version(spark, tmp_path):
    """RESTORE publishes a metadata-only commit equal to the target
    snapshot: rows AND schema revert, the pre-restore state stays one
    version back (restore is itself time-travelable), and restoring to
    the current state is a no-op."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))                  # v0
    t.append(_df(spark, [(3, "c")]))                            # v1
    t.overwrite(spark.createDataFrame(
        [(9, "z", "extra")], "id int, val string, note string"))  # v2
    v3 = t.restore(1)
    assert v3 == 3
    assert _rows(t.read(spark)) == {(1, "a"), (2, "b"), (3, "c")}
    assert [f.name for f in t.table_schema().fields] == ["id", "val"]
    # pre-restore state is still one version back
    assert {r["note"] for r in t.read(spark, version=2).collect()} == {
        "extra"}
    # restoring to where we already are adds no commit
    assert t.restore(3) == 3
    assert t.latest_version() == 3
    # restore the restore: back to v2's state
    t.restore(2)
    assert {r["id"] for r in t.read(spark).collect()} == {9}


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))       # v0
    t.overwrite(_df(spark, [(2, "b")]))    # v1: v0's dir now superseded
    t.vacuum(keep_versions=False, older_than_seconds=0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(0)
    with pytest.raises(ValueError, match="latest is"):
        t.restore(99)


# -- CHECK constraints -----------------------------------------------------


def test_check_constraint_blocks_violating_writes(spark, tmp_path):
    """ADD CONSTRAINT: violating appends/updates roll back (no commit,
    no orphan data), valid writes pass, NULL passes (SQL CHECK
    semantics), DROP lifts enforcement."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.add_check_constraint("positive_id", "id > 0")
    v = t.latest_version()
    with pytest.raises(ValueError, match="positive_id"):
        t.append(_df(spark, [(-5, "bad"), (2, "ok")]))
    assert t.latest_version() == v          # no commit
    assert _rows(t.read(spark)) == {(1, "a")}
    assert t.vacuum(older_than_seconds=0) == []  # no orphan left behind
    t.append(_df(spark, [(2, "b")]))        # valid rows pass
    # NULL evaluates as pass, like SQL CHECK
    t.append(spark.createDataFrame([(None, "n")], "id int, val string"))
    assert {r["val"] for r in t.read(spark).collect()} == {"a", "b", "n"}
    # UPDATE that would break the constraint rolls back too
    with pytest.raises(ValueError, match="positive_id"):
        t.update_where(spark, "val = 'b'", {"id": "-1"},
                       capture_changes=False)
    assert _rows(t.read(spark)) == {(1, "a"), (2, "b"), (None, "n")}
    t.drop_check_constraint("positive_id")
    t.append(_df(spark, [(-9, "now ok")]))
    assert (-9, "now ok") in _rows(t.read(spark))


def _strip_logged_schemas(t: TxnTable) -> None:
    """Make ``t`` a legacy log: no commit doc records a schema."""
    import json as _json

    for v in t.versions():
        p = t.log_dir + f"/{v:011d}.json"
        doc = _json.load(open(p))
        doc.pop("schema", None)
        _json.dump(doc, open(p, "w"))


@pytest.mark.parametrize("layout", ["plain", "partitioned"])
def test_row_ops_on_pre_schema_log(spark, tmp_path, layout):
    """Tables written before schema-in-log (commit docs without a
    "schema" key) must keep working: table_schema() derives the schema
    (footers, plus the path keys of a partitioned layout),
    delete/update produce identical results, and the first new commit
    logs the schema, healing the log."""
    from pyspark.sql import functions as F

    t = TxnTable(str(tmp_path / "t"))
    if layout == "plain":
        t.append(_df(spark, [(1, "a"), (2, "b")]))
        t.append(spark.createDataFrame(
            [(3, "c", "x3")], "id int, val string, extra string"),
            merge_schema=True)
    else:  # the evolved column arrives with one replaced partition
        t.set_partition_column("p")
        t.append(_df(spark, [(1, "a"), (2, "b")])
                 .withColumn("p", F.col("id") % 2))
        t.overwrite_partitions(spark.createDataFrame(
            [(1, "a", None, 1), (3, "c", "x3", 1)],
            "id int, val string, extra string, p int"), "p")
    # simulate a legacy log: strip the schema key from every commit doc
    _strip_logged_schemas(t)
    t2 = TxnTable(t.path)
    assert "schema" not in t2._doc(t2.latest_version())
    got = {(r["id"], r["extra"]) for r in t2.read(spark).collect()}
    assert got == {(1, None), (2, None), (3, "x3")}
    t2.delete_where(spark, "id = 1")
    assert "schema" in t2._doc(t2.latest_version())  # the log healed
    assert [f.name for f in t2.table_schema().fields] == \
        [f.name for f in t2._derived_schema(t2.latest_version() - 1).fields]
    t2.update_where(spark, "id = 3", {"extra": "'seen'"})
    got = {(r["id"], r["extra"]) for r in t2.read(spark).collect()}
    assert got == {(2, None), (3, "seen")}


def test_compact_zorder_incremental_clusters_only_tail(spark, tmp_path):
    """Incremental ZORDER: after a full clustering, new appends form an
    unclustered tail; the incremental pass rewrites ONLY those dirs into
    a new Z-generation (earlier generation dirs keep their paths), data
    is unchanged, and a second call with no new appends is a no-op."""
    t = TxnTable(str(tmp_path / "t"))
    rows1 = [(i, (i * 37) % 1000, (i * 61) % 1000) for i in range(2000)]
    t.append(spark.createDataFrame(rows1, "id int, x int, y int"))
    t.compact_zorder(spark, ["x", "y"], target_dirs=8)
    gen1 = set(t.snapshot_dirs())
    rows2 = [(i, (i * 37) % 1000, (i * 61) % 1000)
             for i in range(2000, 3000)]
    t.append(spark.createDataFrame(rows2[:500], "id int, x int, y int"))
    t.append(spark.createDataFrame(rows2[500:], "id int, x int, y int"))
    v = t.compact_zorder_incremental(spark, ["x", "y"], target_dirs=4)
    assert v is not None
    after = set(t.snapshot_dirs())
    assert gen1 <= after                   # generation 1 untouched
    assert len(after) == len(gen1) + 4     # tail -> 4 new z-dirs
    got = {(r["id"], r["x"], r["y"]) for r in t.read(spark).collect()}
    assert got == set(rows1) | set(rows2)
    # no new appends -> nothing to cluster
    assert t.compact_zorder_incremental(spark, ["x", "y"]) is None
    # pruning still bites on both columns across generations
    n = len(t.snapshot_dirs())
    assert len(t.pruned_dirs("x", 100, 120)) < n
    assert len(t.pruned_dirs("y", 100, 120)) < n


def test_stream_sink_incremental_zorder_lifecycle(spark, tmp_path,
                                                  feed_to_parquet):
    """The realistic table lifecycle end-to-end: a streaming sink
    appends micro-batches -> incremental ZORDER clusters the tail on a
    maintenance schedule -> a downstream change-feed stream rides
    through the rewrite (a compaction is layout-only) -> range reads
    prune on both z columns across generations."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    rows = [(i, (i * 37) % 100, (i * 61) % 100) for i in range(3000)]
    spark.createDataFrame(rows, "id int, x int, y int") \
        .repartition(6).write.parquet(src)

    # streaming appends (6 files, 2 per trigger -> 3 commits)
    q = P.write_stream_txn_append(
        spark.readStream.schema("id int, x int, y int")
        .option("maxFilesPerTrigger", "2").parquet(src),
        table, str(tmp_path / "ck_sink"))
    q.awaitTermination(120)
    t = TxnTable(table)
    assert t.read(spark).count() == 3000
    n_before = len(t.snapshot_dirs())

    # maintenance: cluster the unclustered tail (everything, first run)
    assert t.compact_zorder_incremental(spark, ["x", "y"],
                                        target_dirs=8) is not None
    n = len(t.snapshot_dirs())
    assert len(t.pruned_dirs("x", 10, 15)) < n
    assert len(t.pruned_dirs("y", 10, 15)) < n

    z_gen1 = set(t.snapshot_dirs())  # the 8 clustered dirs

    # downstream change feed survives the rewrite and takes new appends
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck_feed")
    more = [(i, (i * 37) % 100, (i * 61) % 100) for i in range(3000, 3200)]
    t.append(spark.createDataFrame(more, "id int, x int, y int"))

    feed_to_parquet(table, out, ck)
    got = spark.read.parquet(out)
    # feed = the streamed appends (as inserts) + the tail append;
    # the zorder rewrite itself was skipped, so no row duplicates
    assert got.count() == 3200
    assert {r["id"] for r in got.select("id").distinct().collect()} == {
        i for i in range(3200)}

    # second maintenance run clusters ONLY the 200-row tail: every
    # generation-1 z-dir keeps its path, the tail append dir rewrites
    v = t.compact_zorder_incremental(spark, ["x", "y"], target_dirs=2)
    assert v is not None
    after = set(t.snapshot_dirs())
    assert z_gen1 <= after
    assert len(after) == len(z_gen1) + 2
    assert t.read(spark).count() == 3200
    assert n_before >= 3  # sink really did commit per micro-batch


def test_symlink_manifest_external_read(spark, tmp_path):
    """GENERATE symlink_format_manifest: an external engine (DuckDB here,
    standing in for the reference's Trino layer) reads the listed files
    as a plain parquet table and sees EXACTLY the snapshot — including
    after a rewrite commit, once regenerated; the stale manifest still
    reads the old snapshot consistently (never a torn view)."""
    import duckdb

    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    man = t.generate_symlink_manifest()
    files = [ln for ln in open(man).read().splitlines() if ln]
    con = duckdb.connect()
    got = {tuple(r) for r in con.execute(
        "SELECT id, val FROM read_parquet($1)", [files]).fetchall()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}

    t.delete_where(spark, "id = 2")  # rewrite commit
    # stale manifest: still the OLD snapshot, consistently
    got_stale = {tuple(r) for r in con.execute(
        "SELECT id, val FROM read_parquet($1)", [files]).fetchall()}
    assert got_stale == {(1, "a"), (2, "b"), (3, "c")}
    # regenerated: the new snapshot
    files2 = [ln for ln in open(t.generate_symlink_manifest())
              .read().splitlines() if ln]
    got2 = {tuple(r) for r in con.execute(
        "SELECT id, val FROM read_parquet($1)", [files2]).fetchall()}
    assert got2 == {(1, "a"), (3, "c")}


def test_metadata_only_aggregates(spark, tmp_path):
    """COUNT(*) and MIN/MAX answered from log metadata alone — exact
    across append, row-level DELETE, UPDATE, compaction, restore, and
    checkpointed planning; None (fall back to a scan) on pre-upgrade
    logs."""
    import json as _json

    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "id int, v int"))
    t.append(spark.createDataFrame(
        [(i, i * 10) for i in range(100, 150)], "id int, v int"))
    assert t.snapshot_row_count() == 150
    assert t.stats_minmax("id") == (0, 149)
    assert t.stats_minmax("nope") is None

    t.delete_where(spark, "id >= 140")          # rewrite commit
    assert t.snapshot_row_count() == 140 == t.read(spark).count()
    t.update_where(spark, "id < 5", {"v": "v + 1"})
    assert t.snapshot_row_count() == 140
    t.compact(spark, target_files=2)
    assert t.snapshot_row_count() == 140
    assert t.stats_minmax("id") == (0, 139)
    # checkpointed planning carries the counts
    t.checkpoint()
    t.append(spark.createDataFrame([(999, 0)], "id int, v int"))
    assert t.snapshot_row_count() == 141
    assert TxnTable(t.path).snapshot_row_count() == 141  # fresh instance
    # time travel: metadata count at an old version
    assert t.snapshot_row_count(version=1) == 150
    # restore: counts follow the restored snapshot
    v = t.latest_version()
    t.restore(1)
    assert t.snapshot_row_count() == 150
    t.restore(v)

    # legacy log without "rows" -> None, never a wrong number
    for ver in t.versions():
        p = t.log_dir + f"/{ver:011d}.json"
        doc = _json.load(open(p))
        doc.pop("rows", None)
        _json.dump(doc, open(p, "w"))
    for cp in t.checkpoints():
        p = t.log_dir + f"/{cp:011d}.checkpoint.json"
        doc = _json.load(open(p))
        doc.pop("rows", None)
        _json.dump(doc, open(p, "w"))
    assert TxnTable(t.path).snapshot_row_count() is None


def test_row_op_rebases_over_concurrent_append(spark, tmp_path):
    """WriteSerializable: an append landing between a DELETE's snapshot
    read and its commit does not abort the DELETE — the op rebases onto
    the new version; its predicate does NOT visit the concurrently
    appended rows (it deletes the snapshot it read). A concurrent
    rewrite of an overlapping dir is a genuine conflict."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))

    orig_commit = TxnTable.commit
    raced = {"done": False}

    def racing_commit(self, adds, removes, meta=None,
                      expected_version=None, stats=None, changes=None,
                      schema=None, dvs=None, **kw):
        # before the DELETE's own commit lands, a concurrent append
        # takes the version it expected (once)
        if (not raced["done"] and (meta or {}).get("operation")
                == "delete"):
            raced["done"] = True
            other = TxnTable(self.path)
            other.append(_df(spark, [(2, "late append")]))
        return orig_commit(self, adds, removes, meta,
                           expected_version=expected_version,
                           stats=stats, changes=changes, schema=schema,
                           dvs=dvs, **kw)

    TxnTable.commit = racing_commit
    try:
        t.delete_where(spark, "id = 2")
    finally:
        TxnTable.commit = orig_commit
    # the pre-existing id=2 row is gone; the concurrently appended id=2
    # row SURVIVES (WriteSerializable — the delete saw the old snapshot)
    assert _rows(t.read(spark)) == {(1, "a"), (2, "late append")}

    # overlapping rewrite -> genuine conflict
    raced2 = {"done": False}

    def conflicting_commit(self, adds, removes, meta=None,
                           expected_version=None, stats=None,
                           changes=None, schema=None, dvs=None, **kw):
        if (not raced2["done"] and (meta or {}).get("operation")
                == "update"):
            raced2["done"] = True
            TxnTable(self.path).delete_where(spark, "id = 1")
        return orig_commit(self, adds, removes, meta,
                           expected_version=expected_version,
                           stats=stats, changes=changes, schema=schema,
                           dvs=dvs, **kw)

    TxnTable.commit = conflicting_commit
    try:
        with pytest.raises(TxnConflictError):
            t.update_where(spark, "id = 1", {"val": "'x'"})
    finally:
        TxnTable.commit = orig_commit


def test_compact_zorder_rejects_unordered_types(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(1, ["a"])], "id long, tags array<string>")
    t.append(df)
    with pytest.raises(ValueError, match="must be numeric, string"):
        t.compact_zorder(spark, ["id", "tags"], target_dirs=2)


def test_compact_zorder_string_column_prunes(spark, tmp_path):
    """Delta's OPTIMIZE ZORDER BY accepts string columns; ours takes the
    string cell boundaries from a bounded deterministic row sample
    (approxQuantile is numeric-only). After zordering on (num, str),
    a range probe on the STRING column must prune dirs and read_range
    must equal the plain filter exactly."""
    from pyspark.sql import functions as F

    t = TxnTable(str(tmp_path / "t"))
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.concat(F.lit("user_"),
                 F.lpad((F.col("id") * 2654435761 % 4000)
                        .cast("string"), 5, "0")).alias("name"))
    t.append(df)
    t.compact_zorder(spark, ["id", "name"], target_dirs=8)
    pruned = t.pruned_dirs("name", "user_01000", "user_01499")
    live = t.snapshot_dirs(t.latest_version())
    assert len(pruned) < len(live), (len(pruned), len(live))
    got = sorted(r["name"] for r in t.read_range(
        spark, "name", "user_01000", "user_01499").collect())
    want = sorted(r["name"] for r in t.read(spark).filter(
        (F.col("name") >= "user_01000")
        & (F.col("name") <= "user_01499")).collect())
    assert got == want and got


def test_protocol_versioning(spark, tmp_path):
    """Delta-style protocol action: commit 0 records the reader/writer
    minimums; a table demanding a future protocol fails CLEARLY on read
    and write instead of being silently misread; current tables and
    pre-protocol tables keep working."""
    import json as _json

    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnProtocolError,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    proto = _json.load(open(t.log_dir + "/protocol.json"))
    assert proto == {"min_reader_version": 1, "min_writer_version": 1}
    assert _rows(t.read(spark)) == {(1, "a")}

    _json.dump({"min_reader_version": 99, "min_writer_version": 99},
               open(t.log_dir + "/protocol.json", "w"))
    # fresh instances (a new process opening the upgraded table — the
    # protocol is cached per instance after the first positive read)
    with pytest.raises(TxnProtocolError, match="reader protocol >= 99"):
        TxnTable(t.path).read(spark)
    with pytest.raises(TxnProtocolError, match="writer protocol >= 99"):
        TxnTable(t.path).append(_df(spark, [(2, "b")]))

    # pre-protocol table (no protocol.json): keeps working
    import os as _os
    _os.remove(t.log_dir + "/protocol.json")
    assert _rows(TxnTable(t.path).read(spark)) == {(1, "a")}


# -- _latest hint (VERDICT r5 #2: flat commit latency) ---------------------


def test_hint_written_and_latest_uses_it(spark, tmp_path):
    import json

    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    hint = os.path.join(t.log_dir, "_latest.json")
    assert os.path.exists(hint)
    with open(hint) as fh:
        assert json.load(fh)["latest"] == 1
    assert t.latest_version() == 1


def test_stale_hint_forward_probe_recovers(spark, tmp_path):
    """A hint older than reality (crashed writer, racing writers) must be
    absorbed by the forward existence-probe — versions are gap-free."""
    import json

    t = TxnTable(str(tmp_path / "t"))
    for i in range(5):
        t.append(_df(spark, [(i, "x")]))
    hint = os.path.join(t.log_dir, "_latest.json")
    with open(hint, "w") as fh:
        json.dump({"latest": 1}, fh)  # stale by 3 commits
    assert t.latest_version() == 4
    assert len(t.snapshot_dirs()) == 5
    # a commit on the stale hint must land at 5, not clobber 2
    t.append(_df(spark, [(9, "z")]))
    assert t.latest_version() == 5
    assert _rows(t.read(spark)) == {(i, "x") for i in range(5)} | {(9, "z")}


def test_missing_and_corrupt_hint_fall_back_to_listing(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    hint = os.path.join(t.log_dir, "_latest.json")
    os.unlink(hint)
    assert t.latest_version() == 1
    assert _rows(t.read(spark)) == {(2, "b")}
    with open(hint, "w") as fh:
        fh.write("{not json")
    assert t.latest_version() == 1
    with open(hint, "w") as fh:
        fh.write('{"latest": 99}')  # points past reality: file missing
    assert t.latest_version() == 1
    assert _rows(t.read(spark)) == {(2, "b")}


def test_hint_tracks_checkpoints_and_stale_checkpoint_is_safe(spark, tmp_path):
    import json

    t = TxnTable(str(tmp_path / "t"))
    for i in range(12):
        t.append(_df(spark, [(i, "x")]))
        t.checkpoint_if_needed(5)
    hint = os.path.join(t.log_dir, "_latest.json")
    with open(hint) as fh:
        h = json.load(fh)
    assert h["checkpoint"] in t.checkpoints()
    # stale checkpoint pointer: replays a longer tail, same answer
    with open(hint, "w") as fh:
        json.dump({**h, "checkpoint": t.checkpoints()[0]}, fh)
    assert _rows(t.read(spark)) == {(i, "x") for i in range(12)}
    # checkpoint pointer at a version with no checkpoint file: fallback
    with open(hint, "w") as fh:
        json.dump({**h, "checkpoint": 3}, fh)
    assert _rows(t.read(spark)) == {(i, "x") for i in range(12)}


def test_row_ops_many_candidates_prepass_path(spark, tmp_path):
    """Above _OBS_RIDER_MAX candidates, DELETE/UPDATE switch from the
    per-dir Observation rider (O(rows x dirs) CASEs) to a column-pruned
    sizing pre-pass — results must be identical, full-match dirs drop
    without rewrite, match-free dirs stay physically untouched."""
    t = TxnTable(str(tmp_path / "t"))
    n_dirs = TxnTable._OBS_RIDER_MAX + 4
    for lo in range(n_dirs):
        t.append(_df(spark, [(lo * 100 + i, f"v{lo * 100 + i}")
                             for i in range(20)]))
    live_before = t.snapshot_dirs()
    # scattered delete: hits some rows in EVERY dir
    t.delete_where(spark, "id % 10 = 3", capture_changes=False)
    assert {r["id"] for r in t.read(spark).collect()} == {
        lo * 100 + i for lo in range(n_dirs) for i in range(20)
        if i != 3 and i != 13}
    # match-free dirs untouched: none here (every dir matched), so all
    # original dirs were replaced by ONE rewrite dir
    assert len(t.snapshot_dirs()) == 1
    # scattered update through the CDF path (changes still captured)
    t2 = TxnTable(str(tmp_path / "t2"))
    for lo in range(n_dirs):
        t2.append(_df(spark, [(lo * 100 + i, f"v{lo * 100 + i}")
                              for i in range(20)]))
    keep_dir = t2.snapshot_dirs()[0]  # ids 0..19: no match below
    t2.update_where(spark, "id % 100 = 5 AND id >= 100", {"val": "'hot'"})
    got = {(r["id"], r["val"]) for r in t2.read(spark).collect()}
    assert (105, "hot") in got and (5, "v5") in got
    assert keep_dir in t2.snapshot_dirs()  # match-free dir untouched
    ch = t2.read_changes(spark, since_version=n_dirs - 1)
    assert ch.filter("_change_type = 'update_postimage'").count() \
        == n_dirs - 1
    # no-match scattered delete on the prepass path: no commit
    v = t2.latest_version()
    assert t2.delete_where(spark, "id = 999999",
                           capture_changes=False) == v
    del live_before


# --- additive schema evolution (r10, VERDICT r9 #5) -----------------------


def _evo_table(spark, tmp_path, name="evo"):
    from pyspark.sql import functions as F

    t = TxnTable(str(tmp_path / name))
    base = spark.range(0, 20).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"))
    t.overwrite(base)                                    # v0
    evolved = spark.range(20, 30).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
        F.concat(F.lit("L"), (F.col("id") % 3).cast("string"))
        .alias("lang"))
    t.append(evolved, merge_schema=True)                 # v1: +lang
    return t


def test_schema_evolution_append_typed_nulls(spark, tmp_path):
    """mergeSchema append: old dirs read with a typed NULL for the new
    column (no rewrite — v0's add dirs unchanged), the log-recorded
    schema is version-aware, and the pre-boundary time travel keeps
    the pre-evolution column set."""
    t = _evo_table(spark, tmp_path)
    snap = t.read(spark)
    assert snap.columns == ["k", "v", "lang"]
    assert snap.schema["lang"].dataType.simpleString() == "string"
    assert snap.filter("k < 20 AND lang IS NULL").count() == 20
    assert snap.filter("k >= 20 AND lang IS NOT NULL").count() == 10
    assert t.read(spark, version=0).columns == ["k", "v"]
    assert [f.name for f in t.table_schema(0).fields] == ["k", "v"]
    assert [f.name for f in t.table_schema(1).fields] == ["k", "v",
                                                          "lang"]
    # v0's data dirs were not rewritten by the evolution
    assert set(t._doc(0)["adds"]) <= set(t.snapshot_dirs())  # noqa: SLF001


def test_automerge_merge_evolves_and_upserts(spark, tmp_path):
    """autoMerge MERGE: a source with a brand-new column evolves the
    schema; matched rows take the source row WHOLESALE (NULL where the
    source lacks a column — full-row upsert), unmatched rows keep
    their values with typed NULLs in the new column."""
    from pyspark.sql import functions as F

    t = _evo_table(spark, tmp_path)
    ups = spark.range(5, 25, 5).select(  # keys 5,10,15,20 — 20 has lang
        F.col("id").cast("int").alias("k"),
        F.lit(999).cast("long").alias("v"),
        F.lit(1.5).alias("score"))
    t.merge(spark, ups, "k", auto_merge=True)            # v2: +score
    snap = t.read(spark)
    assert snap.columns == ["k", "v", "lang", "score"]
    up = {r["k"]: r for r in snap.filter("k IN (5, 20)").collect()}
    assert up[5]["v"] == 999 and up[5]["score"] == 1.5
    # full-row upsert: 20's lang came from the SOURCE (which lacks it)
    assert up[20]["lang"] is None and up[20]["score"] == 1.5
    keep = snap.filter("k = 21").first()
    assert keep["lang"] == "L0" and keep["score"] is None
    # without the flag the extra source column is dropped, not evolved
    t2 = _evo_table(spark, tmp_path, "evo2")
    t2.merge(spark, ups.withColumn("lang", F.lit("x")), "k")
    assert t2.read(spark).columns == ["k", "v", "lang"]


def test_evolution_cdf_across_boundary(spark, tmp_path):
    """ONE change-feed read spanning the evolution boundary: rows from
    pre-evolution commits null-fill the evolved column (the snapshot's
    typed-NULL view), post-boundary change rows carry it."""
    from pyspark.sql import functions as F

    t = _evo_table(spark, tmp_path)
    ch = t.read_changes(spark, since_version=0)  # v1 only (append)
    assert "lang" in ch.columns
    t.delete_where(spark, "k % 7 = 0", capture_changes=True)  # v2
    ch = t.read_changes(spark, since_version=0)
    assert ch.filter("_commit_version = 1").count() == 10
    dels = ch.filter("_change_type = 'delete'")
    assert dels.count() == 5  # k in 0,7,14,21,28
    assert dels.filter("k = 21").first()["lang"] == "L0"
    assert dels.filter("k = 7").first()["lang"] is None


def test_evolution_dv_interaction(spark, tmp_path):
    """DV deletes against a schema-evolved table: position sidecars on
    BOTH pre- and post-boundary dirs, snapshot read anti-joins them out
    under the log-recorded merged schema, and a later autoMerge MERGE
    (which rewrites) folds the DVs away without resurrecting rows."""
    from pyspark.sql import functions as F

    t = _evo_table(spark, tmp_path)
    t.delete_where(spark, "k % 5 = 0", use_dv=True,
                   capture_changes=False)                # v2: DV only
    doc = t._doc(2)  # noqa: SLF001
    assert doc.get("dvs") and not doc["adds"] and not doc["removes"]
    snap = t.read(spark)
    assert snap.filter("k % 5 = 0").count() == 0
    assert snap.count() == 24
    assert snap.filter("lang IS NOT NULL").count() == 8  # 20,25 gone

    ups = spark.range(3, 4).select(
        F.col("id").cast("int").alias("k"),
        F.lit(0).cast("long").alias("v"),
        F.lit(2.5).alias("score"))
    t.merge(spark, ups, "k", auto_merge=True)            # v3: rewrite
    snap = t.read(spark)
    assert snap.columns == ["k", "v", "lang", "score"]
    assert snap.filter("k % 5 = 0").count() == 0  # DVs not resurrected
    assert snap.count() == 24
    assert snap.filter("k = 3").first()["score"] == 2.5


def test_reads_evolved_table(spark, tmp_path):
    """A snapshot read of an additively-evolved table declares the
    LOG-RECORDED union schema (not the newest file's), null-fills
    columns a pre-evolution file lacks, and a frame that legitimately
    omits an evolved column (mergeSchema append) reads back
    null-filled too."""
    from pyspark.sql import functions as F

    t = _evo_table(spark, tmp_path, "ds_evo")
    # newest append legitimately OMITS the evolved column — a
    # newest-file schema would under-declare and make older files'
    # lang column look like a mid-plan evolution
    t.append(spark.range(30, 35).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("long").alias("v")),
        merge_schema=True)
    df = t.read(spark)
    assert sorted(df.columns) == ["k", "lang", "v"]
    assert df.count() == 35
    assert df.filter("k < 20 AND lang IS NULL").count() == 20
    assert df.filter("k >= 30 AND lang IS NULL").count() == 5
    assert df.filter("lang IS NOT NULL").count() == 10
    # time travel stays pre-evolution
    v0 = t.read(spark, version=0)
    assert sorted(v0.columns) == ["k", "v"]


def test_stream_evolution_and_restart(spark, tmp_path, feed_to_parquet):
    """An evolution landing between two batches of the change feed:
    each batch plans its read when it runs, so the same checkpoint
    continues with the evolved schema (only the delta — the pinned
    version already covers v0), and a fresh checkpoint reads the whole
    history with typed-NULL backfill."""
    from pyspark.sql import functions as F

    t = TxnTable(str(tmp_path / "s_evo"))
    t.overwrite(spark.range(0, 10).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("long").alias("v")))
    out1, ck = str(tmp_path / "out1"), str(tmp_path / "ck")
    feed_to_parquet(t.path, out1, ck)
    assert spark.read.parquet(out1).count() == 10

    # evolution lands after the first batch
    t.append(spark.range(10, 15).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
        F.lit("fr").alias("lang")), merge_schema=True)

    out_next = str(tmp_path / "out_next")
    feed_to_parquet(t.path, out_next, ck)
    nxt = spark.read.parquet(out_next)
    assert sorted(nxt.columns) == ["k", "lang", "v"]
    assert nxt.count() == 5

    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    feed_to_parquet(t.path, out2, ck2)
    got = spark.read.parquet(out2)
    assert sorted(got.columns) == ["k", "lang", "v"]
    assert got.count() == 15
    assert got.filter("k < 10 AND lang IS NULL").count() == 10


def test_cdf_stream_across_evolution_boundary(spark, tmp_path,
                                              feed_to_parquet):
    """The change feed spanning an additive evolution: a stream started
    AFTER the evolution reads the whole feed — pre-boundary insert
    commits null-fill the evolved column, post-boundary MERGE change
    files carry it — and every row keeps its
    _change_type/_commit_version tags."""
    from pyspark.sql import functions as F

    t = TxnTable(str(tmp_path / "cdf_evo"))
    t.overwrite(spark.range(0, 10).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("long").alias("v")))
    t.append(spark.range(10, 14).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
        F.lit("fr").alias("lang")), merge_schema=True)      # v1
    t.merge(spark, spark.range(3, 5).select(
        F.col("id").cast("int").alias("k"),
        F.lit(999).cast("long").alias("v"),
        F.lit("en").alias("lang")), "k", auto_merge=False)  # v2

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    feed_to_parquet(t.path, out, ck, cdf=True)
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["_change_type", "_commit_version",
                                   "k", "lang", "v"]
    # v0 overwrite + v1 append stream as inserts; v1's rows carry lang
    assert got.filter("_commit_version = 0 AND lang IS NOT NULL"
                      ).count() == 0
    assert got.filter("_commit_version = 1").count() == 4
    assert got.filter("_commit_version = 1 AND lang = 'fr'").count() == 4
    # v2 merge streams its change files (pre/post images + inserts)
    posts = got.filter("_commit_version = 2 AND "
                       "_change_type = 'update_postimage'")
    assert posts.count() == 2
    assert posts.filter("lang = 'en'").count() == 2


def test_merge_schema_rejects_type_changes(spark, tmp_path):
    """Evolution admits NEW columns and (since r11) the SAFE-widening
    lattice only: a merge_schema append whose shared column carries an
    OFF-LATTICE type (here double vs a bigint table — lossy past 2^53
    in either direction) is rejected at write time (it would commit
    fine and then brick every snapshot read at the parquet schema
    merge — fail-at-read corruption), and an autoMerge MERGE source's
    off-lattice shared columns are cast to the table types instead of
    smuggling a type change through. tests/test_type_widening.py pins
    the admitted lattice."""
    import pytest
    from pyspark.sql import functions as F

    t = _evo_table(spark, tmp_path, "widen")
    with pytest.raises(ValueError, match="not these changes"):
        t.append(spark.range(0, 3).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("double").alias("v")),  # v is long
            merge_schema=True)
    assert t.read(spark).count() == 30  # nothing committed

    t.merge(spark, spark.range(2, 3).select(
        F.col("id").cast("int").alias("k"),
        F.lit(7.9).alias("v"),              # double source, long table
        F.lit(True).alias("flag")), "k", auto_merge=True)
    snap = t.read(spark)
    assert dict(snap.dtypes)["v"] == "bigint"  # cast, not widened
    assert snap.filter("k = 2").first()["v"] == 7  # cast semantics
    assert snap.schema["flag"].dataType.simpleString() == "boolean"


def test_symlink_manifest_reads_evolved_table_externally(spark,
                                                         tmp_path):
    """Interop across additive evolution: the symlink manifest of an
    evolved snapshot is readable by an external engine (DuckDB) with
    union_by_name — pre-evolution files null-fill the new column —
    and the external view matches the engine's own snapshot read
    row for row."""
    import duckdb

    t = _evo_table(spark, tmp_path, "man_evo")
    man = t.generate_symlink_manifest()
    files = [ln for ln in open(man).read().splitlines() if ln]
    con = duckdb.connect()
    ext = con.execute(
        "SELECT k, v, lang FROM read_parquet($f, union_by_name=true) "
        "ORDER BY k", {"f": files}).fetchall()
    own = [(r["k"], r["v"], r["lang"])
           for r in t.read(spark).orderBy("k").collect()]
    assert ext == own and len(ext) == 30
    assert sum(1 for _, _, lang in ext if lang is None) == 20
    con.close()


def test_merge_clauses_cdc_apply(spark, tmp_path):
    """r11: the full MERGE clause surface — WHEN MATCHED AND deleted
    THEN DELETE (CDC apply), conditional NOT-MATCHED insert (a
    tombstone for an unseen key inserts nothing), and the delete
    pre-images in the change feed."""
    from pyspark.sql import functions as F

    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, val string"))
    src = spark.createDataFrame(
        [(2, "B", False),     # matched, update
         (3, None, True),     # matched, tombstone -> delete
         (4, "d", False),     # unmatched, insert
         (5, None, True)],    # unmatched tombstone -> NO insert
        "id int, val string, __deleted boolean")
    t.merge(spark, src, "id", matched_delete="__deleted",
            insert="NOT __deleted")
    got = {(r["id"], r["val"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (4, "d")}
    ch = t.read_changes(spark, since_version=0)
    rows = {(r["id"], r["val"], r["_change_type"])
            for r in ch.collect()}
    assert rows == {(4, "d", "insert"),
                    (2, "b", "update_preimage"),
                    (2, "B", "update_postimage"),
                    (3, "c", "delete")}
    # time travel below the clause merge is intact
    assert t.read(spark, version=0).count() == 3


def test_merge_clauses_retention_sweep(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE: a sync against the
    source of truth removes target rows the source no longer carries
    (condition over TARGET columns scopes the sweep)."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "keep-old"), (2, "b"), (3, "sweep-old"), (4, "d")],
        "id int, val string"))
    src = spark.createDataFrame([(2, "B")], "id int, val string")
    t.merge(spark, src, "id",
            not_matched_by_source_delete="id % 2 = 1")
    got = {(r["id"], r["val"]) for r in t.read(spark).collect()}
    # 1 and 3 are target-only AND odd -> swept; 4 target-only even ->
    # kept; 2 updated
    assert got == {(2, "B"), (4, "d")}
    ch = t.read_changes(spark, since_version=0)
    dels = {r["id"] for r in ch.filter("_change_type = 'delete'")
            .collect()}
    assert dels == {1, 3}


def test_merge_clauses_on_mapped_table(spark, tmp_path):
    """Clause merges compose with column mapping: conditions use the
    LOGICAL names, the rewrite lands under physical ones."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, val string"))
    t.rename_column("val", "name")
    src = spark.createDataFrame(
        [(1, None, True), (3, "c", False)],
        "id int, name string, __deleted boolean")
    t.merge(spark, src, "id", matched_delete="__deleted",
            insert="NOT __deleted")
    got = {(r["id"], r["name"]) for r in t.read(spark).collect()}
    assert got == {(2, "b"), (3, "c")}
    ch = t.read_changes(spark, since_version=1)
    assert {(r["id"], r["_change_type"]) for r in ch.collect()} == {
        (3, "insert"), (1, "delete")}


def test_stream_cdc_apply_with_tombstones(spark, tmp_path):
    """r11: streaming CDC APPLY — the merge sink routes a feed carrying
    tombstones through the clause surface: matched tombstones delete,
    updates upsert, tombstones for unseen keys insert nothing, all in
    one atomic commit per batch; a restart on the same checkpoint
    changes nothing (exactly-once)."""
    from pyspark.sql import functions as F

    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "a", 0.0), (2, "b", 0.0), (3, "c", 0.0)],
        "id int, val string, ts double"))
    # the CDC feed: two parquet files = two micro-batches
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(2, "B", 1.0, False),      # update
         (3, None, 1.0, True)],     # tombstone -> delete
        "id int, val string, ts double, __deleted boolean"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(4, "d", 2.0, False),      # insert
         (5, None, 2.0, True),      # tombstone for unseen key -> noop
         (2, "B2", 2.0, False)],    # second update of 2
        "id int, val string, ts double, __deleted boolean"
    ).coalesce(1).write.mode("append").parquet(src)
    feed = (spark.readStream.schema(
        "id int, val string, ts double, __deleted boolean")
        .option("maxFilesPerTrigger", 1).parquet(src))
    q = P.write_stream_merge_txn(
        feed, t.path, str(tmp_path / "ck"), key="id", order_col="ts",
        matched_delete="__deleted", insert="NOT __deleted")
    q.awaitTermination(120)
    q.stop()
    got = {(r["id"], r["val"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "B2"), (4, "d")}
    v = t.latest_version()
    # restart on the same checkpoint: nothing re-applies
    q2 = P.write_stream_merge_txn(
        (spark.readStream.schema(
            "id int, val string, ts double, __deleted boolean")
         .option("maxFilesPerTrigger", 1).parquet(src)),
        t.path, str(tmp_path / "ck"), key="id", order_col="ts",
        matched_delete="__deleted", insert="NOT __deleted")
    q2.awaitTermination(120)
    q2.stop()
    assert t.latest_version() == v
    assert {(r["id"], r["val"]) for r in t.read(spark).collect()} == got
    # the change feed recorded the delete pre-image
    ch = t.read_changes(spark, since_version=0)
    assert (3, "delete") in {(r["id"], r["_change_type"])
                             for r in ch.collect()}
    # a key updated THEN tombstoned within one batch deletes (last
    # event per key wins before the clause routing)
    t2 = TxnTable(str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(9, "z", 0.0)],
                                    "id int, val string, ts double"))
    batch = spark.createDataFrame(
        [(9, "z2", 1.0, False), (9, None, 2.0, True)],
        "id int, val string, ts double, __deleted boolean")
    latest = (batch.withColumn("__rn", F.row_number().over(
        __import__("pyspark.sql.window", fromlist=["Window"])
        .Window.partitionBy("id").orderBy(F.desc("ts"))))
        .filter("__rn = 1").drop("__rn"))
    t2.merge(spark, latest, "id", matched_delete="__deleted",
             insert="NOT __deleted")
    assert t2.read(spark).count() == 0
