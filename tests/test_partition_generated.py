"""Generated columns as partition keys (r12, Delta's
partition-by-generated): a declared generated key gives every write
the canonical ``col=value`` layout — the date-partitioned shape the
100 TB posture wants vs the reference's unpartitioned writes
(airflow/config/read_delta.py:219-222) — with metadata-only partition
pruning on reads, and composes with DVs, clone, merge and time
travel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)


def _orders(spark, n=200):
    return (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
            .select("o_orderkey", "o_custkey", "o_totalprice",
                    "o_orderdate")
            .orderBy("o_orderkey").limit(n))


def _ptable(tmp_path, name="p"):
    t = TxnTable(str(tmp_path / name))
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    return t


def test_append_lays_out_generated_partitions(spark, tmp_path):
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o.limit(120))
    t.append(o.offset(120))
    # every live dir is a col=value subdir of the generated key
    dirs = t.snapshot_dirs()
    assert dirs and all("order_month=" in d for d in dirs)
    s = t.read(spark)
    assert s.count() == 200
    # the generated value holds on every row (partition col round-trips
    # through the path)
    assert s.filter(F.expr(
        "CAST(order_month AS STRING) != "
        "DATE_FORMAT(o_orderdate, 'yyyy-MM')")).count() == 0
    # a frame PROVIDING the generated key is rejected (strict ALWAYS)
    with pytest.raises(ValueError, match="GENERATED"):
        t.append(o.limit(3).withColumn("order_month", F.lit("x")))


def test_read_partitions_where_prunes_metadata_only(spark, tmp_path):
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    months = sorted(r[0] for r in t.read(spark)
                    .select(F.col("order_month").cast("string"))
                    .distinct().collect())
    assert len(months) > 2
    cut = months[len(months) // 2]
    pruned = t.read_partitions_where(
        spark, f"order_month >= '{cut}'")
    want = t.read(spark).filter(
        F.col("order_month").cast("string") >= cut)
    assert pruned.count() == want.count() > 0
    # METADATA pruning: the planned files all come from matching
    # partitions — non-matching partitions contribute zero scan I/O
    files = pruned.inputFiles()
    assert files
    assert all(any(f"order_month={m}" in f for m in months
                   if m >= cut) for f in files)
    assert not any(f"order_month={m}" in f for m in months
                   if m < cut for f in files)
    # an empty survivor set is an empty frame, same schema, no raise
    none = t.read_partitions_where(spark, "order_month >= '9999-99'")
    assert none.count() == 0
    assert set(none.columns) == set(t.read(spark).columns)


def test_overwrite_partitions_through_generation(spark, tmp_path):
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    months = sorted(r[0] for r in t.read(spark)
                    .select(F.col("order_month").cast("string"))
                    .distinct().collect())
    target = months[0]
    # the daily-batch shape: rewrite ONE partition's rows (price bump),
    # every other partition's files untouched
    before = {d for d in t.snapshot_dirs()
              if f"order_month={target}" not in d}
    batch = (o.filter(F.expr(
        f"DATE_FORMAT(o_orderdate, 'yyyy-MM') = '{target}'"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    t.overwrite_partitions(batch, "order_month")
    after = set(t.snapshot_dirs())
    assert before <= after  # untouched partitions kept their files
    s = t.read(spark)
    assert s.count() == 200
    got = (s.filter(F.col("order_month").cast("string") == target)
           .agg(F.sum("o_totalprice")).first()[0])
    want = (o.filter(F.expr(
        f"DATE_FORMAT(o_orderdate, 'yyyy-MM') = '{target}'"))
        .agg(F.sum("o_totalprice") * 2).first()[0])
    assert abs(got - want) < 1e-6
    # the undeclared-key call still refuses
    with pytest.raises(ValueError, match="set_partition_column"):
        t.overwrite_partitions(batch.drop("order_month"), "o_custkey")


def test_declaration_guards(spark, tmp_path):
    o = _orders(spark, 20)
    # identity and partition_by COMPOSE (r13, lifting the r12
    # exclusion) — but the identity column itself can never be a
    # partition key (unique per row = one subdir per row)
    t1 = TxnTable(str(tmp_path / "i"))
    t1.set_identity_column("rid")
    t1.set_partition_column("o_custkey")  # no longer refuses
    with pytest.raises(ValueError, match="identity"):
        t1.set_partition_column("rid")
    t2 = TxnTable(str(tmp_path / "j"))
    t2.set_partition_column("o_custkey")
    t2.set_identity_column("rid")  # no longer refuses
    with pytest.raises(ValueError, match="partition key"):
        t2.set_identity_column("o_custkey")
    # declaring over a live unpartitioned layout refuses (mixed layout)
    t3 = TxnTable(str(tmp_path / "k"))
    t3.append(o)
    with pytest.raises(ValueError, match="unpartitioned"):
        t3.set_partition_column("o_custkey")
    # the partition key's generation cannot be dropped out from under
    # the layout
    t4 = _ptable(tmp_path, "l")
    with pytest.raises(ValueError, match="partition key"):
        t4.drop_generated_column("order_month")


def test_dv_delete_and_time_travel_on_generated_partitions(
        spark, tmp_path):
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    v0 = t.latest_version()
    # partitioned DVs (r11) compose: a needle delete rides the position
    # file, no partition rewrite
    live0 = set(t.snapshot_dirs())
    n_gone = o.filter("o_orderkey <= 5").count()
    assert n_gone > 0
    t.delete_where(spark, "o_orderkey <= 5", use_dv=True)
    assert set(t.snapshot_dirs()) == live0
    s = t.read(spark)
    assert s.count() == 200 - n_gone
    assert s.filter("o_orderkey <= 5").count() == 0
    # pruned reads respect the DV mask too
    months = sorted(r[0] for r in s.select(
        F.col("order_month").cast("string")).distinct().collect())
    pruned = t.read_partitions_where(
        spark, f"order_month >= '{months[0]}'")
    assert pruned.filter("o_orderkey <= 5").count() == 0
    # time travel to the pre-delete snapshot still sees every row
    assert t.read(spark, version=v0).count() == 200


def test_clone_carries_generated_partition_layout(spark, tmp_path):
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    c = t.clone(str(tmp_path / "c"))
    # the clone prunes exactly like the source and keeps generating on
    # new appends
    assert all("order_month=" in d for d in c.snapshot_dirs())
    assert c.generation_config()["partition_by"] == "order_month"
    extra = _orders(spark, 210).offset(200)
    c.append(extra)
    assert c.read(spark).count() == 210
    assert t.read(spark).count() == 200  # source untouched
    assert c.read(spark).filter(F.expr(
        "CAST(order_month AS STRING) != "
        "DATE_FORMAT(o_orderdate, 'yyyy-MM')")).count() == 0


def test_merge_preserves_generated_partition_layout(spark, tmp_path):
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o.limit(150))
    ups = (o.offset(140)  # 10 updates + 50 inserts
           .withColumn("o_totalprice", F.col("o_totalprice") + 1))
    t.merge(spark, ups, "o_orderkey")
    s = t.read(spark)
    assert s.count() == 200
    assert all("order_month=" in d for d in t.snapshot_dirs())
    # generated key recomputed for merged rows as well
    assert s.filter(F.expr(
        "CAST(order_month AS STRING) != "
        "DATE_FORMAT(o_orderdate, 'yyyy-MM')")).count() == 0
    # updated rows carry the merged price
    k = ups.select(F.min("o_orderkey")).first()[0]
    assert (s.filter(F.col("o_orderkey") == k).first()["o_totalprice"]
            == o.filter(F.col("o_orderkey") == k)
            .first()["o_totalprice"] + 1)


def test_overwrite_respects_declared_partitioning(spark, tmp_path):
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o.limit(50))
    t.overwrite(o)  # full replace, still partition-granular
    assert t.read(spark).count() == 200
    assert all("order_month=" in d for d in t.snapshot_dirs())


def test_partitioned_delete_where_meta_only_purge(spark, tmp_path):
    """A partition-key-only predicate deletes WHOLE partitions with no
    rewrite (pure metadata with the change feed off) — the retention
    purge on the generated date layout; the change-feed variant still
    carries the dropped rows as delete change rows."""
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    months = sorted(r[0] for r in t.read(spark)
                    .select(F.col("order_month").cast("string"))
                    .distinct().collect())
    cut = months[2]
    keep_dirs = {d for d in t.snapshot_dirs()
                 if d.split("order_month=")[1] >= cut}
    n_gone = o.filter(F.expr(
        f"DATE_FORMAT(o_orderdate, 'yyyy-MM') < '{cut}'")).count()
    assert n_gone > 0
    v = t.delete_where(spark, f"order_month < '{cut}'")
    s = t.read(spark)
    assert s.count() == 200 - n_gone
    # surviving partitions kept their PHYSICAL files (no rewrite)
    assert set(t.snapshot_dirs()) == keep_dirs
    # the change feed carries the purge
    ch = t.read_changes(spark, since_version=v - 1)
    assert (ch.filter("_change_type = 'delete'").count() == n_gone)
    # feed off: zero change files, same drop semantics
    t2 = _ptable(tmp_path, "q")
    t2.append(o)
    t2.delete_where(spark, f"order_month < '{cut}'",
                    capture_changes=False)
    assert t2.read(spark).count() == 200 - n_gone


def test_partitioned_delete_where_row_predicate(spark, tmp_path):
    """A data-column predicate sizes by one column-pruned scan, then
    rewrites ONLY the partitions holding matches."""
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    med = o.approxQuantile("o_totalprice", [0.9], 0.0)[0]
    hot_months = {r[0] for r in o.filter(F.col("o_totalprice") > med)
                  .select(F.date_format("o_orderdate", "yyyy-MM"))
                  .distinct().collect()}
    cold_dirs = {d for d in t.snapshot_dirs()
                 if d.split("order_month=")[1] not in hot_months}
    n_gone = o.filter(F.col("o_totalprice") > med).count()
    t.delete_where(spark, f"o_totalprice > {med}")
    s = t.read(spark)
    assert s.count() == 200 - n_gone
    assert s.filter(f"o_totalprice > {med}").count() == 0
    assert cold_dirs <= set(t.snapshot_dirs())  # cold files untouched


def test_partitioned_update_where_recomputes_and_migrates(spark,
                                                          tmp_path):
    """UPDATE on a partitioned layout: SETting the column the
    generated partition key READS recomputes the key and MIGRATES the
    row to its new col=value subdir in the same commit."""
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    # push every matched order 31 days forward: order_month recomputes
    t.update_where(
        spark, "o_orderkey % 5 = 0",
        {"o_orderdate": "o_orderdate + INTERVAL 31 DAYS"})
    s = t.read(spark)
    assert s.count() == 200
    # the generation invariant holds for EVERY row post-migration, and
    # the partition path agrees with the recomputed key
    assert s.filter(F.expr(
        "CAST(order_month AS STRING) != "
        "DATE_FORMAT(o_orderdate, 'yyyy-MM')")).count() == 0
    moved = s.filter("o_orderkey % 5 = 0")
    want = o.filter("o_orderkey % 5 = 0").select(
        "o_orderkey",
        F.date_format(F.expr("o_orderdate + INTERVAL 31 DAYS"),
                      "yyyy-MM").alias("m"))
    got = moved.select("o_orderkey",
                       F.col("order_month").cast("string").alias("m"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # untouched rows unchanged
    assert (s.filter("o_orderkey % 5 != 0")
            .select("o_orderkey", "o_totalprice").exceptAll(
                o.filter("o_orderkey % 5 != 0")
                .select("o_orderkey", "o_totalprice")).count() == 0)


def test_partitioned_update_where_cold_partitions_untouched(spark,
                                                            tmp_path):
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    months = sorted(r[0] for r in t.read(spark)
                    .select(F.col("order_month").cast("string"))
                    .distinct().collect())
    target = months[0]
    cold = {d for d in t.snapshot_dirs()
            if f"order_month={target}" not in d}
    v = t.update_where(spark, f"order_month = '{target}'",
                       {"o_totalprice": "o_totalprice * 2"})
    assert cold <= set(t.snapshot_dirs())
    got = (t.read(spark)
           .filter(F.col("order_month").cast("string") == target)
           .agg(F.sum("o_totalprice")).first()[0])
    want = (o.filter(F.expr(
        f"DATE_FORMAT(o_orderdate, 'yyyy-MM') = '{target}'"))
        .agg(F.sum("o_totalprice") * 2).first()[0])
    assert abs(got - want) < 1e-6
    # postimages carry the recomputed values through the feed
    ch = t.read_changes(spark, since_version=v - 1)
    assert ch.filter("_change_type = 'update_postimage'").count() > 0


def test_partition_prune_bounds_sizing_scan(spark, tmp_path):
    """partition_prune (the partitioned analog of footer-stats prune)
    bounds the data-predicate sizing scan to its surviving partitions
    — same result, and a prune that excludes every matching partition
    makes the op a no-op (snapshot semantics: it only visits what the
    prune admits)."""
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    months = sorted(r[0] for r in t.read(spark)
                    .select(F.col("order_month").cast("string"))
                    .distinct().collect())
    target = months[1]
    in_target = o.filter(F.expr(
        f"DATE_FORMAT(o_orderdate, 'yyyy-MM') = '{target}'"))
    key = in_target.select(F.min("o_orderkey")).first()[0]
    v0 = t.latest_version()
    # scoped: the sizing scan reads ONLY the pruned partition
    t.delete_where(spark, f"o_orderkey = {key}",
                   partition_prune=f"order_month = '{target}'")
    assert t.read(spark).filter(f"o_orderkey = {key}").count() == 0
    assert t.read(spark).count() == 200 - 1
    # a prune that excludes the matching partition -> no-op commit-less
    v1 = t.latest_version()
    assert t.delete_where(
        spark, "o_totalprice < 1e18",
        partition_prune="order_month = '0000-00'") == v1
    assert t.latest_version() == v1
    # update with the same scoping
    t.update_where(spark, "o_orderkey % 2 = 0",
                   {"o_custkey": "-1"},
                   partition_prune=f"order_month = '{target}'")
    s = t.read(spark)
    zeroed = s.filter("o_custkey = -1")
    # only rows inside the pruned partition were visited
    assert zeroed.count() == (in_target.filter("o_orderkey % 2 = 0")
                              .filter(f"o_orderkey != {key}").count())
    assert zeroed.filter(
        F.col("order_month").cast("string") != target).count() == 0
    assert t.latest_version() > v0


def test_footer_stats_prune_composes_with_partitions(spark, tmp_path):
    """prune=(col, lo, hi) on a partition-granular table narrows the
    candidates to the SUBDIRS whose footer stats overlap — a hot value
    spanning several commit subdirs only rewrites the ones that can
    contain matching rows; the other subdirs keep their physical
    files."""
    o = _orders(spark)
    t = _ptable(tmp_path)
    # two appends -> each month value spans TWO commit subdirs with
    # disjoint o_orderkey ranges (orders come key-ordered)
    t.append(o.limit(100))
    t.append(o.offset(100))
    keys = sorted(r[0] for r in o.select("o_orderkey").collect())
    lo_hi = keys[99]  # first commit's max key
    # a key in the FIRST commit only, with the matching stats bound
    target_key = keys[10]
    before = set(t.snapshot_dirs())
    t.delete_where(spark, f"o_orderkey = {target_key}",
                   prune=("o_orderkey", target_key, target_key))
    after = set(t.snapshot_dirs())
    assert t.read(spark).filter(
        f"o_orderkey = {target_key}").count() == 0
    assert t.read(spark).count() == 199
    # every SECOND-commit subdir survived untouched (their stats ranges
    # start past the first commit's max key)
    second_commit = set(t._doc(1)["adds"]) & before  # noqa: SLF001
    assert second_commit and second_commit <= after
    # and the same with partition_prune composed on top
    k2 = keys[150]  # second commit
    t.update_where(spark, f"o_orderkey = {k2}", {"o_custkey": "-7"},
                   prune=("o_orderkey", k2, k2))
    assert t.read(spark).filter("o_custkey = -7").count() == 1


def test_read_base_range_infers_partition_bounds(spark, tmp_path):
    """Delta's generated-column partition filter inference: filtering
    on the BASE timestamp prunes to the generated key's range
    metadata-only, with the exact residual filter on top — and equals
    the unpruned read bit for bit."""
    import datetime as dt

    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    assert t.generated_base_column() == (
        "o_orderdate", "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    dates = sorted(r[0] for r in o.select("o_orderdate").collect())
    lo, hi = dates[50], dates[150]
    got = t.read_base_range(spark, "o_orderdate", lo, hi)
    want = t.read(spark).filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") <= hi))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    # pruning is real: months outside [T(lo), T(hi)] contribute no files
    lo_m, hi_m = (d.strftime("%Y-%m") for d in (lo, hi))
    for f in got.inputFiles():
        seg = [s for s in f.split("/") if s.startswith("order_month=")]
        assert seg and lo_m <= seg[0].split("=", 1)[1] <= hi_m
    # endpoints given as date objects work the same
    got2 = t.read_base_range(spark, "o_orderdate",
                             dt.date(1999, 1, 1), dt.date(1999, 12, 31))
    want2 = t.read(spark).filter(
        "o_orderdate >= DATE'1999-01-01' AND "
        "o_orderdate <= DATE'1999-12-31'")
    assert got2.count() == want2.count() > 0
    # a non-whitelisted key (or wrong base column) falls back, still exact
    fb = t.read_base_range(spark, "o_totalprice", 0.0, 1000.0)
    assert fb.count() == o.filter(
        "o_totalprice >= 0 AND o_totalprice <= 1000").count()


def test_streaming_ingest_into_generated_partitions(spark, tmp_path):
    """The JVM foreachBatch txn append sink routes a partition-declared
    target through append(): streaming ingest lands as col=value
    subdirs (the date-partitioned ingest shape), exactly-once across a
    checkpoint restart — and a raw plain-dir commit on such a table is
    refused at commit time instead of corrupting the layout."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.pipeline import (
        write_stream_txn_append,
    )

    o = _orders(spark)
    src = str(tmp_path / "src")
    for i in range(3):
        (o.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == i)
         .coalesce(1).write.mode("append").parquet(src))
    target, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    t = TxnTable(target)
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    schema = ("o_orderkey bigint, o_custkey bigint, "
              "o_totalprice double, o_orderdate timestamp_ntz")
    q = write_stream_txn_append(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        target, ck, app_id="pgen")
    q.awaitTermination(120)
    s = t.read(spark)
    assert s.count() == 200
    assert all("order_month=" in d for d in t.snapshot_dirs())
    assert s.filter(F.expr(
        "CAST(order_month AS STRING) != "
        "DATE_FORMAT(o_orderdate, 'yyyy-MM')")).count() == 0
    # restart on the same checkpoint: exactly-once, no re-ingest
    q2 = write_stream_txn_append(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        target, ck, app_id="pgen")
    q2.awaitTermination(120)
    assert t.read(spark).count() == 200
    # the raw plain-dir path is refused at commit time
    rel = t._write_data(o.limit(1))  # noqa: SLF001
    with pytest.raises(ValueError, match="partition-declared"):
        t.commit([rel], [])


def test_meta_only_purge_runs_bounded_metadata_jobs(spark, tmp_path):
    """The retention-purge scale claim as a JOB-COUNT pin: a
    partition-key-only DELETE with the change feed off runs at most
    THREE Spark jobs, all metadata-bounded — one parquet-footer read
    resolving the partition key's inferred type from ONE subdir, the
    try_cast validation over the LOCAL partition-values frame, and the
    predicate evaluating over that same frame (createDataFrame of the
    live values, bounded by partition count). Zero table-data rows
    move; the commit is pure metadata. At 100 TB this is the
    difference between dropping a year of partitions in milliseconds
    and a cluster-wide rewrite."""
    o = _orders(spark)
    t = _ptable(tmp_path)
    t.append(o)
    months = sorted(r[0] for r in t.read(spark)
                    .select(F.col("order_month").cast("string"))
                    .distinct().collect())
    cut = months[2]
    sc = spark.sparkContext
    sc.setJobGroup("purge", "meta-only purge job count")
    try:
        t.delete_where(spark, f"order_month < '{cut}'",
                       capture_changes=False)
    finally:
        sc.setJobGroup(None, None)
    njobs = len(sc.statusTracker().getJobIdsForGroup("purge"))
    assert njobs <= 3, f"meta-only purge ran {njobs} Spark job(s)"
    assert t.read(spark).filter(
        F.col("order_month").cast("string") < cut).count() == 0


def test_timestamp_partition_key_escaped_segments(spark, tmp_path):
    """Review r12: a DATE_TRUNC(month, ts) generated key writes
    Hive-ESCAPED path segments (ts=1999-06-01 00%3A00%3A00); the typed
    values frame must round-trip them — partitioned delete/update on a
    data predicate, key-predicate reads, and read_base_range all work
    and equal their unpruned twins."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "ts"))
    t.set_generated_column("month_ts",
                           "DATE_TRUNC('month', o_orderdate)")
    t.set_partition_column("month_ts")
    t.append(o)
    assert any("%3A" in d for d in t.snapshot_dirs())  # escaped colons
    # data-predicate delete: sizing scan + typed match-back
    k = o.select(F.min("o_orderkey")).first()[0]
    t.delete_where(spark, f"o_orderkey = {k}")
    assert t.read(spark).count() == 199
    assert t.read(spark).filter(f"o_orderkey = {k}").count() == 0
    # key-predicate read through the escaped values
    cut = "1999-01-01 00:00:00"
    got = t.read_partitions_where(spark, f"month_ts >= '{cut}'")
    want = t.read(spark).filter(f"month_ts >= '{cut}'")
    assert got.count() == want.count() > 0
    # base-range inference across the escaped boundary partition
    dates = sorted(r[0] for r in o.select("o_orderdate").collect())
    lo, hi = dates[40], dates[160]
    got2 = t.read_base_range(spark, "o_orderdate", lo, hi)
    want2 = t.read(spark).filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") <= hi))
    assert got2.count() == want2.count() > 0
    assert got2.exceptAll(want2).count() == 0
    # update with partition migration across escaped segments
    t.update_where(spark, "o_orderkey % 11 = 3",
                   {"o_orderdate": "o_orderdate + INTERVAL 40 DAYS"})
    assert t.read(spark).filter(F.expr(
        "month_ts != DATE_TRUNC('month', o_orderdate)")).count() == 0


def test_int_partition_key_typed_predicate_semantics(spark, tmp_path):
    """Review r12: partition-key predicates evaluate with the column's
    INFERRED type, never lexicographic strings — day > 2 on an int key
    must hit day=10..12, and a purge of day < 16 on wide int values
    must not sweep '100'..'127'."""
    t = TxnTable(str(tmp_path / "ik"))
    t.set_partition_column("day")
    rows = [(i, d) for d in (1, 2, 3, 9, 10, 11, 12, 100, 127)
            for i in range(3)]
    t.append(spark.createDataFrame(rows, "id int, day int"))
    t.delete_where(spark, "day > 2 AND day < 100")
    left = sorted(r[0] for r in t.read(spark)
                  .select("day").distinct().collect())
    assert left == [1, 2, 100, 127]
    # the numeric purge drops ONLY numerically-smaller values
    t2 = TxnTable(str(tmp_path / "ik2"))
    t2.set_partition_column("day")
    t2.append(spark.createDataFrame(rows, "id int, day int"))
    t2.delete_where(spark, "day < 16", capture_changes=False)
    left2 = sorted(r[0] for r in t2.read(spark)
                   .select("day").distinct().collect())
    assert left2 == [100, 127]
    # read_partitions_where agrees
    assert (t2.read_partitions_where(spark, "day > 99").count()
            == t2.read(spark).count())


def test_partition_declaration_raises_writer_floor(spark, tmp_path,
                                                   monkeypatch):
    """Review r12: set_partition_column stamps min_writer_version 3 —
    a pre-declaration writer (capability 2, no plain-dir commit guard)
    must refuse at _check_protocol instead of stranding rows in a
    plain dir outside the declared layout."""
    import json
    import os

    from sport_advantages_moderne_data_infrastructure_spark.sources import (
        txnlog as TL,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnProtocolError,
    )

    o = _orders(spark, 20)
    t = TxnTable(str(tmp_path / "w"))
    t.set_partition_column("o_custkey")  # PLAIN key: floor still rises
    proto = json.load(open(os.path.join(t.log_dir, "protocol.json")))
    assert proto["min_writer_version"] >= 3
    t2 = TxnTable(t.path)
    monkeypatch.setattr(TL, "_WRITER_CAPABILITY", 2)
    with pytest.raises(TxnProtocolError, match="writer"):
        t2.append(o)


def test_empty_live_declared_table_no_ops(spark, tmp_path):
    """Review r12: a declared table whose live set a purge emptied is
    a legal state — reads return empty frames, the scheduled
    partition compaction no-ops, and new appends resume the layout."""
    o = _orders(spark, 30)
    t = _ptable(tmp_path, "el")
    t.append(o)
    t.delete_where(spark, "order_month >= '0000'",
                   capture_changes=False)  # purge EVERYTHING
    assert t.read(spark).count() == 0
    assert t.read_partitions_where(spark,
                                   "order_month >= '0000'").count() == 0
    assert t.compact_partitions_if_needed(spark) is None
    t.append(o)  # layout resumes
    assert t.read(spark).count() == 30
    assert all("order_month=" in d for d in t.snapshot_dirs())


def test_show_partitions_metadata_only(spark, tmp_path):
    """SHOW PARTITIONS from the log alone: per-partition NET row
    counts (DV masks subtracted), zero Spark jobs, values unescaped."""
    o = _orders(spark)
    t = _ptable(tmp_path, "sp")
    t.append(o)
    sc = spark.sparkContext
    sc.setJobGroup("showp", "show partitions job count")
    try:
        parts = t.show_partitions()
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("showp")) == 0
    want = {r[0]: r[1] for r in
            o.groupBy(F.date_format("o_orderdate", "yyyy-MM"))
            .count().collect()}
    assert parts == want
    # DV delete subtracts from the metadata counts
    k = o.select(F.min("o_orderkey")).first()[0]
    m = (o.filter(f"o_orderkey = {k}")
         .select(F.date_format("o_orderdate", "yyyy-MM")).first()[0])
    t.delete_where(spark, f"o_orderkey = {k}", use_dv=True)
    assert t.show_partitions()[m] == want[m] - 1
    # escaped timestamp keys list unescaped
    t2 = TxnTable(str(tmp_path / "sp_ts"))
    t2.set_generated_column("mts", "DATE_TRUNC('month', o_orderdate)")
    t2.set_partition_column("mts")
    t2.append(o.limit(40))
    assert all(":" in v and "%3A" not in v for v in t2.show_partitions())


def test_batch_zero_replay_race_absorbed(spark, tmp_path, monkeypatch):
    """Review r12 #2: a same-batch replica race at BATCH 0 must be
    absorbed — the ledger high water of 0 is falsy and the old
    `(x or -1) >= batch_id` re-check mis-read it as absent, turning the
    in-commit ledger conflict into a dead stream."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        _stream_meta,
    )

    o = _orders(spark, 30)
    t = _ptable(tmp_path, "bz")
    meta = _stream_meta(0, "bz", "stream_append")
    # replica A commits batch 0
    t.append(o.limit(10), dict(meta))
    assert t.max_stream_batch_id("bz") == 0
    # replica B replays batch 0: append skips it (no raise, no
    # duplicate rows)
    assert t.append(o.limit(10), dict(meta)) is None
    assert t.read(spark).count() == 10
    # replica B checked the ledger before A committed: the in-commit
    # ledger refusal absorbs the replay just the same
    real = t._replays
    checks = {"n": 0}

    def _stale_first_check(m):
        checks["n"] += 1
        return False if checks["n"] == 1 else real(m)

    monkeypatch.setattr(t, "_replays", _stale_first_check)
    assert t.append(o.limit(10), dict(meta)) is None
    monkeypatch.undo()
    assert t.read(spark).count() == 10
    # the next batch commits normally
    t.append(o.offset(10).limit(5), _stream_meta(1, "bz", "stream_append"))
    assert t.read(spark).count() == 15


def test_merge_resumes_declared_layout_after_full_purge(spark,
                                                        tmp_path):
    """Review r12 #3: merge on a purge-emptied partition-declared
    table must lay out col=value subdirs from the DECLARED config, not
    crash on the plain-dir commit guard."""
    o = _orders(spark, 40)
    t = _ptable(tmp_path, "mp")
    t.append(o.limit(20))
    t.delete_where(spark, "order_month >= '0000'",
                   capture_changes=False)  # purge everything
    assert t.read(spark).count() == 0
    t.merge(spark, o.offset(20), "o_orderkey")
    assert t.read(spark).count() == 20
    assert all("order_month=" in d for d in t.snapshot_dirs())


def test_mixed_looking_partition_values_stay_string(spark, tmp_path):
    """Review r12 #1 (second pass): a string key whose values LOOK
    numeric in one dir must not let the one-dir type sample drop the
    non-numeric values from pruning — mixed values re-type as string,
    matching Spark's own inference fallback."""
    t = TxnTable(str(tmp_path / "mx"))
    t.set_partition_column("day")
    t.append(spark.createDataFrame(
        [(1, "1"), (2, "abc"), (3, "2")], "id int, day string"))
    t.delete_where(spark, "day = 'abc'")
    # the survivors re-infer as ints on read (Spark's own partition
    # inference once the non-numeric value is gone) — compare as text
    left = sorted(str(r[0]) for r in t.read(spark)
                  .select("day").distinct().collect())
    assert left == ["1", "2"]
    assert (t.read_partitions_where(spark, "day = '1'").count() == 1)


def test_zorder_within_generated_partitions(spark, tmp_path):
    """OPTIMIZE ZORDER on a partition-declared table (r12): the
    rewrite preserves the col=value layout — each z-bucket commits
    partition SUBDIRS — so partition pruning and the cluster columns'
    tight per-dir stats compose; reads are row-identical across it."""
    o = _orders(spark)
    t = _ptable(tmp_path, "zp")
    for i in range(4):  # fragmented arrival order
        t.append(o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == i))
    before = {tuple(sorted(r)) for r in
              t.read(spark).select("o_orderkey", "o_totalprice")
              .collect()}
    v = t.compact_zorder(spark, ["o_custkey", "o_totalprice"],
                         target_dirs=4)
    dirs = t.snapshot_dirs()
    assert dirs and all("order_month=" in d for d in dirs)
    after = {tuple(sorted(r)) for r in
             t.read(spark).select("o_orderkey", "o_totalprice")
             .collect()}
    assert after == before
    # partition pruning still metadata-only
    months = sorted({d.split("order_month=")[1] for d in dirs})
    assert (t.read_partitions_where(
        spark, f"order_month = '{months[0]}'").count() > 0)
    # cluster stats are now tight: a narrow o_custkey range prunes dirs
    lo = o.agg(F.min("o_custkey")).first()[0]
    pruned = t.pruned_dirs("o_custkey", lo, lo)
    assert len(pruned) < len(dirs)
    # change feed skips the rewrite as layout-only
    assert t.read_changes(spark, since_version=v - 1, upto=v).count() == 0
    # the single-column variant also preserves the layout
    t.compact_zorder(spark, ["o_totalprice"], target_dirs=3)
    assert all("order_month=" in d for d in t.snapshot_dirs())
    assert t.read(spark).count() == 200


def test_bloom_point_lookup_composes_with_partitions(spark, tmp_path):
    """Bloom file skipping records per partition SUBDIR at commit, so a
    point lookup on a generated-partitioned table prunes subdirs by
    bloom and still answers exactly."""
    o = _orders(spark)
    t = _ptable(tmp_path, "bl")
    t.enable_bloom(["o_orderkey"])
    t.append(o.limit(100))
    t.append(o.offset(100))
    k = o.select(F.max("o_orderkey")).first()[0]
    got = t.read_point(spark, "o_orderkey", k)
    assert got.count() == 1
    assert got.first()["o_orderkey"] == k
    # pruning is real: the bloom keeps a strict subset of live subdirs
    dirs = t.pruned_dirs_eq("o_orderkey", k)
    assert 0 < len(dirs) < len(t.snapshot_dirs())
    # a value no row carries returns empty without raising
    assert t.read_point(spark, "o_orderkey", -12345).count() == 0


def test_stats_range_and_metadata_count_compose(spark, tmp_path):
    """Footer-stats range reads and the metadata-only COUNT(*) both
    compose with the generated partition layout (per-SUBDIR stats and
    row counts live in the commit docs), including under a DV mask."""
    o = _orders(spark)
    t = _ptable(tmp_path, "rc")
    t.append(o.limit(100))
    t.append(o.offset(100))
    keys = sorted(r[0] for r in o.select("o_orderkey").collect())
    lo, hi = keys[10], keys[60]
    got = t.read_range(spark, "o_orderkey", lo, hi)
    want = o.filter((F.col("o_orderkey") >= lo)
                    & (F.col("o_orderkey") <= hi))
    assert got.count() == want.count() > 0
    # stats pruning keeps a strict subset (second append's subdirs
    # carry disjoint key ranges)
    assert (0 < len(t.pruned_dirs("o_orderkey", lo, hi))
            < len(t.snapshot_dirs()))
    # metadata-only COUNT(*), DV-adjusted
    assert t.snapshot_row_count() == 200
    n_gone = o.filter("o_orderkey <= 5").count()
    t.delete_where(spark, "o_orderkey <= 5", use_dv=True)
    assert t.snapshot_row_count() == 200 - n_gone


def test_check_constraints_on_partitioned_writes(spark, tmp_path):
    """CHECK constraints verify inside the partitioned write path: a
    violating append rolls back atomically (no partial subdirs become
    live), a clean one commits."""
    o = _orders(spark, 40)
    t = _ptable(tmp_path, "cc")
    t.add_check_constraint("price_positive", "o_totalprice > 0")
    t.append(o.limit(20))
    assert t.read(spark).count() == 20
    v0 = t.latest_version()
    bad = o.offset(20).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit(-1.0))
        .otherwise(F.col("o_totalprice")))
    with pytest.raises(ValueError, match="price_positive"):
        t.append(bad)
    assert t.latest_version() == v0
    assert t.read(spark).count() == 20  # nothing partial became live


def test_repartition_table_retrofit_unpartitioned(spark, tmp_path):
    """VERDICT r12 #5: retrofit-on-declare. A populated UNPARTITIONED
    table gains a generated partition layout in one atomic commit; old
    snapshots stay time-travel-readable on their original plain files,
    the new snapshot prunes, and later appends land partitioned."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "rt"))
    t.append(o.limit(150))
    v_plain = t.latest_version()
    plain_dirs = t.snapshot_dirs(v_plain)
    assert all("=" not in d.split("/")[-1] for d in plain_dirs)
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    v = t.repartition_table(spark, "order_month")
    assert v == v_plain + 1
    # ONE commit: the whole live set flipped to col=value subdirs
    dirs = t.snapshot_dirs()
    assert dirs and all("order_month=" in d for d in dirs)
    # row set unchanged (plus the backfilled generated key)
    got = t.read(spark)
    assert got.count() == 150
    assert got.filter(F.expr(
        "CAST(order_month AS STRING) != "
        "DATE_FORMAT(o_orderdate, 'yyyy-MM')")).count() == 0
    # TIME TRAVEL: the pre-retrofit version still reads its ORIGINAL
    # plain files — retrofit supersedes, never destroys
    old = t.read(spark, version=v_plain)
    assert old.count() == 150
    assert "order_month" not in old.columns
    assert set(old.inputFiles()) == {
        f for d in plain_dirs for f in old.inputFiles()
        if f"/{d}/" in f or d in f}
    # the declaration landed: a later append routes partitioned,
    # and the pruned read plans only matching subdirs
    t.append(o.offset(150))
    assert all("order_month=" in d for d in t.snapshot_dirs())
    months = sorted(r[0] for r in t.read(spark)
                    .select(F.col("order_month").cast("string"))
                    .distinct().collect())
    cut = months[len(months) // 2]
    pruned = t.read_partitions_where(spark, f"order_month >= '{cut}'")
    assert pruned.count() == t.read(spark).filter(
        F.col("order_month").cast("string") >= cut).count() > 0
    assert all(seg.split("=", 1)[1] >= cut
               for f in pruned.inputFiles()
               for seg in f.split("/") if seg.startswith("order_month="))


def test_repartition_table_layout_evolution(spark, tmp_path):
    """Re-partitioning an ALREADY-partitioned table to different keys:
    the old layout's snapshots stay readable, the new layout prunes on
    the new key list."""
    o = _orders(spark).withColumn(
        "bucket", (F.col("o_orderkey") % 3).cast("string"))
    t = TxnTable(str(tmp_path / "evo"))
    t.set_partition_column("bucket")
    t.append(o)
    v_old = t.latest_version()
    t.set_generated_column("order_year",
                           "DATE_FORMAT(o_orderdate, 'yyyy')")
    t.repartition_table(spark, ["order_year", "bucket"])
    dirs = t.snapshot_dirs()
    assert dirs and all("order_year=" in d and "bucket=" in d
                        for d in dirs)
    # old snapshot: single-key layout, full row set
    assert t.read(spark, version=v_old).count() == 200
    old_dirs = t.snapshot_dirs(v_old)
    assert all("order_year=" not in d for d in old_dirs)
    # both-key pruning works on the evolved layout
    pruned = t.read_partitions_where(
        spark, "order_year >= '1996' AND bucket = '1'")
    want = t.read(spark).filter(
        (F.col("order_year").cast("string") >= "1996")
        & (F.col("bucket") == "1"))
    assert pruned.count() == want.count() > 0


def test_repartition_table_identity_rows_keep_ids(spark, tmp_path):
    """A layout rewrite is not an allocation: identity ids survive the
    retrofit byte-for-byte, and the high water is untouched (the next
    append continues past it, never reissuing)."""
    o = _orders(spark, 60)
    t = TxnTable(str(tmp_path / "idr"))
    t.set_identity_column("rid")
    t.append(o.limit(40))
    before = {r["o_orderkey"]: r["rid"]
              for r in t.read(spark).collect()}
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.repartition_table(spark, "order_month")
    after = {r["o_orderkey"]: r["rid"] for r in t.read(spark).collect()}
    assert after == before
    t.append(o.offset(40))
    rids = [r["rid"] for r in t.read(spark).collect()]
    assert len(rids) == len(set(rids)) == 60
    assert {r for r in rids if r > 40} and min(
        r["rid"] for r in t.read(spark)
        .join(o.offset(40).select("o_orderkey"), "o_orderkey")
        .collect()) > 40


def test_repartition_table_guards(spark, tmp_path):
    """Empty table -> declaration only; identity key refused; missing
    column named clearly; generated backfill fills pre-declaration
    rows."""
    t = TxnTable(str(tmp_path / "g"))
    assert t.repartition_table(spark, "o_orderdate") == -1
    assert t._part_keys() == ["o_orderdate"]

    o = _orders(spark, 30)
    t2 = TxnTable(str(tmp_path / "g2"))
    t2.set_identity_column("rid")
    t2.append(o)
    with pytest.raises(ValueError, match="identity"):
        t2.repartition_table(spark, "rid")
    with pytest.raises(ValueError, match="lacks"):
        t2.repartition_table(spark, "no_such_col")

    # pre-declaration rows read NULL for a later-declared generated
    # column; the retrofit backfills them from the expression
    t3 = TxnTable(str(tmp_path / "g3"))
    t3.append(o.limit(15))
    t3.set_generated_column("order_month",
                            "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    # these 15 materialize the column (schema widens by the new key)
    t3.append(o.offset(15), merge_schema=True)
    assert t3.read(spark).filter("order_month IS NULL").count() == 15
    t3.repartition_table(spark, "order_month")
    s = t3.read(spark)
    assert s.filter("order_month IS NULL").count() == 0
    assert s.filter(F.expr(
        "CAST(order_month AS STRING) != "
        "DATE_FORMAT(o_orderdate, 'yyyy-MM')")).count() == 0


# ---------------------------------------------------------------------------
# Partition maintenance under concurrency (r13, VERDICT r12 #3): the r12
# layout-preservation work was sequential-only — these pin (a) ANY random
# interleaving of partitioned ops INCLUDING compaction/vacuum against a
# snapshot model, and (b) a true multi-threaded race of appends/deletes
# against a compaction+vacuum maintenance loop.

def _mk_rows(spark, rows):
    return spark.createDataFrame(rows, "id int, day int, val int")


def test_partitioned_ops_match_snapshot_model_any_interleaving(
        spark, tmp_path_factory):
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ops_strategy = st.lists(
        st.one_of(
            st.tuples(st.just("append"),
                      st.lists(st.tuples(st.integers(0, 9),
                                         st.integers(0, 2),
                                         st.integers(0, 5)),
                               min_size=1, max_size=4)),
            st.tuples(st.just("overwrite_day"), st.integers(0, 2),
                      st.lists(st.tuples(st.integers(0, 9),
                                         st.integers(0, 5)),
                               min_size=0, max_size=3)),
            st.tuples(st.just("purge_day"), st.integers(0, 2)),
            st.tuples(st.just("delete_id"), st.integers(0, 9),
                      st.booleans()),
            st.tuples(st.just("update_id"), st.integers(0, 9),
                      st.integers(10, 15)),
            st.just(("compact_parts",)),
            st.just(("compact",)),
            st.just(("vacuum",)),
            st.tuples(st.just("restore"), st.integers(0, 10)),
        ),
        min_size=2, max_size=5)

    @given(ops=ops_strategy)
    @settings(max_examples=5, deadline=None,
              suppress_health_check=[
                  HealthCheck.function_scoped_fixture])
    def run(ops):
        root = tmp_path_factory.mktemp("partprop")
        t = TxnTable(str(root / "t"))
        t.set_partition_column("day")
        t.append(_mk_rows(spark, [(0, 0, 0), (1, 1, 1), (2, 2, 2)]))
        history = [Counter({(0, 0, 0): 1, (1, 1, 1): 1, (2, 2, 2): 1})]
        model = history[0]

        def snap():
            return Counter((r["id"], r["day"], r["val"])
                           for r in t.read(spark).collect())

        for op in ops:
            before_v = t.latest_version()
            if op[0] == "append":
                t.append(_mk_rows(spark, op[1]))
                model = model + Counter(op[1])
            elif op[0] == "overwrite_day":
                d = op[1]
                rows = [(i, d, v) for i, v in op[2]]
                if not rows:
                    continue  # empty frame: nothing to lay out
                t.overwrite_partitions(_mk_rows(spark, rows), "day")
                model = Counter({k: c for k, c in model.items()
                                 if k[1] != d}) + Counter(rows)
            elif op[0] == "purge_day":
                t.delete_where(spark, f"day = {op[1]}")
                model = Counter({k: c for k, c in model.items()
                                 if k[1] != op[1]})
            elif op[0] == "delete_id":
                t.delete_where(spark, f"id = {op[1]}", use_dv=op[2])
                model = Counter({k: c for k, c in model.items()
                                 if k[0] != op[1]})
            elif op[0] == "update_id":
                t.update_where(spark, f"id = {op[1]}",
                               {"val": str(op[2])})
                if any(k[0] == op[1] for k in model):
                    new = Counter()
                    for (i, d, v), c in model.items():
                        new[(i, d, op[2] if i == op[1] else v)] += c
                    model = new
            elif op[0] == "compact_parts":
                t.compact_partitions_if_needed(spark,
                                               max_dirs_per_value=1)
            elif op[0] == "compact":
                t.compact(spark, target_files=1)
            elif op[0] == "vacuum":
                # retention-respecting vacuum is metadata-invisible:
                # referenced dirs survive, snapshots don't move
                t.vacuum(keep_versions=True, older_than_seconds=0.0)
            elif op[0] == "restore":
                target = op[1] % len(history)
                t.restore(target)
                model = history[target]
            # the layout NEVER flattens: every live dir stays col=value
            assert all("day=" in d for d in t.snapshot_dirs()), op
            if t.latest_version() != before_v:
                history.append(model)
            else:
                model = history[-1]
            assert snap() == model, f"after {op}"

        for v, m in enumerate(history):
            got = Counter((r["id"], r["day"], r["val"])
                          for r in t.read(spark, version=v).collect())
            assert got == m, f"time travel to v{v}"

    run()


def test_partitioned_appends_deletes_race_maintenance(spark, tmp_path):
    """True concurrency: appender and deleter threads race a
    compaction+vacuum maintenance loop on one partitioned table. The
    optimistic commit protocol must serialize them with zero lost
    updates: every appended row (minus the deleted ids) is live exactly
    once at the end, the layout never flattens, and vacuum never eats
    an in-flight writer's dir."""
    import threading

    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnConflictError,
    )

    t = TxnTable(str(tmp_path / "race"))
    t.set_partition_column("day")
    t.append(_mk_rows(spark, [(-1, 0, 0)]))

    n_writers, n_batches, rows_per = 3, 4, 2
    errors: list = []
    stop = threading.Event()

    def appender(w):
        try:
            for b in range(n_batches):
                base = 1000 * w + 10 * b
                t.append(_mk_rows(
                    spark,
                    [(base + j, (base + j) % 3, w) for j in
                     range(rows_per)]))
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    deleted_ids = [1000 * w for w in range(n_writers)]  # batch-0 rows

    def deleter():
        try:
            for did in deleted_ids:
                for _ in range(60):
                    try:
                        t.delete_where(spark, f"id = {did}",
                                       use_dv=did % 2 == 0)
                        break
                    except TxnConflictError:
                        continue
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def maintainer():
        try:
            while not stop.is_set():
                try:
                    t.compact_partitions_if_needed(
                        spark, max_dirs_per_value=2)
                except TxnConflictError:
                    pass  # lost the race to a writer: next loop retries
                t.vacuum(keep_versions=True)  # default retention: an
                # in-flight writer's unpublished dir is younger than the
                # window, so the sweep must skip it
        except Exception as e:  # pragma: no cover
            errors.append(e)

    # phase 1: appenders race the maintenance loop; phase 2: the
    # deleter races it (deletes only target rows that already exist —
    # a delete racing the append that CREATES its row is a no-op by
    # design, which is last-writer-wins, not a lost update)
    writers = [threading.Thread(target=appender, args=(w,))
               for w in range(n_writers)]
    mt = threading.Thread(target=maintainer)
    mt.start()
    for th in writers:
        th.start()
    for th in writers:
        th.join()
    dt = threading.Thread(target=deleter)
    dt.start()
    dt.join()
    stop.set()
    mt.join()
    assert not errors, errors

    got = {(r["id"], r["day"], r["val"])
           for r in t.read(spark).collect()}
    want = {(-1, 0, 0)}
    for w in range(n_writers):
        for b in range(n_batches):
            base = 1000 * w + 10 * b
            for j in range(rows_per):
                want.add((base + j, (base + j) % 3, w))
    want -= {r for r in want if r[0] in deleted_ids}
    assert got == want
    assert t.read(spark).count() == len(want)  # exactly-once, no dupes
    assert all("day=" in d for d in t.snapshot_dirs())


def test_compact_partitions_bin_packed_files_per_value(spark, tmp_path):
    """files_per_value > 1 (r13): the hot-value rewrite bin-packs like
    Delta's OPTIMIZE — parallelism scales with data, not len(hot) —
    while staying row-identical and below the fragmentation threshold."""
    t = TxnTable(str(tmp_path / "bp"))
    t.set_partition_column("day")
    for b in range(6):  # day=0 fragments across 6 dirs; day=1 stays cold
        t.append(_mk_rows(spark, [(10 * b + j, 0, b) for j in range(3)]
                          + ([(999, 1, 1)] if b == 0 else [])))
    before = {(r["id"], r["day"], r["val"])
              for r in t.read(spark).collect()}
    cold = [d for d in t.snapshot_dirs() if "day=1" in d]
    v = t.compact_partitions_if_needed(spark, max_dirs_per_value=4,
                                       files_per_value=3)
    assert v is not None
    after_dirs = t.snapshot_dirs()
    hot = [d for d in after_dirs if "day=0" in d]
    assert 1 <= len(hot) <= 3  # bin-packed, back under the threshold
    assert [d for d in after_dirs if "day=1" in d] == cold  # untouched
    assert {(r["id"], r["day"], r["val"])
            for r in t.read(spark).collect()} == before


# --- multi-key layout ops (r13 review pass) -------------------------------

def _mtable(spark, tmp_path, name="mk"):
    o = (_orders(spark)
         .withColumn("bucket",
                     (F.col("o_orderkey") % 3).cast("string")))
    t = TxnTable(str(tmp_path / name))
    t.set_generated_column("order_year",
                           "DATE_FORMAT(o_orderdate, 'yyyy')")
    t.set_partition_column(["order_year", "bucket"])
    t.append(o)
    return t, o


def test_multikey_trailing_and_leading_only_pruning(spark, tmp_path):
    """Predicates over ANY key subset prune on a nested layout: a
    trailing-key-only filter keeps every year's matching bucket subdir,
    a leading-key-only filter keeps whole year subtrees."""
    t, o = _mtable(spark, tmp_path)
    trail = t.read_partitions_where(spark, "bucket = '1'")
    want = o.filter("o_orderkey % 3 = 1").count()
    assert trail.count() == want > 0
    assert all("/bucket=1" in f or f.split("/")[-2] == "bucket=1"
               for f in trail.inputFiles())
    lead = t.read_partitions_where(spark, "order_year = '1996'")
    assert lead.count() == o.filter(
        "DATE_FORMAT(o_orderdate, 'yyyy') = '1996'").count() > 0
    assert all("order_year=1996" in f for f in lead.inputFiles())


def test_multikey_row_level_ops_and_purges(spark, tmp_path):
    """DELETE/UPDATE WHERE on a nested layout: a both-key predicate is
    a metadata-only purge, a trailing-key predicate purges across
    years, a data predicate rewrites only matching subdirs, and an
    update migrating the GENERATED leading key moves rows between
    nested subdirs."""
    t, o = _mtable(spark, tmp_path)
    n0 = t.read(spark).count()
    # metadata-only purge at the exact tuple grain
    gone = o.filter("DATE_FORMAT(o_orderdate, 'yyyy') = '1995' "
                    "AND o_orderkey % 3 = 0").count()
    assert gone > 0
    t.delete_where(spark, "order_year = '1995' AND bucket = '0'")
    assert t.read(spark).count() == n0 - gone
    assert not [d for d in t.snapshot_dirs()
                if "order_year=1995" in d and "bucket=0" in d]
    # trailing-key purge sweeps every year's bucket=2 subdir
    gone2 = t.read(spark).filter("bucket = '2'").count()
    t.delete_where(spark, "bucket = '2'")
    assert t.read(spark).count() == n0 - gone - gone2
    assert not [d for d in t.snapshot_dirs() if "bucket=2" in d]
    # data-predicate delete: rewrites, stays nested
    k = t.read(spark).orderBy("o_orderkey").first()["o_orderkey"]
    t.delete_where(spark, f"o_orderkey = {k}")
    assert t.read(spark).filter(f"o_orderkey = {k}").count() == 0
    assert all("order_year=" in d and "bucket=" in d
               for d in t.snapshot_dirs())
    # generated-key migration: bump the date a year -> the row must
    # move to its new order_year subdir and recompute the key
    k2 = t.read(spark).orderBy("o_orderkey").first()["o_orderkey"]
    y2 = t.read(spark).filter(f"o_orderkey = {k2}").first()
    t.update_where(spark, f"o_orderkey = {k2}",
                   {"o_orderdate": "o_orderdate + INTERVAL 1 YEAR"})
    r = t.read(spark).filter(f"o_orderkey = {k2}").first()
    assert int(str(r["order_year"])) == int(str(y2["order_year"])) + 1
    pruned = t.read_partitions_where(
        spark, f"order_year = '{r['order_year']}'")
    assert pruned.filter(f"o_orderkey = {k2}").count() == 1


def test_multikey_dv_merge_compact_time_travel(spark, tmp_path):
    """DV deletes, MERGE upserts, partition-granular compaction and
    time travel all preserve a nested layout and its answers."""
    t, o = _mtable(spark, tmp_path)
    v0 = t.latest_version()
    live0 = set(t.snapshot_dirs())
    t.delete_where(spark, "o_orderkey <= 5", use_dv=True)
    assert set(t.snapshot_dirs()) == live0  # DV: no rewrite
    n_dv = o.filter("o_orderkey <= 5").count()
    assert t.read(spark).count() == 200 - n_dv
    ups = (o.limit(40)
           .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    t.merge(spark, ups, key="o_orderkey")
    s = t.read(spark)
    assert all("order_year=" in d and "bucket=" in d
               for d in t.snapshot_dirs())
    # merged rows doubled; the DV'd rows came back via the merge only
    # if they were in ups (merge inserts unmatched)
    doubled = s.join(ups.select("o_orderkey"), "o_orderkey")
    base = o.join(ups.select("o_orderkey"), "o_orderkey")
    assert abs(doubled.agg(F.sum("o_totalprice")).first()[0]
               - 2 * base.agg(F.sum("o_totalprice")).first()[0]) < 1e-6
    # fragment one tuple with small appends, then hot-only compaction
    frag = o.limit(4).withColumn("bucket", F.lit("9"))
    for _ in range(4):
        t.append(frag)
    before = t.read(spark).count()
    v = t.compact_partitions_if_needed(spark, max_dirs_per_value=3)
    assert v is not None
    assert t.read(spark).count() == before
    assert all("order_year=" in d and "bucket=" in d
               for d in t.snapshot_dirs())
    # time travel to the pristine load
    assert t.read(spark, version=v0).count() == 200


def test_multikey_read_keeps_recorded_types_under_dv(spark, tmp_path):
    """A snapshot read reconstructs BOTH nested partition keys at their
    recorded types with the DV mask applied: the table's rows are the
    loaded orders minus the DV-deleted keys."""
    t, o = _mtable(spark, tmp_path, "ds")
    t.delete_where(spark, "o_orderkey % 11 = 0", use_dv=True)
    df = t.read(spark)
    want = o.filter("o_orderkey % 11 != 0")
    assert df.count() == want.count()
    assert dict(df.dtypes)["order_year"] == "string"  # recorded type
    assert dict(df.dtypes)["bucket"] == "string"
    a = {(r["o_orderkey"], str(r["order_year"]), str(r["bucket"]))
         for r in df.collect()}
    b = {(r["o_orderkey"], str(r["o_orderdate"])[:4], str(r["bucket"]))
         for r in want.collect()}
    assert a == b


def test_multikey_ops_match_snapshot_model_any_interleaving(
        spark, tmp_path_factory):
    """The r13 multi-key layout under the same snapshot-model
    discipline: random interleavings of appends, FULL-TUPLE and
    LEADING-PREFIX overwrites, trailing-key purges, DV deletes,
    compaction and restore — every state matches the model, the nested
    layout never flattens, time travel replays exactly."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def mk(rows):
        return spark.createDataFrame(
            rows, "id int, day int, grp string, val int")

    ops_strategy = st.lists(
        st.one_of(
            st.tuples(st.just("append"),
                      st.lists(st.tuples(st.integers(0, 9),
                                         st.integers(0, 1),
                                         st.sampled_from(["a", "b"]),
                                         st.integers(0, 5)),
                               min_size=1, max_size=3)),
            st.tuples(st.just("overwrite_tuple"), st.integers(0, 1),
                      st.sampled_from(["a", "b"]),
                      st.lists(st.tuples(st.integers(0, 9),
                                         st.integers(0, 5)),
                               min_size=1, max_size=2)),
            st.tuples(st.just("overwrite_prefix"), st.integers(0, 1),
                      st.lists(st.tuples(st.integers(0, 9),
                                         st.sampled_from(["a", "b"]),
                                         st.integers(0, 5)),
                               min_size=1, max_size=3)),
            st.tuples(st.just("purge_grp"), st.sampled_from(["a", "b"])),
            st.tuples(st.just("delete_id"), st.integers(0, 9),
                      st.booleans()),
            st.just(("compact_parts",)),
            st.tuples(st.just("restore"), st.integers(0, 10)),
        ),
        min_size=2, max_size=5)

    @given(ops=ops_strategy)
    @settings(max_examples=4, deadline=None,
              suppress_health_check=[
                  HealthCheck.function_scoped_fixture])
    def run(ops):
        root = tmp_path_factory.mktemp("mkprop")
        t = TxnTable(str(root / "t"))
        t.set_partition_column(["day", "grp"])
        seed = [(0, 0, "a", 0), (1, 1, "b", 1), (2, 0, "b", 2)]
        t.append(mk(seed))
        history = [Counter(seed)]
        model = history[0]

        def snap():
            return Counter(
                (r["id"], r["day"], r["grp"], r["val"])
                for r in t.read(spark).collect())

        for op in ops:
            before_v = t.latest_version()
            if op[0] == "append":
                t.append(mk(op[1]))
                model = model + Counter(op[1])
            elif op[0] == "overwrite_tuple":
                d, g = op[1], op[2]
                rows = [(i, d, g, v) for i, v in op[3]]
                t.overwrite_partitions(mk(rows), ["day", "grp"])
                model = Counter({k: c for k, c in model.items()
                                 if (k[1], k[2]) != (d, g)}) \
                    + Counter(rows)
            elif op[0] == "overwrite_prefix":
                d = op[1]
                rows = [(i, d, g, v) for i, g, v in op[2]]
                t.overwrite_partitions(mk(rows), "day")
                model = Counter({k: c for k, c in model.items()
                                 if k[1] != d}) + Counter(rows)
            elif op[0] == "purge_grp":
                t.delete_where(spark, f"grp = '{op[1]}'")
                model = Counter({k: c for k, c in model.items()
                                 if k[2] != op[1]})
            elif op[0] == "delete_id":
                t.delete_where(spark, f"id = {op[1]}", use_dv=op[2])
                model = Counter({k: c for k, c in model.items()
                                 if k[0] != op[1]})
            elif op[0] == "compact_parts":
                t.compact_partitions_if_needed(spark,
                                               max_dirs_per_value=1)
            elif op[0] == "restore":
                target = op[1] % len(history)
                t.restore(target)
                model = history[target]
            assert all("day=" in d and "grp=" in d
                       for d in t.snapshot_dirs()), op
            if t.latest_version() != before_v:
                history.append(model)
            else:
                model = history[-1]
            assert snap() == model, f"after {op}"

        for v, m in enumerate(history):
            got = Counter(
                (r["id"], r["day"], r["grp"], r["val"])
                for r in t.read(spark, version=v).collect())
            assert got == m, f"time travel to v{v}"

    run()


def test_identity_partitioned_appends_race(spark, tmp_path):
    """Identity allocation under REAL thread races on a partitioned
    table (the r13 composition): concurrent appenders all allocate
    through the optimistic-commit high water — ids must come out
    globally unique and exactly 1..N, with the layout intact."""
    import threading

    t = TxnTable(str(tmp_path / "idrace"))
    t.set_identity_column("rid")
    t.set_partition_column("day")

    n_writers, n_batches, rows_per = 3, 3, 4
    errors: list = []

    def appender(w):
        try:
            for b in range(n_batches):
                t.append(spark.createDataFrame(
                    [(100 * w + 10 * b + j, j % 2) for j in
                     range(rows_per)], "id int, day int"))
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(w,))
               for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    total = n_writers * n_batches * rows_per
    rows = t.read(spark).collect()
    assert len(rows) == total
    rids = sorted(r["rid"] for r in rows)
    # unique AND gapless: a lost race that re-issued or skipped a block
    # breaks exact-sequence 1..N
    assert rids == list(range(1, total + 1)), rids[:10]
    assert all("day=" in d for d in t.snapshot_dirs())


def test_multikey_prune_scoping_composes(spark, tmp_path):
    """partition_prune (both-key and trailing-key), footer-stats prune,
    and read_base_range's leading-generated-key inference all compose
    on a nested layout — each scopes exactly, leaves other partitions
    untouched, never flattens."""
    t, o = _mtable(spark, tmp_path, "pp")
    n0 = t.read(spark).count()
    want = t.read(spark).filter(
        "order_year='1996' AND bucket='1' AND o_orderkey % 2 = 0"
    ).count()
    t.delete_where(spark, "o_orderkey % 2 = 0",
                   partition_prune="order_year = '1996' AND bucket = '1'")
    assert n0 - t.read(spark).count() == want > 0

    before = t.read(spark).filter("bucket='2'") \
        .agg(F.sum("o_totalprice")).first()[0]
    t.update_where(spark, "o_totalprice > 0",
                   {"o_totalprice": "o_totalprice * 2"},
                   partition_prune="bucket = '2'")
    after = t.read(spark).filter("bucket='2'") \
        .agg(F.sum("o_totalprice")).first()[0]
    assert abs(after - 2 * before) < 1e-6

    rb = t.read_base_range(spark, "o_orderdate",
                           "1996-01-01", "1997-12-31")
    assert rb.count() == t.read(spark).filter(
        "o_orderdate >= '1996-01-01' AND o_orderdate <= '1997-12-31'"
    ).count() > 0
    years = {seg.split("=")[1] for f in rb.inputFiles()
             for seg in f.split("/") if seg.startswith("order_year=")}
    assert years <= {"1996", "1997"}

    n1 = t.read(spark).count()
    w = t.read(spark).filter(
        "o_orderkey >= 50 AND o_orderkey <= 80").count()
    t.delete_where(spark, "o_orderkey >= 50 AND o_orderkey < 81",
                   prune=("o_orderkey", 50, 80))
    assert n1 - t.read(spark).count() == w
    assert all("order_year=" in d and "bucket=" in d
               for d in t.snapshot_dirs())


def test_streaming_sink_into_identity_multikey_target(spark, tmp_path):
    """The full r13 composition through the streaming sink: generated
    leading key × plain key × identity on one declared target — two
    micro-batches land as nested subdirs with unique engine ids, the
    checkpoint restart replays nothing, and both-key pruning works on
    the ingested table."""
    import os

    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    root = str(tmp_path)
    o = (_orders(spark, 120)
         .withColumn("bucket", (F.col("o_orderkey") % 2).cast("string")))
    t = TxnTable(os.path.join(root, "t"))
    t.set_generated_column("order_year",
                           "DATE_FORMAT(o_orderdate, 'yyyy')")
    t.set_identity_column("rid")
    t.set_partition_column(["order_year", "bucket"])
    src = os.path.join(root, "feed")
    o.limit(60).coalesce(1).write.mode("append").parquet(src)
    o.offset(60).coalesce(1).write.mode("append").parquet(src)

    def run():
        feed = (spark.readStream.schema(o.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))
        q = P.write_stream_txn_append(
            feed, t.path, os.path.join(root, "ck"), app_id="mk")
        q.awaitTermination(240)
        q.stop()

    run()
    v = t.latest_version()
    run()  # restart on the same checkpoint
    assert t.latest_version() == v  # the ledger replays nothing
    s = t.read(spark)
    assert s.count() == 120
    assert s.select("rid").distinct().count() == 120
    assert all("order_year=" in d and "bucket=" in d
               for d in t.snapshot_dirs())
    pruned = t.read_partitions_where(
        spark, "order_year >= '1997' AND bucket = '1'")
    assert pruned.count() == s.filter(
        "order_year >= '1997' AND bucket = '1'").count() > 0


def test_streaming_change_feed_from_multikey_table(spark, tmp_path,
                                                   feed_to_parquet):
    """The change feed on a NESTED layout: both partition keys
    reconstruct per change row and the generated value holds."""
    t, o = _mtable(spark, tmp_path, "cdf")
    out = str(tmp_path / "out")
    feed_to_parquet(t.path, out, str(tmp_path / "ck"), cdf=True)
    mem = spark.read.parquet(out)
    assert mem.count() == 200
    assert {"order_year", "bucket", "_change_type"} <= set(mem.columns)
    assert mem.filter(
        "CAST(order_year AS STRING) != "
        "DATE_FORMAT(o_orderdate, 'yyyy')").count() == 0
    assert mem.filter("_change_type = 'insert'").count() == 200
