"""Structured Streaming tests: availableNow micro-batch runs must produce
exactly the batch transform's result (the reference's streaming path,
SaveDelta.scala, modeled with the file-source twin)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.operators.cdc import (
    parse_cdc,
)
from sport_advantages_moderne_data_infrastructure_spark.sources import domain as D
from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
    load_table,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming import (
    pipeline as P,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming import (
    windows as SW,
)


@pytest.fixture(scope="module")
def cdc_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cdc_src"))
    D.cdc_events(spark, sf_dir).write.mode("overwrite").parquet(path)
    return path


def _counts(df):
    return {r["k"]: r["n"] for r in
            df.groupBy(F.col("sport_type").alias("k"))
            .agg(F.count(F.lit(1)).alias("n")).collect()}


def test_stream_cdc_parse_equals_batch(spark, sf_dir, cdc_dir, tmp_path):
    parsed_stream = P.stream_cdc_from_files(spark, cdc_dir)
    assert parsed_stream.isStreaming
    q = P.write_stream_memory(parsed_stream, "cdc_parsed_mem")
    q.awaitTermination(120)
    got = spark.table("cdc_parsed_mem")
    want = parse_cdc(D.cdc_events(spark, sf_dir))
    assert got.count() == want.count()
    assert _counts(got) == _counts(want)
    assert got.schema == want.schema


def test_stream_parquet_sink_checkpointed(spark, cdc_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    parsed = P.stream_cdc_from_files(spark, cdc_dir)
    q = P.write_stream_parquet(parsed, out, ckpt)
    q.awaitTermination(120)
    written = spark.read.parquet(out)
    # sink contents == the batch twin of the same parse over the same files
    batch_twin = parse_cdc(spark.read.parquet(cdc_dir))
    assert written.count() == batch_twin.count()
    # restart with same checkpoint: no new data → no duplicate rows (T3)
    n1 = written.count()
    q2 = P.write_stream_parquet(P.stream_cdc_from_files(spark, cdc_dir), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1


def test_stream_merge_upserts_by_key(spark, sf_dir, cdc_dir, tmp_path):
    """Streaming MERGE sink: the parsed CDC stream upserts into the target
    by id — one row per id (not append), update frames win, and replaying
    the same source on a fresh checkpoint leaves the state unchanged
    (keyed merge is idempotent)."""
    target = str(tmp_path / "merged")
    q = P.write_stream_merge(
        P.stream_cdc_from_files(spark, cdc_dir), target,
        str(tmp_path / "ckpt1"), key="id")
    q.awaitTermination(120)

    got = spark.read.parquet(target)
    want = parse_cdc(D.cdc_events(spark, sf_dir))
    n_ids = want.select("id").distinct().count()
    assert got.count() == n_ids
    assert got.select("id").distinct().count() == n_ids
    before = _counts(got)  # snapshot — the target is overwritten below

    # replay from scratch (new checkpoint): keyed merge is idempotent
    q2 = P.write_stream_merge(
        P.stream_cdc_from_files(spark, cdc_dir), target,
        str(tmp_path / "ckpt2"), key="id")
    q2.awaitTermination(120)
    again = spark.read.parquet(target)
    assert again.count() == n_ids
    assert _counts(again) == before


def test_tumbling_stream_equals_batch(spark, sf_dir, tmp_path_factory):
    events = load_table(spark, sf_dir, "events")
    epath = str(tmp_path_factory.mktemp("events_src"))
    events.write.mode("overwrite").parquet(epath)
    stream = spark.readStream.schema(events.schema).parquet(epath)
    agg = SW.tumbling_counts(stream)
    q = (agg.writeStream.format("memory").queryName("tumbling_mem")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("tumbling_mem").orderBy("window_start", "event_type")
    want = SW.tumbling_counts(events).orderBy("window_start", "event_type")
    assert [r.asDict() for r in got.collect()] == \
        [r.asDict() for r in want.collect()]


def test_session_window_stream_runs(spark, sf_dir, tmp_path_factory):
    events = load_table(spark, sf_dir, "events")
    epath = str(tmp_path_factory.mktemp("events_sess"))
    events.write.mode("overwrite").parquet(epath)
    stream = spark.readStream.schema(events.schema).parquet(epath)
    sess = SW.session_counts(stream)
    q = (sess.writeStream.format("memory").queryName("session_mem")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("session_mem")
    # session totals must cover every event exactly once
    total = got.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()
    # and agree with the batch sessionizer's session count per user
    events.createOrReplaceTempView("events")
    batch = spark.sql(SW.SESSIONIZE_SQL)
    assert got.count() == batch.count()


def test_dedup_within_watermark_stream(spark, sf_dir, tmp_path_factory):
    events = load_table(spark, sf_dir, "events").limit(500)
    doubled = events.unionAll(events)
    epath = str(tmp_path_factory.mktemp("events_dup"))
    doubled.write.mode("overwrite").parquet(epath)
    stream = spark.readStream.schema(doubled.schema).parquet(epath)
    dedup = SW.dedup_within_watermark(stream, ["event_id"])
    q = P.write_stream_memory(dedup, "dedup_mem")
    q.awaitTermination(120)
    got = spark.table("dedup_mem")
    assert got.count() == 500
    assert got.select("event_id").distinct().count() == 500


def test_rate_fallback_source_flows(spark):
    """S2 (SaveDelta.scala:123-127): the synthetic rate source must produce
    rows when Kafka is unavailable."""
    import time

    stream = P.stream_rate_fallback(spark, rows_per_second=50)
    q = (stream.writeStream.format("memory").queryName("rate_mem")
         .outputMode("append").start())
    try:
        for _ in range(40):
            if spark.table("rate_mem").count() > 0:
                break
            time.sleep(0.5)
        assert spark.table("rate_mem").count() > 0
        assert set(spark.table("rate_mem").columns) == {"timestamp", "value"}
    finally:
        q.stop()


def test_stream_stream_funnel_equals_batch(spark, sf_dir, tmp_path_factory):
    """Stream-stream interval join (watermarked both sides) must produce
    exactly the batch range join's pairs."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.joins import (
        funnel_click_purchase,
    )
    events = load_table(spark, sf_dir, "events")
    epath = str(tmp_path_factory.mktemp("events_funnel"))
    events.write.mode("overwrite").parquet(epath)
    stream = spark.readStream.schema(events.schema).parquet(epath)
    q = (funnel_click_purchase(stream)
         .writeStream.format("memory").queryName("funnel_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["click_id"], r["purchase_id"])
           for r in spark.table("funnel_mem").collect()}
    want = {(r["click_id"], r["purchase_id"])
            for r in funnel_click_purchase(events).collect()}
    assert got == want
    assert len(want) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data policy: with a 30-minute watermark, a row arriving hours
    behind the stream's max event time must NOT update its (long-closed)
    window. Files are fed one per micro-batch (maxFilesPerTrigger) so the
    watermark advances between the on-time batch and the late batch."""
    import datetime as dt

    from pyspark.sql import Row

    schema = "ts timestamp, event_type string, value double"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    on_time = [Row(ts=t0 + dt.timedelta(minutes=m), event_type="a", value=1.0)
               for m in range(0, 120, 10)]  # 10:00 → 11:50
    more = [Row(ts=t0 + dt.timedelta(minutes=115), event_type="a", value=1.0)]
    late = [Row(ts=t0 - dt.timedelta(hours=3), event_type="a", value=1.0)]

    # watermark computed from batch N commits at batch end and applies from
    # batch N+1 — so the late file goes THIRD: batch0 sets 11:20, batch1
    # commits it, batch2's late row is evaluated against it.
    src = tmp_path / "late_src"
    import time as _t
    for i, rows in enumerate([on_time, more, late]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"batch={i}"))
        _t.sleep(1.1)  # distinct mtimes → deterministic file order

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src) + "/*"))
    agg = (stream.withWatermark("ts", "30 minutes")
           .groupBy(SW.F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(SW.F.count(SW.F.lit(1)).alias("n")))
    q = (agg.writeStream.format("memory").queryName("late_mem")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("late_mem").select(
        SW.F.col("w.start").alias("ws"), "n").collect()
    windows = {r["ws"].hour for r in got}
    # the 07:00 window of the late row must be absent — dropped by watermark
    assert 7 not in windows, sorted(windows)
    assert {10, 11} <= windows
    dropped = sum(
        (p["stateOperators"][0]["numRowsDroppedByWatermark"]
         if p["stateOperators"] else 0)
        for p in q.recentProgress)
    assert dropped == 1


def test_parse_cdc_accepts_binary_value(spark, sf_dir):
    """Kafka delivers key/value as BINARY — parse_cdc must handle both
    (it casts to string itself, SaveDelta.scala:134-135 semantics)."""
    raw = D.cdc_events(spark, sf_dir)
    binary = raw.withColumn("value", F.col("value").cast("binary")) \
                .withColumn("key", F.col("key").cast("binary"))
    got = parse_cdc(binary)
    want = parse_cdc(raw)
    assert got.count() == want.count()
    assert got.schema == want.schema


def test_notifier_foreach_batch(spark, sf_dir, cdc_dir, tmp_path):
    sent: list[dict] = []
    parsed = P.stream_cdc_from_files(spark, cdc_dir)
    q = P.notify_foreach_batch(parsed, sent.append, str(tmp_path / "nckpt"))
    q.awaitTermination(120)
    from sport_advantages_moderne_data_infrastructure_spark.operators.relational import (
        notifier_events,
    )
    want = notifier_events(parse_cdc(D.cdc_events(spark, sf_dir))).count()
    assert len(sent) == want
    assert all(m["message"].startswith("Auteur: ") for m in sent)


def test_txn_append_sink_jvm_path(spark, cdc_dir, tmp_path):
    """write_stream_txn_append (JVM-write exactly-once txn sink): sink
    contents equal the batch twin; restart on the same checkpoint adds
    nothing; the log records one stream_append commit per micro-batch
    with footer stats."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnTable,
    )

    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    parsed = P.stream_cdc_from_files(spark, cdc_dir, max_files_per_trigger=2)
    q = P.write_stream_txn_append(parsed, table, ckpt)
    q.awaitTermination(120)
    t = TxnTable(table)
    batch_twin = parse_cdc(spark.read.parquet(cdc_dir))
    n1 = t.read(spark).count()
    assert n1 == batch_twin.count()
    # per-batch commits carry the replay-guard meta + footer stats
    docs = t.history()
    assert all(d["meta"]["operation"] == "stream_append" for d in docs)
    assert all("stream_batch_id" in d["meta"] for d in docs)
    ids = [d["meta"]["stream_batch_id"] for d in docs]
    assert ids == sorted(set(ids))  # one commit per micro-batch, in order
    assert all(d["stats"][rel] for d in docs for rel in d["adds"])
    # restart with the same checkpoint: no new data -> no growth (T3)
    q2 = P.write_stream_txn_append(
        P.stream_cdc_from_files(spark, cdc_dir, max_files_per_trigger=2),
        table, ckpt)
    q2.awaitTermination(120)
    assert t.read(spark).count() == n1


def test_txn_append_sink_replay_guard(spark, cdc_dir, tmp_path):
    """Crash-after-commit-before-checkpoint replay: a FRESH checkpoint
    replays every batch id from 0 — the log-scan guard must skip them all
    (same contract as the DataSource sink's SetTransaction rule)."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnTable,
    )

    table = str(tmp_path / "t")
    parsed = P.stream_cdc_from_files(spark, cdc_dir)
    q = P.write_stream_txn_append(parsed, table, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    t = TxnTable(table)
    n1 = t.read(spark).count()
    v1 = t.latest_version()
    # new checkpoint == replayed batch ids; guard drops them
    q2 = P.write_stream_txn_append(
        P.stream_cdc_from_files(spark, cdc_dir), table,
        str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert t.read(spark).count() == n1
    assert t.latest_version() == v1  # no empty/duplicate commits


def test_txn_append_sink_app_id_scopes_guard(spark, cdc_dir, tmp_path):
    """Two independent streams appending to ONE table: app_id scopes the
    replay guard, so stream B's batch 0 is not mistaken for a replay of
    stream A's batch 0."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnTable,
    )

    table = str(tmp_path / "t")
    parsed = P.stream_cdc_from_files(spark, cdc_dir)
    q = P.write_stream_txn_append(parsed, table, str(tmp_path / "cka"),
                                  app_id="a")
    q.awaitTermination(120)
    t = TxnTable(table)
    n1 = t.read(spark).count()
    q2 = P.write_stream_txn_append(
        P.stream_cdc_from_files(spark, cdc_dir), table,
        str(tmp_path / "ckb"), app_id="b")
    q2.awaitTermination(120)
    assert t.read(spark).count() == 2 * n1


def test_txn_append_sink_processing_time_wins(spark, cdc_dir, tmp_path):
    """A given processing_time wins over the available_now default: the
    query keeps polling after it drains what has arrived, instead of
    running availableNow and stopping."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnTable,
    )

    table = str(tmp_path / "t")
    q = P.write_stream_txn_append(
        P.stream_cdc_from_files(spark, cdc_dir), table,
        str(tmp_path / "ck"), processing_time="1 second")
    try:
        q.processAllAvailable()
        assert not q.awaitTermination(3)
        assert q.isActive
        assert (TxnTable(table).read(spark).count()
                == parse_cdc(spark.read.parquet(cdc_dir)).count())
    finally:
        q.stop()


# -- streaming incremental dedup -------------------------------------------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stream_dedup_incremental(spark, tmp_path):
    """Online dedup against a growing corpus: batch 1 establishes the
    kept set + band index; batch 2's exact dup, near-dup (vs corpus AND
    intra-batch), and fresh docs are each handled; restart on the same
    checkpoint adds nothing (exactly-once on BOTH state tables)."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnTable,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.dedup import (
        write_stream_dedup,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    variant = base.replace("tonight", "today")  # near-dup of base
    fresh = ("completely different content about spark engines and "
             "columnar execution with vectorized readers throughout")
    fresh2 = ("yet another unrelated document discussing parquet "
              "footers bloom filters and partition pruning at scale")

    src = str(tmp_path / "src")
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")
    ck = str(tmp_path / "ck")
    n_cached0 = spark.sparkContext._jsc.getPersistentRDDs().size()

    # batch 1: base + its exact dup + fresh  -> keeps {1, 3}
    _docs_df(spark, [(1, base), (2, base), (3, fresh)]) \
        .coalesce(1).write.mode("append").parquet(src)
    q = write_stream_dedup(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        corpus, index, ck)
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in TxnTable(corpus).read(spark).collect()}
    assert kept == {1, 3}

    # batch 2: near-dup of corpus doc 1 (4), exact intra-batch pair
    # (5, 6), fresh2 (7) -> keeps {5, 7}
    _docs_df(spark, [(4, variant), (5, fresh2), (6, fresh2),
                     (7, "short unique snippet of novel text with "
                         "enough words to shingle properly here")]) \
        .coalesce(1).write.mode("append").parquet(src)
    q = write_stream_dedup(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        corpus, index, ck)
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in TxnTable(corpus).read(spark).collect()}
    assert 4 not in kept, "near-dup of corpus doc must be dropped"
    assert 5 in kept and 6 not in kept
    assert 7 in kept

    # restart on the same checkpoint: no growth in either state table
    n_corpus = TxnTable(corpus).read(spark).count()
    n_index = TxnTable(index).read(spark).count()
    q = write_stream_dedup(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        corpus, index, ck)
    q.awaitTermination(120)
    assert TxnTable(corpus).read(spark).count() == n_corpus
    assert TxnTable(index).read(spark).count() == n_index
    # the index holds bands ONLY for kept docs
    idx_ids = {r["doc_id"] for r in
               TxnTable(index).read(spark).select("doc_id")
               .distinct().collect()}
    assert idx_ids == kept
    # ADVICE r14: every per-micro-batch cache (bands, dup-id set,
    # uniques) must be unpersisted once its batch commits — a
    # processingTime stream otherwise leaks one cached plan + blocks
    # per micro-batch for the life of the query
    assert (spark.sparkContext._jsc.getPersistentRDDs().size()
            == n_cached0), "stream dedup leaked cached micro-batch frames"


def test_interval_join_stream_static_equals_batch(spark, sf_dir,
                                                  tmp_path_factory):
    """The bucketed interval join is stream-composable as-is: the point
    side streams, the interval side is static, and the operator's
    explode/equi-join/residual all run per micro-batch (stream-static
    inner joins are stateless in Structured Streaming — no watermark
    needed). Results must equal the batch run exactly."""
    from pyspark.sql import functions as F

    from sport_advantages_moderne_data_infrastructure_spark.operators.rangejoin import (  # noqa: E501
        interval_join,
    )

    events = load_table(spark, sf_dir, "events")
    windows = (events.filter((F.col("event_type") == "error")
                             & (F.col("value") >= 100))
               .select(F.col("event_id").alias("incident_id"),
                       F.col("ts").alias("w_start"),
                       (F.col("ts") + F.expr("INTERVAL 15 MINUTES"))
                       .alias("w_end")))
    points = events.select(F.col("event_id").alias("p_event"),
                           F.col("ts").alias("p_ts"))

    epath = str(tmp_path_factory.mktemp("events_ij"))
    points.write.mode("overwrite").parquet(epath)
    stream_pts = (spark.readStream.schema(points.schema)
                  .option("maxFilesPerTrigger", "4").parquet(epath))
    joined = interval_join(stream_pts, windows, point_ts="p_ts",
                           start_ts="w_start", end_ts="w_end",
                           bucket_seconds=900)
    q = (joined.select("p_event", "incident_id")
         .writeStream.format("memory").queryName("ij_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["p_event"], r["incident_id"])
                 for r in spark.table("ij_mem").collect())
    want = sorted(
        (r["p_event"], r["incident_id"])
        for r in interval_join(points, windows, point_ts="p_ts",
                               start_ts="w_start", end_ts="w_end",
                               bucket_seconds=900)
        .select("p_event", "incident_id").collect())
    assert got and got == want


def test_stream_quarantine_routes_and_is_exactly_once(spark, sf_dir,
                                                      tmp_path):
    """Dead-letter routing: clean rows -> target, violating rows (tagged
    with their failed expectations) -> quarantine; the two tables
    partition the input exactly, and a restart on the same checkpoint
    grows neither (per-table replay guards)."""
    from pyspark.sql import functions as F

    from sport_advantages_moderne_data_infrastructure_spark.plans.streamops import (  # noqa: E501
        QUARANTINE_RULES,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnTable,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.quality import (  # noqa: E501
        split_quarantine,
        write_stream_quarantine,
    )

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)
    target, quar = str(tmp_path / "clean"), str(tmp_path / "quar")
    ckpt = str(tmp_path / "ck")

    def run():
        stream = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", "2").parquet(src))
        q = write_stream_quarantine(stream, QUARANTINE_RULES, target, quar,
                                    ckpt, app_id="quartest")
        q.awaitTermination(180)

    run()
    clean = TxnTable(target).read(spark)
    bad = TxnTable(quar).read(spark)
    n_clean, n_bad = clean.count(), bad.count()
    want_clean, want_bad = split_quarantine(events, QUARANTINE_RULES)
    assert n_bad > 0  # rules bite on this corpus
    assert n_clean == want_clean.count()
    assert n_bad == want_bad.count()
    assert n_clean + n_bad == events.count()
    # row-exact: quarantined ids and their violation tags match batch
    got = {(r["event_id"], r["violations"]) for r in
           bad.select("event_id", "violations").collect()}
    want = {(r["event_id"], r["v"]) for r in
            want_bad.select(
                "event_id",
                F.array_join("violations", ",").alias("v")).collect()}
    assert got == want
    # restart on the same checkpoint: no growth on either leg
    run()
    assert TxnTable(target).read(spark).count() == n_clean
    assert TxnTable(quar).read(spark).count() == n_bad


def test_stream_decontaminate_gate(spark, sf_dir, tmp_path):
    """Decontamination at ingest: documents stream in; any doc sharing
    >= 2 word shingles with the frozen eval set dead-letters to the
    quarantine table annotated with its worst hit, clean docs land in
    the target — the union is lossless, the flagged set equals the
    batch contamination sweep over the same corpus, and a restart on
    the same checkpoint re-routes nothing."""
    from pyspark.sql import functions as F

    from sport_advantages_moderne_data_infrastructure_spark.operators import (
        dedup as DD,
    )
    from sport_advantages_moderne_data_infrastructure_spark.plans.textops import (
        near_corpus,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
        TxnTable,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.quality import (
        contamination_hits,
        write_stream_decontaminate,
    )

    corpus = near_corpus(spark, sf_dir).cache()
    ev_docs = corpus.filter(F.col("doc_id") % 37 == 0)
    eval_hashes = DD.word_shingle_hashes(ev_docs).cache()
    train = corpus.filter(F.col("doc_id") % 37 != 0)

    src = str(tmp_path / "src")
    train.repartition(2).write.parquet(src)
    target, quar = str(tmp_path / "clean"), str(tmp_path / "quar")
    stream = (spark.readStream.schema(train.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = write_stream_decontaminate(stream, eval_hashes, target, quar,
                                   str(tmp_path / "ck"), app_id="dc")
    q.awaitTermination(120)
    q.stop()

    clean = TxnTable(target).read(spark)
    bad = TxnTable(quar).read(spark)
    n_train = train.count()
    assert clean.count() + bad.count() == n_train
    # flagged set == the batch sweep's contaminated doc set
    want = {r["doc_id"] for r in
            contamination_hits(train, eval_hashes)
            .select("doc_id").distinct().collect()}
    got = {r["doc_id"] for r in bad.select("doc_id").collect()}
    assert got == want and len(got) > 0
    # the admitted corpus is contamination-free by construction
    assert contamination_hits(clean.select("doc_id", "text"),
                              eval_hashes).count() == 0
    # worst-hit annotation present on every quarantined row
    assert bad.filter("eval_id IS NULL OR n_shared < 2").count() == 0

    # restart: nothing re-routes
    q2 = write_stream_decontaminate(
        (spark.readStream.schema(train.schema)
         .option("maxFilesPerTrigger", "1").parquet(src)),
        eval_hashes, target, quar, str(tmp_path / "ck"), app_id="dc")
    q2.awaitTermination(60)
    q2.stop()
    assert TxnTable(target).read(spark).count() == clean.count()
    assert TxnTable(quar).read(spark).count() == bad.count()
