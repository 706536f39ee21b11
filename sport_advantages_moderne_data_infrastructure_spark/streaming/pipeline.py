"""Structured Streaming ingestion — the reference's Kafka→Delta job
(spark/SaveDelta.scala) re-expressed, source- and sink-agnostic.

The transform (operators/cdc.parse_cdc) is the SAME function the batch/oracle
path uses; only the frame source differs. That is the testing seam the
reference itself hints at with its rate-source fallback
(SaveDelta.scala:121-128): file source + Trigger.AvailableNow in tests,
Kafka + processing-time trigger in deployment.

Scale posture: one micro-batch = one Kafka offset range per partition; the
parse is stateless (no shuffle), so throughput scales linearly with
executors × topic partitions. Checkpointing gives exactly-once into
file/Delta sinks (T3, SaveDelta.scala:161).

Every sink in the package starts from one of two starters here.
``_start_foreach_batch`` runs a checkpointed ``foreachBatch``; the
change-feed sinks (``finalpipeline``, ``joinmv``, ``streaming/mv``,
``annindex``, ``chunkbm25``) start from ``_start_change_feed``, which
follows their source tables the way Delta's streaming source follows
``_delta_log``: a native Spark file stream over each table's commit docs
wakes the sink, the batch's version ranges are pinned in the checkpoint
(``versions/<batch_id>``) before the sink runs, and the rows are read
with ``TxnTable.read_changes``. No Python data source is on that path.
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.cdc import parse_cdc

# Schema of the raw CDC record frame (FIXTURES.md §4 / Kafka wire format).
CDC_RAW_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("topic", T.StringType()),
    T.StructField("partition", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("timestamp", T.TimestampType()),
])


def stream_cdc_from_files(spark: SparkSession, path: str,
                          max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stand-in for the Kafka topic (S1/S2 test twin):
    a directory of parquet files with the Kafka record schema.
    ``max_files_per_trigger`` bounds each micro-batch (the file-source
    analog of a Kafka offset range) — without it availableNow drains the
    directory in one batch."""
    reader = spark.readStream.schema(CDC_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(path)
    return parse_cdc(raw)


def stream_cdc_from_kafka(spark: SparkSession, bootstrap_servers: str,
                          topic: str, starting_offsets: str = "earliest") -> DataFrame:
    """S1 (SaveDelta.scala:104-112): Kafka source with the reference's
    options (earliest offsets, tolerate data loss). Requires the
    spark-sql-kafka package (cluster deployment); without it, load() fails
    at analysis time — re-raised here with the actionable fix."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .option("failOnDataLoss", "false")
            .load()
        )
    except Exception as e:  # AnalysisException: data source not found
        raise RuntimeError(
            "Kafka source unavailable: add the spark-sql-kafka-0-10 package "
            "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark "
            "version>) or use stream_cdc_from_files for the file-source twin"
        ) from e
    return parse_cdc(raw)  # parse_cdc casts binary value → string itself


def stream_rate_fallback(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """S2 (SaveDelta.scala:123-127): synthetic rate source fallback."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second).load()
    )


def _trigger(writer, available_now: bool, processing_time: str | None):
    """The one trigger rule of every sink: a given ``processing_time``
    (T1: "30 seconds") wins; else ``available_now`` drains what has
    arrived and stops; else Spark's default trigger runs micro-batches
    back to back."""
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time)
    if available_now:
        return writer.trigger(availableNow=True)
    return writer


def _start_foreach_batch(df: DataFrame, fn, checkpoint: str,
                         available_now: bool,
                         processing_time: str | None = None):
    """Start the checkpointed ``foreachBatch`` query every sink in this
    package runs: ``fn(batch_df, batch_id)`` sees non-empty
    micro-batches only, under the :func:`_trigger` rule. Returns the
    StreamingQuery."""

    def _nonempty(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            fn(batch_df, batch_id)

    w = (df.writeStream.foreachBatch(_nonempty)
         .option("checkpointLocation", checkpoint))
    return _trigger(w, available_now, processing_time).start()


#: the commit docs of a ``_txnlog`` dir (``00000000007.json``), not its
#: checkpoint (``….checkpoint.json``) or config (``protocol.json``) docs
_COMMIT_DOC = "[0-9]*[0-9].json"


def _start_change_feed(spark: SparkSession, paths: list[str], fn,
                       checkpoint: str, available_now: bool):
    """Start the checkpointed query of a change-feed sink over the
    transactional tables at ``paths``; each trigger calls
    ``fn(changes, batch_id)``, ``changes`` mapping each table that moved
    to its change rows, read with ``TxnTable.read_changes`` — Spark's
    parquet reader. Returns the StreamingQuery.

    The stream only wakes the sink: one Spark file stream per table over
    its commit docs (``<table>/_txnlog``, the way Delta's streaming
    source polls ``_delta_log``), unioned, so ``numInputRows`` counts new
    commit docs. It never moves or deletes a doc (no ``cleanSource``).
    Each poll lists the log directory, O(commit docs): about 86 ms at
    100 docs and 485 ms at 10,000 (a glob path would stat every file,
    about 34 s at 10,000). The version range a batch reads is pinned
    before ``fn`` runs (:func:`_pin_versions`), so a replayed batch
    reads exactly what its first attempt read. A batch in which no
    table moved calls no ``fn``. A table that does not exist yet fails
    the start with ``ValueError``: create it first."""
    from ..sources.txnlog import TxnTable

    paths = list(dict.fromkeys(paths))
    _refuse_old_feed_checkpoint(checkpoint)
    missing = [p for p in paths if not TxnTable.is_table(p)]
    if missing:
        raise ValueError(
            f"change-feed source {missing[0]} is not a transactional "
            "table yet (no commit log): create it before starting the "
            "stream")
    wake = reduce(DataFrame.union, [
        spark.readStream.format("text")
        .option("pathGlobFilter", _COMMIT_DOC)
        .load(TxnTable(p).log_dir) for p in paths])
    records = os.path.join(checkpoint.removeprefix("file:"), "versions")

    def _read(_wake: DataFrame, batch_id: int) -> None:
        lo, hi = _pin_versions(records, batch_id, paths)
        moved = [p for p in paths if hi[p] > lo.get(p, -1)]
        if moved:
            fn({p: TxnTable(p).read_changes(spark, lo.get(p, -1), hi[p])
                for p in moved}, batch_id)

    return _start_foreach_batch(wake, _read, checkpoint, available_now)


def _pin_versions(records: str, batch_id: int,
                  paths: list[str]) -> tuple[dict, dict]:
    """``(lo, hi)`` of one change-feed batch, each ``{table: version}``:
    ``hi`` is the batch's record ``<records>/<batch_id>``, written
    atomically on its first attempt with every table's latest version
    (-1 before its first commit) and reused by a replay; ``lo`` is the
    record of the highest earlier batch id (empty for the first batch:
    read from the start). Records older than that previous batch are
    purged."""
    from ..sources.txnlog import TxnTable

    os.makedirs(records, exist_ok=True)
    ids = sorted(int(f) for f in os.listdir(records) if f.isdigit())
    own = os.path.join(records, str(batch_id))
    if batch_id not in ids:
        vs = {p: TxnTable(p).latest_version() for p in paths}
        tmp = os.path.join(records, f".{batch_id}.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump({p: -1 if v is None else v
                       for p, v in vs.items()}, fh)
        os.replace(tmp, own)
    with open(own) as fh:
        hi = json.load(fh)
    earlier = [i for i in ids if i < batch_id]
    lo = {}
    if earlier:
        with open(os.path.join(records, str(earlier[-1]))) as fh:
            lo = json.load(fh)
    for i in earlier[:-1]:
        os.remove(os.path.join(records, str(i)))
    return lo, hi


def _refuse_old_feed_checkpoint(checkpoint: str) -> None:
    """Raise when ``checkpoint`` was written by an earlier change feed —
    a row-level Python source (``{"version": N}`` offsets) or the
    Python version feed (``{"versions": …}``) — before Spark fails on
    it; such checkpoints outlive the code that wrote them. Restarting on a fresh checkpoint alone is not a
    remedy: Spark batch ids restart at 0, which the views' (app_id,
    batch_id) ledger silently skips, and under a new app_id batch 0
    re-applies the whole history onto views that already hold it."""
    d = os.path.join(checkpoint.removeprefix("file:"), "offsets")
    batches = ([int(f) for f in os.listdir(d) if f.isdigit()]
               if os.path.isdir(d) else [])
    if not batches:
        return
    with open(os.path.join(d, str(max(batches)))) as fh:
        offsets = fh.read().splitlines()[2:]  # after version + metadata
    # a file stream's offset is {"logOffset": N}; "-" marks none yet
    if any(o != "-" and "logOffset" not in json.loads(o)
           for o in offsets):
        raise ValueError(
            f"checkpoint {checkpoint} was written by an earlier change "
            "feed, which this sink no longer reads: start the sink on new, "
            "empty view tables with a fresh checkpoint (the first batch "
            "builds them from the sources' whole history), then move "
            "readers to the new views; reusing the old views on a fresh "
            "checkpoint drops or doubles rows")


def write_stream_parquet(df: DataFrame, path: str, checkpoint: str,
                         available_now: bool = True, processing_time: str | None = None):
    """K1 (SaveDelta.scala:156-163): checkpointed append sink. Parquet here;
    on a lakehouse deployment swap format for "delta" — the call shape is
    identical."""
    w = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    return _trigger(w, available_now, processing_time).start()


def write_stream_memory(df: DataFrame, name: str, available_now: bool = True):
    """Test sink: in-memory table queryable as ``SELECT * FROM {name}``."""
    w = df.writeStream.format("memory").queryName(name).outputMode("append")
    return _trigger(w, available_now, None).start()


def write_stream_merge(df: DataFrame, target: str, checkpoint: str,
                       key: str = "id", order_col: str = "start_datetime",
                       available_now: bool = True):
    """Streaming UPSERT sink: each micro-batch MERGEs into the target by
    key via foreachBatch — the Delta "MERGE INTO from a stream" pattern
    (the incremental successor to the reference's append-only sink), on
    plain parquet. Last write per key wins; replayed batches are
    idempotent because merge is keyed, so the end state is exactly-once
    even at-least-once delivery.

    Parquet cannot transactionally overwrite a path it is reading, so the
    merged batch is materialized (localCheckpoint) before the overwrite —
    on Delta this hop disappears (MERGE is a single transactional
    command); at 100 TB pair with write_overwrite_partitions so only the
    batch's partitions rewrite.
    """
    from ..operators.merge import merge_upsert

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        # last event per key within the batch wins (micro-batches can
        # carry several CDC frames for one key)
        latest = (batch_df.withColumn(
            "__rn", F.row_number().over(
                W.partitionBy(key).orderBy(F.desc(order_col))))
            .filter(F.col("__rn") == 1).drop("__rn"))
        # Only "target does not exist yet" may fall back to plain-append
        # semantics (ADVICE r2): a transient read/merge/materialization
        # error must FAIL the batch so the checkpoint retries it —
        # swallowing it here would overwrite the whole target with just
        # this micro-batch (silent data loss).
        jvm_fs = spark._jvm.org.apache.hadoop.fs  # noqa: SLF001
        hconf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
        tpath = jvm_fs.Path(target)
        if tpath.getFileSystem(hconf).exists(tpath):
            target_df = spark.read.parquet(target)
            merged = merge_upsert(target_df, latest.select(*target_df.columns),
                                  key).localCheckpoint()
        else:  # first batch: no target yet
            merged = latest
        merged.write.mode("overwrite").parquet(target)

    return _start_foreach_batch(df, _merge, checkpoint, available_now)


def write_stream_merge_txn(df: DataFrame, target: str, checkpoint: str,
                           key: str = "id", order_col: str = "start_datetime",
                           available_now: bool = True,
                           matched_delete: str | None = None,
                           insert: bool | str = True):
    """Streaming MERGE INTO a transactional table (sources/txnlog.TxnTable)
    — the actual Delta-sink shape (SaveDelta.scala:157-163 + MERGE, minus
    the jars): each micro-batch upserts by key and commits atomically, so
    a crash at ANY point leaves the previous snapshot intact (the failure
    mode the plain-parquet write_stream_merge can only narrow, not close).

    Exactly-once comes from two independent layers: the commit meta
    records the micro-batch id in the table's ledger, so a batch
    replayed after crash-after-commit-before-checkpoint is skipped
    (``txnlog._guarded_commit``); and the merge itself is keyed, so
    even a double-applied batch converges to the same state.

    ``matched_delete`` / ``insert`` (r11): the MERGE clause surface for
    streaming CDC APPLY — a feed carrying tombstones (e.g. a
    ``__deleted`` flag column) deletes matched keys and skips inserting
    tombstones for unseen keys (``insert="NOT __deleted"``), in the SAME
    atomic commit as the batch's upserts. Last-event-per-key dedup runs
    first, so a key that is updated then tombstoned within one batch
    deletes."""
    from ..sources.txnlog import TxnTable, _guarded_commit, _stream_meta

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        table = TxnTable(target)
        latest = (batch_df.withColumn(
            "__rn", F.row_number().over(
                W.partitionBy(key).orderBy(F.desc(order_col))))
            .filter(F.col("__rn") == 1).drop("__rn"))
        _guarded_commit(table, batch_id, None, lambda: table.merge(
            spark, latest, key,
            meta=_stream_meta(batch_id, None, "stream_merge"),
            matched_delete=matched_delete, insert=insert))

    return _start_foreach_batch(df, _merge, checkpoint, available_now)


def write_stream_txn_append(df: DataFrame, target: str, checkpoint: str,
                            app_id: str | None = None,
                            available_now: bool = True,
                            processing_time: str | None = None,
                            export_delta: bool = False):
    """Exactly-once streaming APPEND into a transactional table on the
    JVM write path: each micro-batch is one ``TxnTable.append`` — Spark's
    native writer (whole-stage codegen straight into the commit dir, no
    Arrow hop into Python workers), then one atomic log commit. The
    commit meta carries ``(app_id, batch_id)`` into the table's ledger
    (Delta's ``txnAppId``/``txnVersion``): ``append`` writes nothing
    for a batch the ledger already covers, and drops its data when a
    racing replica commits the batch first. Generated, identity and
    partition-declared targets are laid out by ``append`` inside the
    same commit. An unreferenced dir from a crash between write and
    commit is invisible and falls to ``vacuum()``. Its cost is the
    plain parquet sink's plus one footer-stats harvest per commit
    (footer metadata only, O(files-per-batch)). Reference anchor: SaveDelta.scala:157-163 (checkpointed Delta append
    sink). A given ``processing_time`` (T1: "30 seconds") keeps the
    query running on that interval, whatever ``available_now`` says
    (:func:`_trigger`).

    ``export_delta=True`` (r14) re-exports the table's Delta-protocol
    ``_delta_log`` after every micro-batch, committed or replayed — the
    INCREMENTAL export writes only the new commit's JSON (O(batch), the
    export-per-commit shape the interop module documents) and is a
    no-op when the exported log is current, so a crash between commit
    and export catches up on the replay, and a real Delta reader can
    tail the streamed table continuously."""
    from ..sources.txnlog import TxnTable, _stream_meta

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        table = TxnTable(target)
        table.append(batch_df,
                     _stream_meta(batch_id, app_id, "stream_append"))
        table.checkpoint_if_needed()
        if export_delta:
            from ..sources.deltainterop import (
                compact_delta_log_if_needed,
                export_delta_checkpoint_if_needed,
                export_delta_log,
            )

            export_delta_log(table)
            # checkpoint cadence keeps the foreign reader's JSON-tail
            # replay bounded as the streamed history grows; between
            # checkpoints, log compaction keeps the tail SEGMENT at
            # O(tail/span) replay units (r14 session 5 — a bounded
            # JSON rewrite, far cheaper than an extra checkpoint)
            export_delta_checkpoint_if_needed(
                df.sparkSession, table.path)
            compact_delta_log_if_needed(table.path, span=5)

    return _start_foreach_batch(df, _append, checkpoint, available_now,
                                processing_time)


def notify_foreach_batch(df: DataFrame, send, checkpoint: str,
                         available_now: bool = True):
    """K4 (slack_notification.py:37-91): filtered webhook sink via
    foreachBatch. ``send(row_dict)`` is the transport — an HTTP POST in
    deployment, a list-append in tests (the reference's requests.post is
    IO wiring, not query semantics)."""
    from ..operators.relational import notifier_events

    msgs = notifier_events(df)

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.toLocalIterator():
            send(row.asDict())

    return _start_foreach_batch(msgs, _emit, checkpoint, available_now)
