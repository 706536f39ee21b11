"""``txnlog`` as a first-class Spark data source (Python DataSource API,
Spark 4): ``spark.readStream.format("txnlog").load(path)`` streams a
transactional table's append change feed — the idiomatic replacement for
the reference's poll-the-table-again batch loop (read_delta.py:47-53
re-reads and re-counts the whole Delta table every cycle; here each
micro-batch reads exactly the commits since the last checkpointed
version). ``spark.read.format("txnlog")`` gives batch snapshot reads with
time travel via ``option("version", N)``. The WRITE side is symmetric:
``df.write.format("txnlog").mode("append"|"overwrite")`` publishes one
atomic commit per job, and ``writeStream.format("txnlog")`` is an
exactly-once streaming append sink (per-micro-batch atomic commit +
batch-id replay guard — the Delta streaming-sink shape of
SaveDelta.scala:156-163 without the jars).

Design: offsets are log versions ({"version": N}), so exactly-once
restart falls out of Structured Streaming's offset checkpointing plus the
log's immutability. Partition planning is one InputPartition per
committed data file — executors read files directly with pyarrow (no
driver data movement, unlike SimpleDataSourceStreamReader); at scale the
per-batch task count equals the files the commits added, exactly the
Kafka-partition ≙ file mapping the rest of the streaming layer assumes.
``format("txnlog")`` stays the public source for outside readers.

The package's own change-feed sinks (``streaming/``) do not read rows
through it: ``streaming/pipeline._start_change_feed`` wakes them with a
native Spark file stream over each table's commit docs and reads each
batch's pinned version range with ``TxnTable.read_changes``. Both
paths classify each commit with ``TxnTable._change_dirs``.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from .txnlog import (TxnReplayError, TxnTable, _rebase_same, _stream_meta,
                     _Txn)


@dataclass
class _FilePartition(InputPartition):
    path: str  # one parquet file; value may be a partition-subdir file
    # partition keys of the file's (possibly nested, r13 multi-key)
    # col=value subdir path, in layout order; empty for plain dirs
    part_cols: tuple = ()
    part_vals: tuple = ()
    part_types: tuple = ()  # per key: "int32" | "int64" | "string"
    # change-feed reads: _change_type to attach ("insert" for append
    # commits; None when the file already carries the column, i.e. a
    # merge/delete change file) and the commit version, or None outside
    # CDF mode
    change_type: str | None = None
    commit_version: int | None = None
    # deletion vectors (batch snapshot reads): absolute path of the DV
    # parquet dir covering this file's data dir, and this file's
    # "data/<uuid>/<name>" key inside it — executor-side _read_file
    # masks the deleted row positions out before yielding batches
    dv_path: str | None = None
    dv_key: str | None = None
    # column mapping (r11): {physical: logical} renames applied to the
    # arrow table right after read (files store PHYSICAL names), and
    # orphaned physical columns (dropped / superseded re-adds) silently
    # excluded instead of tripping the evolved-after-plan guard
    rename: dict | None = None
    ignore: tuple = ()
    # the PLANNED arrow schema (data + CDF columns, declared order) —
    # executor-side _read_file aligns each file to it: columns an old
    # pre-evolution file lacks are null-filled (the additive-evolution
    # read contract), a column the plan has never seen raises (the
    # table evolved AFTER this read/stream was planned — Delta fails
    # the stream the same way; restart picks up the new schema)
    want: object | None = None


def _infer_part_type(vals: list[str]) -> str:
    """Partition-value type rule, mirrored by :meth:`TxnLogDataSource.schema`
    and executor-side ``_read_file`` (ADVICE r3: the read path hardcoded
    int32 and crashed on string-partitioned tables). Mimics Spark's own
    partition-column inference: every value integral → int (widened to
    int64 when any value overflows 32 bits), else string. Tables must use
    consistently-typed partition values (Spark's rule too)."""
    ints = []
    for v in vals:
        try:
            ints.append(int(v))
        except (TypeError, ValueError):
            return "string"
    if not ints:
        return "string"
    if all(-(2 ** 31) <= i < 2 ** 31 for i in ints):
        return "int32"
    return "int64"


def _files_of(table: TxnTable, rel_dirs: list[str]) -> list[_FilePartition]:
    from .txnlog import _partition_segs, _unescape_partition

    parts = []
    col_vals: dict[str, list[str]] = {}
    for rel in rel_dirs:
        segs = _partition_segs(rel)
        for c, v in segs:
            col_vals.setdefault(c, []).append(v)
        for f in sorted(glob.glob(os.path.join(table.path, rel, "*.parquet"))):
            parts.append(_FilePartition(
                f, tuple(c for c, _ in segs),
                tuple(_unescape_partition(v) for _, v in segs)))
    # per-key type: the RECORDED write-time type when generation.json
    # carries one (r13 — a string '1998' key must not come back int),
    # else the r3 inference over all live values of that key
    lut = table._partition_type_lut()
    types: dict[str, str] = {}
    for c, vals in col_vals.items():
        rec = lut.get(c)
        if rec in ("int", "integer"):
            types[c] = "int32"
        elif rec in ("bigint", "long"):
            types[c] = "int64"
        elif rec is not None:
            types[c] = "string"
        else:
            types[c] = _infer_part_type(vals)
    for p in parts:
        p.part_types = tuple(types[c] for c in p.part_cols)
    return parts


def _attach_mapping(table: TxnTable, parts: list, version=None) -> None:
    """Column mapping (r11): files store PHYSICAL names — attach the
    {physical: logical} rename and the orphaned-physical ignore set to
    every planned partition so executor reads surface the version's
    LOGICAL view (the planned `want` schema is logical already)."""
    mapping = table.column_mapping(version)
    if not mapping:
        return
    rename = {phys: log for log, phys in mapping.items() if phys != log}
    used = set(table._physical_used(version) or [])  # noqa: SLF001
    orphans = tuple(sorted(used - set(mapping.values())))
    for p in parts:
        p.rename = rename or None
        p.ignore = orphans


def _normalize_ts(table):
    """Spark writes INT96/nanosecond timestamps that pyarrow surfaces as
    Timestamp(NANOSECOND) — unsupported by the DataSource Arrow bridge;
    cast them to microseconds (Spark's native precision, lossless here)."""
    import pyarrow as pa

    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            table = table.set_column(
                i, f.name,
                table.column(i).cast(pa.timestamp("us", f.type.tz)))
    return table


def _cast_ok(have, want) -> bool:
    """True when casting a file column from ``have`` to the planned
    ``want`` arrow type is lossless by construction: timestamp unit/tz
    normalization, string representation width, or one hop up the safe
    type-widening lattice (int8→…→int64, float32→float64, int→float64 —
    the same lattice ``TxnTable`` admits on merge_schema evolution, so a
    widened table's OLD files upcast at the scan instead of forcing a
    100 TB rewrite). Everything else is a real type change."""
    import pyarrow as pa

    if pa.types.is_timestamp(have) and pa.types.is_timestamp(want):
        return True
    if ((pa.types.is_string(have) or pa.types.is_large_string(have))
            and (pa.types.is_string(want) or pa.types.is_large_string(want))):
        return True
    ints = [pa.int8(), pa.int16(), pa.int32(), pa.int64()]
    if have in ints and want in ints:
        return ints.index(have) <= ints.index(want)
    if want == pa.float64():
        # int64 -> float64 is lossy past 2^53: excluded from the lattice
        return have in (pa.float32(), pa.int8(), pa.int16(), pa.int32())
    return False


def _read_file(p: _FilePartition | None):
    """Executor-side: one parquet file → arrow batches. The partition
    column (if the file lives in a ``col=value`` subdir) is re-attached
    from partition metadata, mirroring Spark's own partitioned reads.
    ``p`` is None when the snapshot is empty (Spark plans one no-op task
    over an empty partition list)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if p is None:
        return
    t = _normalize_ts(pq.read_table(p.path))
    if p.ignore:
        keep = [n for n in t.schema.names if n not in set(p.ignore)]
        if len(keep) != len(t.schema.names):
            t = t.select(keep)
    if p.rename:
        t = t.rename_columns(
            [p.rename.get(n, n) for n in t.schema.names])
    if p.want is not None:
        appended = set(p.part_cols)
        if p.change_type is not None:
            appended.add("_change_type")
        if p.commit_version is not None:
            appended.add("_commit_version")
        expect = [f for f in p.want if f.name not in appended]
        known = {f.name for f in p.want}
        extra = [n for n in t.schema.names if n not in known]
        if extra:
            raise ValueError(
                f"txnlog: {p.path} carries column(s) {extra} the plan "
                "has never seen — the table's schema evolved after this "
                "read/stream was planned; restart it to pick up the "
                "evolved schema")
        cols = []
        for f in expect:
            if f.name in t.schema.names:
                c = t.column(f.name)
                if c.type != f.type:
                    # only known-benign normalizations and the safe-
                    # widening lattice cast silently; anything else is a
                    # genuine type change that must surface as the
                    # descriptive evolved-after-plan error naming the
                    # file, not a lossy coercion or an opaque executor
                    # arrow failure (ADVICE r10)
                    if not _cast_ok(c.type, f.type):
                        raise ValueError(
                            f"txnlog: {p.path} column {f.name!r} is "
                            f"{c.type} but the plan expects {f.type} — "
                            "the table's schema evolved after this "
                            "read/stream was planned; restart it to "
                            "pick up the evolved schema")
                    c = c.cast(f.type)
                cols.append(c)
            else:  # pre-evolution file: typed-NULL backfill
                cols.append(pa.nulls(len(t), f.type))
        t = pa.table(cols, schema=pa.schema(expect))
    if p.dv_path is not None:
        import pyarrow.compute as pc

        dv = pq.read_table(p.dv_path, columns=["src_file", "row_idx"])
        dead = dv.filter(pc.equal(dv["src_file"], p.dv_key))["row_idx"]
        if len(dead):
            gone = set(dead.to_pylist())
            t = t.take(pa.array(
                [i for i in range(len(t)) if i not in gone], pa.int64()))
    for c, v, ty in zip(p.part_cols, p.part_vals, p.part_types):
        if ty == "int32":
            arr = pa.array([int(v)] * len(t), pa.int32())
        elif ty == "int64":
            arr = pa.array([int(v)] * len(t), pa.int64())
        else:
            arr = pa.array([v] * len(t), pa.string())
        t = t.append_column(c, arr)
    if p.change_type is not None:
        t = t.append_column("_change_type",
                            pa.array([p.change_type] * len(t), pa.string()))
    if p.commit_version is not None:
        t = t.append_column("_commit_version",
                            pa.array([p.commit_version] * len(t), pa.int64()))
    yield from t.to_batches()


class _TxnStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, skip_change_commits: bool = False,
                 change_feed: bool = False, want=None):
        self.table = TxnTable(path)
        self.skip_change_commits = skip_change_commits
        self.change_feed = change_feed
        self.want = want  # planned arrow schema (see _FilePartition)

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        v = self.table.latest_version()
        return {"version": -1 if v is None else v}

    def partitions(self, start: dict, end: dict):
        if self.change_feed:
            return self._cdf_partitions(start, end)
        adds: list[str] = []
        for v in self.table.versions():
            if start["version"] < v <= end["version"]:
                doc = self.table._doc(v)  # noqa: SLF001
                if doc["removes"] or doc.get("dvs"):
                    # A rewrite's adds are NOT row-level changes; by
                    # default the change feed fails rather than emit them
                    # as inserts. skipChangeCommits (Delta's option of the
                    # same name) skips the commit so routine maintenance
                    # (compact/overwrite/merge) doesn't permanently brick
                    # downstream streams (ADVICE r3) — rewritten rows are
                    # then simply not re-delivered.
                    if self.skip_change_commits:
                        continue
                    raise ValueError(
                        f"txnlog stream: version {v} is a rewrite "
                        f"({doc['meta'].get('operation', 'overwrite/merge')});"
                        " the change feed is append-only — restart from a "
                        "snapshot read, or set .option('skipChangeCommits',"
                        " 'true') to skip rewrite commits")
                adds.extend(doc["adds"])
        parts = _files_of(self.table, adds)
        _attach_mapping(self.table, parts, end["version"])
        for p in parts:
            p.want = self.want
        return parts

    def _cdf_partitions(self, start: dict, end: dict):
        """readChangeFeed mode (Delta's option of the same name): MERGE
        and DELETE commits stream as the row-level change files they
        wrote, appends as inserts, compaction as nothing — so a stream
        follows an upserted table through routine maintenance instead of
        failing on the first rewrite. Every row carries _change_type and
        _commit_version. A full overwrite still raises: it has no
        row-level delta (resync from a snapshot read). The per-commit
        rule is ``TxnTable._change_dirs``, the one ``read_changes``
        applies."""
        parts: list[_FilePartition] = []
        for v in self.table._versions_tail(start["version"],  # noqa: SLF001
                                           end["version"]):
            dirs, change_type = self.table._change_dirs(v)  # noqa: SLF001
            batch = _files_of(self.table, dirs)
            for p in batch:
                p.change_type = change_type
                p.commit_version = v
            parts.extend(batch)
        _attach_mapping(self.table, parts, end["version"])
        for p in parts:
            p.want = self.want
        return parts

    def read(self, partition: _FilePartition):
        return _read_file(partition)

    def commit(self, end: dict) -> None:
        pass  # the log is immutable; nothing to clean up


def _typed(v: str | None):
    """Option values arrive as strings; stats are int/float/str — compare
    in the widest matching numeric type, else lexicographically."""
    if v is None:
        return None
    for cast in (int, float):
        try:
            return cast(v)
        except ValueError:
            pass
    return v


class _TxnBatchReader(DataSourceReader):
    def __init__(self, path: str, version: int | None,
                 prune: tuple[str, object, object] | None = None,
                 want=None):
        self.table = TxnTable(path)
        self.version = version
        self.prune = prune
        self.want = want  # planned arrow schema (see _FilePartition)

    def partitions(self):
        if self.prune is not None:
            col, lo, hi = self.prune
            dirs = self.table.pruned_dirs(col, lo, hi, self.version)
        else:
            dirs = self.table.snapshot_dirs(self.version)
        parts = _files_of(self.table, dirs)
        dvs = self.table.snapshot_dvs(self.version)
        if dvs:
            # attach each file's DV sidecar so the executor-side reader
            # masks deleted positions (row_idx == position in file order,
            # the same contract as Spark's _metadata.row_index)
            for p in parts:
                rel_dir = os.path.relpath(os.path.dirname(p.path),
                                          self.table.path)
                ref = dvs.get(rel_dir)
                if ref is not None:
                    p.dv_path = os.path.join(self.table.path, ref["path"])
                    p.dv_key = os.path.join(rel_dir,
                                            os.path.basename(p.path))
        _attach_mapping(self.table, parts, self.version)
        for p in parts:
            p.want = self.want
        return parts

    def read(self, partition: _FilePartition):
        return _read_file(partition)


@dataclass
class _DirCommit(WriterCommitMessage):
    rel_dir: str | None  # None when the task partition was empty
    stats: dict | None = None  # executor-computed per-column [min, max]


def _batch_stats(batches) -> dict:
    """Per-column [min, max] over arrow RecordBatches — computed IN THE
    WRITE TASK (executor-side, zero extra I/O) and shipped to the driver
    via the commit message, so commit() never re-opens footers: the
    AddFile-stats flow that keeps commit cost independent of file count
    at scale. Only int/float/str columns participate (the same rule as
    the footer harvest)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    stats: dict[str, list] = {}
    for b in batches:
        for i, f in enumerate(b.schema):
            t = f.type
            if not (pa.types.is_integer(t) or pa.types.is_floating(t)
                    or pa.types.is_string(t) or pa.types.is_large_string(t)):
                continue
            col = b.column(i)
            if col.null_count == len(col):
                continue
            mm = pc.min_max(col)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if mn is None:
                continue
            cur = stats.get(f.name)
            stats[f.name] = ([mn, mx] if cur is None else
                             [min(cur[0], mn), max(cur[1], mx)])
    return stats


class _TxnWriterBase:
    """Shared executor-side write: each task writes its own commit dir
    under ``data/`` (invisible until a log doc references it), the driver
    publishes all task dirs in ONE atomic commit — the manifest-commit
    pattern every lakehouse sink uses; failed/speculative task dirs are
    never referenced and fall to ``vacuum()``."""

    def __init__(self, path: str, schema):
        self.path = path
        self.spark_schema = schema
        # writes would store the frame's LOGICAL names while a mapped
        # table's files must carry PHYSICAL ones — refuse clearly (the
        # Python API, TxnTable.append/merge, maps at the write)
        if TxnTable.is_table(path) and \
                TxnTable(path).column_mapping(None):
            raise ValueError(
                "txnlog DataSource writes to a column-mapped table are "
                "not supported — use TxnTable.append()/merge(), which "
                "map logical column names to the table's physical ones")
        if TxnTable(path).generation_config():
            raise ValueError(
                "txnlog DataSource writes to a generated/identity table "
                "are not supported — executors write files before the "
                "commit, so identity values could not be allocated from "
                "the table's high water; use TxnTable.append()/merge() "
                "or the foreachBatch append sink "
                "(streaming/pipeline.write_stream_txn_append)")

    def write(self, iterator) -> _DirCommit:
        # Arrow path (DataSourceArrowWriter): RecordBatches arrive over
        # the Arrow channel — no Row pickling, no per-row dict building;
        # measured ~5x the Row-iterator writer's throughput on the CDC
        # bench. Executor-side and zero-copy until the parquet encode.
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows > 0]
        if not batches:
            return _DirCommit(None)
        t = pa.Table.from_batches(batches)
        rel = os.path.join("data", _uuid.uuid4().hex)
        os.makedirs(os.path.join(self.path, rel), exist_ok=True)
        pq.write_table(t, os.path.join(self.path, rel, "part-0.parquet"))
        return _DirCommit(rel, _batch_stats(batches))

    def _adds(self, messages) -> list[str]:
        return [m.rel_dir for m in messages if m is not None and m.rel_dir]

    def _stats(self, messages) -> dict[str, dict]:
        return {m.rel_dir: m.stats for m in messages
                if m is not None and m.rel_dir and m.stats is not None}

    def _drop(self, messages) -> None:
        import shutil

        for rel in self._adds(messages):
            shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)


class _TxnStreamWriter(_TxnWriterBase, DataSourceStreamArrowWriter):
    """Exactly-once sink. The replay guard is the table's stream-batch
    ledger, checked inside ``TxnTable.commit`` (Delta's SetTransaction
    rule: it scans the WHOLE log for this sink's highest committed batch
    id, so an interleaved compact()/second writer cannot mask it —
    ADVICE r3). A replayed batch surfaces as :class:`TxnReplayError`
    and its files are dropped. ``txnAppId`` (option) scopes the ledger
    when several independent streams append to one table."""

    def __init__(self, path: str, schema, app_id: str | None):
        super().__init__(path, schema)
        self.app_id = app_id

    def commit(self, messages, batchId: int) -> None:
        adds = self._adds(messages)
        if not adds:
            return
        table = TxnTable(self.path)
        txn = _Txn(adds, [], _stream_meta(batchId, self.app_id,
                                          "stream_append"),
                   stats=self._stats(messages))
        try:  # blind append: a lost version race rebases
            table._transact(txn, _rebase_same)
        except TxnReplayError:
            return  # replayed batch: already committed, files reclaimed
        # Delta-style maintenance from the writer: one commit per
        # micro-batch makes the log the fastest-growing metadata in the
        # system, so the sink checkpoints it every 10 commits — snapshot
        # planning stays O(interval), not O(stream lifetime).
        table.checkpoint_if_needed()

    def abort(self, messages, batchId: int) -> None:
        self._drop(messages)


class _TxnBatchWriter(_TxnWriterBase, DataSourceArrowWriter):
    def __init__(self, path: str, schema, overwrite: bool):
        super().__init__(path, schema)
        self.overwrite = overwrite

    def commit(self, messages) -> None:
        table = TxnTable(self.path)
        adds = self._adds(messages)
        stats = self._stats(messages)
        if self.overwrite:
            # Base version captured ONCE: removes and expected_version come
            # from the same snapshot, so a commit landing in between makes
            # this overwrite raise TxnConflictError instead of silently
            # retaining the interloper's files (ADVICE r3 TOCTOU). An
            # empty-input overwrite commits removes-only — a legal empty
            # snapshot (TxnTable.read returns 0 rows with the prior
            # schema).
            def attempt(base: int) -> _Txn | None:
                removes = table.snapshot_dirs(base)
                if adds or removes:
                    return _Txn(adds, removes, {"operation": "overwrite"},
                                stats=stats)
                return None

            table._transact(attempt)
        elif adds:  # blind append: a lost version race rebases
            table._transact(_Txn(adds, [], {"operation": "append"},
                                 stats=stats), _rebase_same)

    def abort(self, messages) -> None:
        self._drop(messages)


class TxnLogDataSource(DataSource):
    """``format("txnlog")`` — register once per session with
    :func:`register_txn_source`. Options: ``path`` (table root; or pass to
    ``load()``), ``version`` / ``timestampAsOf`` (batch time travel by
    log version or epoch-seconds wall clock), ``pruneCol`` /
    ``pruneMin`` / ``pruneMax`` (batch file skipping via footer stats —
    plan-level only, combine with ``.filter()``), ``skipChangeCommits``
    (streaming read: skip rewrite commits instead of failing — keeps a
    compacted table streamable), ``txnAppId`` (streaming write: scope the
    exactly-once replay guard to this sink when several streams append to
    one table)."""

    @classmethod
    def name(cls) -> str:
        return "txnlog"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("txnlog: .load(<table path>) is required")
        return path

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField)

        import pyarrow.parquet as pq

        table = TxnTable(self._path())
        version = self.options.get("version")
        ts = self.options.get("timestampAsOf")
        if ts is not None and version is None:
            version = table.version_at(float(ts))
        v = None if version is None else int(version)
        dirs = table.snapshot_dirs(v)
        if not dirs:
            # legal empty snapshot (removes-only commit): schema comes
            # from the newest data the log ever referenced
            dirs = table._schema_dirs(v)  # noqa: SLF001
        if not dirs:
            raise ValueError(f"txnlog: empty table {table.path}")
        files = _files_of(table, dirs)
        logged = table.table_schema(v)
        if logged is not None:
            # the log-recorded MERGED schema (version-aware, union
            # across additive evolution — r10): the authoritative
            # declaration. A newest-file read would under-declare when
            # the most recent append legitimately omitted an evolved
            # column (mergeSchema null-fills it), making older files'
            # extra columns look like a mid-plan evolution.
            spark_schema = logged
        else:
            # fallback (partitioned adds / pre-schema history): columns
            # from the newest commit; the partition column's type is
            # inferred over ALL live partition values so it matches
            # what _read_file attaches executor-side (ADVICE r3).
            newest = _files_of(table, dirs[-1:])
            import pyarrow as pa
            arrow = pa.schema([
                pa.field(f.name, pa.timestamp("us", f.type.tz))
                if pa.types.is_timestamp(f.type) and f.type.unit != "us"
                else f
                for f in pq.read_schema(newest[0].path)])
            spark_schema = from_arrow_schema(arrow)
            if newest[0].part_cols:
                m = {"int32": IntegerType(), "int64": LongType(),
                     "string": StringType()}
                # types come from the FULL live file set (matching what
                # _read_file attaches executor-side), names/order from
                # the newest commit's layout
                full = next((p for p in files if p.part_cols),
                            newest[0])
                ty = dict(zip(full.part_cols, full.part_types))
                for c in newest[0].part_cols:
                    spark_schema = spark_schema.add(
                        StructField(c, m[ty.get(c, "string")]))
        if str(self.options.get("readChangeFeed", "false")).lower() == "true":
            spark_schema = (spark_schema
                            .add(StructField("_change_type", StringType()))
                            .add(StructField("_commit_version", LongType())))
        # every field nullable: additive evolution null-fills old rows
        # (and lakehouse table columns are nullable by default) — a
        # writer-recorded non-nullable field would NPE the row encoder
        # on the backfill
        from pyspark.sql.types import StructType

        return StructType([StructField(f.name, f.dataType, True)
                           for f in spark_schema.fields])

    def streamReader(self, schema) -> _TxnStreamReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        skip = str(self.options.get("skipChangeCommits",
                                    self.options.get("ignoreChanges",
                                                     "false"))).lower()
        cdf = str(self.options.get("readChangeFeed", "false")).lower()
        return _TxnStreamReader(self._path(), skip_change_commits=skip == "true",
                                change_feed=cdf == "true",
                                want=to_arrow_schema(schema))

    def reader(self, schema) -> _TxnBatchReader:
        version = self.options.get("version")
        ts = self.options.get("timestampAsOf")
        if ts is not None and version is None:
            version = TxnTable(self._path()).version_at(float(ts))
        prune = None
        if self.options.get("pruneCol"):
            # FILE-LEVEL skipping only: dirs whose footer min/max for
            # pruneCol overlap [pruneMin, pruneMax] are planned, others
            # skipped — pair with .filter() for the row-level residual
            # (TxnTable.read_range bundles both for the Python API).
            prune = (self.options["pruneCol"],
                     _typed(self.options.get("pruneMin")),
                     _typed(self.options.get("pruneMax")))
        from pyspark.sql.pandas.types import to_arrow_schema

        return _TxnBatchReader(self._path(),
                               None if version is None else int(version),
                               prune, want=to_arrow_schema(schema))

    def streamWriter(self, schema, overwrite: bool) -> _TxnStreamWriter:
        return _TxnStreamWriter(self._path(), schema,
                                self.options.get("txnAppId"))

    def writer(self, schema, overwrite: bool) -> _TxnBatchWriter:
        return _TxnBatchWriter(self._path(), schema, overwrite)


def register_txn_source(spark) -> None:
    spark.dataSource.register(TxnLogDataSource)
