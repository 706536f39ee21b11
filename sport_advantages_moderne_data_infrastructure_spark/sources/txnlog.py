"""Transactional parquet table ("txn table") — a minimal commit-log format
supplying the Delta-sink semantics the reference's pipeline relies on
(streaming Delta append, spark/SaveDelta.scala:157-163; batch Delta
overwrite with overwriteSchema, airflow/config/read_delta.py:219-222;
MERGE-shaped rewrites, SURVEY §4.3) in an environment without io.delta
jars. This is NOT a Delta Lake reimplementation — it is the smallest
commit protocol that makes the engine's overwrite/merge sinks atomic,
snapshot-isolated, and replay-idempotent, so the semantics are testable.

Layout::

    <table>/
      data/<commit-uuid>/part-*.parquet   one Spark-written dir per commit
      _txnlog/00000000000.json            one commit doc per version

A commit doc is ``{"version": N, "adds": [dirs], "removes": [dirs],
"meta": {...}}`` where dirs are table-relative data directories. The live
snapshot at version V is the union of adds minus removes over log[0..V].

Why this is crash-safe (the failure mode ADVICE r2 flagged in the
non-transactional stream-merge overwrite): data files are written FIRST,
under ``data/``, where no reader looks until a log doc references them;
the log doc is then published by writing a temp file and hard-linking it
to its final versioned name. ``os.link`` is atomic and fails if the name
exists, so a crash anywhere leaves either the old latest version (plus
unreferenced orphan data, reclaimable via :meth:`TxnTable.vacuum`) or the
complete new one — never a torn table. The link-fails-if-exists property
doubles as optimistic concurrency control: two writers racing to commit
version N+1 produce one winner and one :class:`TxnConflictError`, which
every write resolves in one loop, :meth:`TxnTable._transact` (rebase,
redo or raise; bounded, backed off, its files reclaimed).

Scale notes (100 TB): the protocol is exactly the one lakehouse formats
use on object stores — metadata is O(commits), data I/O is only the
files a commit touches, readers plan from the log without listing the
table. On S3/HDFS the ``os.link`` publish step becomes the filesystem's
put-if-absent primitive (what Delta's LogStore abstracts); everything
else is unchanged. Snapshot planning is driver-side by design — the log
is metadata, not data.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG_DIR = "_txnlog"
_DATA_DIR = "data"
_CHANGES_DIR = "changes"  # row-level change files (the Delta _change_data
# analog): written by merge/delete alongside their data rewrite,
# referenced by the commit doc's "changes" key, consumed by read_changes
_HINT_FILE = "_latest.json"  # Delta's _last_checkpoint analog: a HINT
# ({"latest": v, "checkpoint": cv}) rewritten after every commit /
# checkpoint so the hot paths (latest_version on every commit, snapshot
# planning on every read) cost O(log tail) file probes instead of an
# O(commits) log-dir listing — the term that made commit latency creep
# 3.5 -> 15 ms over 1,202 commits (VERDICT r5 #2). Correctness never
# depends on it: it may be STALE (a crash or racing writer loses an
# update) but never ahead (written only after the commit doc links), and
# commit versions are gap-free, so a forward existence-probe from the
# hinted version always recovers the true latest; a missing/corrupt hint
# falls back to the full listing.


class TxnConflictError(RuntimeError):
    """Another writer committed the version this writer raced for."""


class TxnReplayError(TxnConflictError):
    """The commit's ``(stream_app_id, stream_batch_id)`` is already in
    the table's ledger: a replayed stream batch. Terminal — the batch
    is committed, so writers drop their data instead of retrying."""


class TxnProtocolError(RuntimeError):
    """The table requires a newer reader/writer than this library."""


# protocol versions THIS library implements (Delta's protocol action):
# a future format change bumps the minimum and old readers fail with a
# clear error instead of silently misreading the log
READER_VERSION = 1   # minimum we stamp into NEW tables' protocol docs
WRITER_VERSION = 1
DV_READER_VERSION = 2   # a table's first deletion-vector commit raises
# its min_reader to this: a v1 reader would silently RESURRECT deleted
# rows (exactly why Delta gates DVs behind a protocol bump)
CM_READER_VERSION = 3   # column mapping (r11): a renamed/dropped column
# changes what physical file columns MEAN — a pre-mapping reader would
# misbind or resurrect columns, so the first rename/drop raises the
# table's floor (Delta gates columnMapping the same way)
TW_READER_VERSION = 3   # type widening (r11): a widened table's files
# carry MIXED physical types under one logical (wide) schema — readers
# must upcast at the scan (Delta gates this behind the typeWidening
# table feature); r11 readers are the floor for both r11 features
GEN_WRITER_VERSION = 2  # generated/identity columns (r11) move value
# production INTO the writer: a pre-generation writer would append rows
# with generated columns missing/stale and identity ids unallocated —
# the first declaration raises the table's min_WRITER floor. READERS
# are unaffected (values are materialized in the files like any
# column), which is exactly why Delta gates these as writer features.
PART_WRITER_VERSION = 3  # declared partition layout (r12): writes must
# lay data out as col=value subdirs — a pre-declaration writer's plain
# _write_data commit would strand rows outside partition-granular
# bookkeeping (the exact mixed layout set_partition_column refuses to
# create), so the declaration raises the table's min_WRITER floor and
# old writers refuse cleanly at _check_protocol. Readers are
# unaffected (partition subdirs read like any snapshot).
_READER_CAPABILITY = 3  # what this library can read
_WRITER_CAPABILITY = 3  # what this library can write
_DV_DIR = "dv"  # deletion-vector files (Delta's DV sidecars): parquet of
# (src_dir, src_file, row_idx) naming deleted row positions; referenced
# from commit docs' "dvs" key ({data_dir: {"path": dv_rel, "rows": n}},
# cumulative per dir, null value = mapping cleared). A DV delete commits
# METADATA + a tiny position file — the data files are never rewritten.
_DV_SCHEMA = "src_dir string, src_file string, row_idx long"  # the fixed
# schema of a DV position file (row_idx is _metadata.row_index)


_INHERIT = object()  # commit() sentinel: "no column-mapping override —
# propagate the base version's" (distinct from an explicit None, which
# CLEARS the mapping, e.g. restore to a pre-mapping version)

_COMMIT_ATTEMPTS = 20  # rounds TxnTable._transact tries, rebase and
# redo alike. Every lost round means ANOTHER writer's commit landed
# (global progress), so this bounds how many competing commits one
# write tolerates — not a luck budget.
_TRANSACTING = threading.local()  # .paths: tables with a _transact
# running on this thread; a nested one is single-shot (one budget)


class _Txn:
    """One attempt of a write: the commit that publishes it
    (``adds``, ``removes``, ``meta`` and the keyword arguments of
    :meth:`TxnTable.commit` in ``kw``) — and so every dir the attempt
    wrote: the commit roots of ``adds``, the ``changes`` dir and the
    ``dvs`` position files, which :meth:`TxnTable._transact` reclaims
    when the attempt does not commit."""

    def __init__(self, adds: list[str], removes: list[str],
                 meta: dict | None = None, **kw):
        self.adds, self.removes, self.meta, self.kw = \
            adds, removes, meta, kw


def _rebase_same(txn: _Txn, base: int, latest: int) -> _Txn:
    """Conflict rule of a write that touched no existing file (a blind
    append): a lost race is never a semantic conflict, so the same
    files re-publish on top of the winner."""
    return txn


def _redo(txn: _Txn | None, base: int, latest: int) -> None:
    """Conflict rule of a write whose files embody the snapshot it
    read: scrap them and run the attempt again on the winner's."""
    return None


def _widens_to(a, b) -> bool:
    """True when Spark type ``a`` safely widens to ``b`` (the Delta
    type-widening lattice): int8 -> .. -> int64, float -> double, any
    int -> double.
    Lossless by construction — files keep their narrow physical type
    and readers upcast at the scan, never a rewrite."""
    from pyspark.sql.types import (ByteType, DoubleType, FloatType,
                                   IntegerType, LongType, ShortType)

    ints = [ByteType(), ShortType(), IntegerType(), LongType()]
    if a in ints and b in ints:
        return ints.index(a) <= ints.index(b)
    if b == DoubleType():
        # int64 -> double is LOSSY past 2^53 (excluded, as Delta does);
        # int32 and below are exactly representable in float64
        return a in (FloatType(), ByteType(), ShortType(),
                     IntegerType())
    return False


def _bloom_canon(value) -> str:
    """Canonical hash key for a bloom value. Numeric values that compare
    equal MUST hash identically regardless of Python type — a double
    column storing 371.0 probed with int 371 would otherwise be a FALSE
    NEGATIVE (dir pruned, matching rows dropped). Int-valued floats and
    Decimals collapse to the int string; fractional Decimals normalize to
    the float-style repr. Remaining cross-type collisions (int 1 vs str
    "1") are in the false-POSITIVE direction only, which the residual
    equality filter absorbs."""
    from decimal import Decimal

    if isinstance(value, bool):
        return str(value)
    if isinstance(value, float):
        return str(int(value)) if value.is_integer() else repr(value)
    if isinstance(value, int):
        return str(value)
    if isinstance(value, Decimal):
        if value == value.to_integral_value():
            return str(int(value))
        return repr(float(value))  # align with float storage of same value
    return str(value)


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """Bit positions for ``value`` via Kirsch-Mitzenmacher double hashing
    over one md5 (h1 + i*h2 mod m) — stable across Python processes
    (never the salted builtin ``hash``), so a bloom written by one driver
    prunes correctly in another. Values canonicalize through
    :func:`_bloom_canon` so numerically-equal values of different Python
    types (371 vs 371.0 vs Decimal("371")) agree between build and probe;
    residual collisions are false-positive-only and the equality filter
    keeps reads exact."""
    import hashlib

    d = hashlib.md5(_bloom_canon(value).encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd: full cycle for any m
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_build(values, m: int, k: int) -> str:
    """Hex-encoded m-bit bloom filter over ``values``."""
    bits = 0
    for v in values:
        if v is None:
            continue
        for p in _bloom_positions(v, m, k):
            bits |= 1 << p
    return format(bits, "x")


def _bloom_may_contain(hex_bits: str, value, m: int, k: int) -> bool:
    bits = int(hex_bits, 16)
    return all(bits >> p & 1 for p in _bloom_positions(value, m, k))


def _partition_of(rel_dir: str) -> tuple[str, str] | None:
    """``data/<uuid>/date=2024-01-01`` → ("date", "2024-01-01");
    None for a plain (unpartitioned) commit dir. The value is the RAW
    path segment — Hive-escaped for special chars (a timestamp key
    writes ``ts=2024-01-01 00%3A00%3A00``); decode with
    :func:`_unescape_partition` before comparing to logical values."""
    base = os.path.basename(rel_dir)
    if "=" in base:
        col, _, val = base.partition("=")
        return col, val
    return None


def _unescape_partition(value: str) -> str:
    """Decode Hive-style %XX escapes in a partition path value — what
    ``partitionBy`` writes for ``:``, ``=``, ``%``, … . Unlike URL
    decoding, ``+`` stays literal (urllib's unquote already treats it
    so)."""
    from urllib.parse import unquote

    return unquote(value)


def _partition_segs(rel_dir: str) -> list[tuple[str, str]]:
    """ALL ``col=value`` path segments of a commit-relative dir, in
    layout order — ``[]`` for a plain dir, one pair for a single-key
    layout, N pairs for a nested multi-key layout
    (``data/<uuid>/date=2024-01-01/region=EU`` →
    ``[("date","2024-01-01"), ("region","EU")]``, r13's Delta-canonical
    date × business-key shape). Values are RAW (Hive-escaped) path
    segments; decode with :func:`_unescape_partition`. Commit uuid dirs
    never contain ``=`` (hex), so the split is unambiguous; a literal
    ``=`` inside a value is Hive-escaped to ``%3D`` by the writer."""
    out = []
    for seg in rel_dir.split(os.sep):
        if "=" in seg:
            col, _, val = seg.partition("=")
            out.append((col, val))
    return out


def _commit_root(rel_dir: str) -> str:
    """The ``data/<uuid>`` commit root of a (possibly nested) partition
    subdir — the ``basePath`` Spark needs to re-derive EVERY partition
    column from the path. Plain dirs return themselves."""
    parts = rel_dir.split(os.sep)
    while parts and "=" in parts[-1]:
        parts.pop()
    return os.sep.join(parts)


def _partition_suffix(rel_dir: str) -> str:
    """The ``c1=v1[/c2=v2…]`` suffix of a partition subdir — the
    layout-relative identity of one partition across commits (what
    ``overwrite_partitions`` matches removes on), '' for plain dirs."""
    parts = rel_dir.split(os.sep)
    segs = []
    while parts and "=" in parts[-1]:
        segs.append(parts.pop())
    return os.sep.join(reversed(segs))


class TxnTable:
    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        # exact Spark schema of the dirs and partition leaves this
        # instance wrote, consumed by commit() when it logs the table
        # schema (externally placed plain dirs fall back to a footer)
        self._pending_schemas: dict = {}
        self._derived: dict = {}  # version -> derived legacy schema

    # -- log plumbing -----------------------------------------------------

    @staticmethod
    def is_table(path: str) -> bool:
        return os.path.isdir(os.path.join(path, _LOG_DIR))

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(self.log_dir)
            if f.endswith(".json") and ".checkpoint." not in f
            and f.split(".")[0].isdigit())  # skip config docs (bloom.json)

    # -- latest-version hint (see _HINT_FILE) ------------------------------

    def _read_hint(self) -> dict:
        try:
            with open(os.path.join(self.log_dir, _HINT_FILE)) as fh:
                h = json.load(fh)
            return h if isinstance(h, dict) else {}
        except (OSError, ValueError):
            return {}

    def _write_hint(self, latest: int | None = None,
                    checkpoint: int | None = None) -> None:
        """Best-effort: merged read-modify-write, atomic replace. A lost
        race between concurrent writers leaves the hint STALE, which the
        forward probe absorbs; any write error is swallowed (the hint is
        pure optimization)."""
        try:
            h = self._read_hint()
            if latest is not None:
                h["latest"] = max(latest, h.get("latest", -1))
            if checkpoint is not None:
                h["checkpoint"] = max(checkpoint, h.get("checkpoint", -1))
            tmp = os.path.join(self.log_dir, f".hint-{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                json.dump(h, fh)
            os.replace(tmp, os.path.join(self.log_dir, _HINT_FILE))
        except OSError:
            pass

    def _has_version(self, v: int) -> bool:
        return os.path.exists(
            os.path.join(self.log_dir, f"{v:011d}.json"))

    def latest_version(self) -> int | None:
        h = self._read_hint().get("latest")
        if isinstance(h, int) and h >= 0 and self._has_version(h):
            while self._has_version(h + 1):  # hint stale: probe forward
                h += 1
            return h
        v = self.versions()  # no/corrupt hint: full listing
        return v[-1] if v else None

    def _versions_tail(self, floor: int,
                       upto: int | None = None) -> list[int]:
        """Commit versions in (floor, upto], ascending, via O(tail)
        existence probes — valid because versions are gap-free (every
        commit links at exactly latest+1 and log docs are never deleted).
        The hot planning path: with a checkpoint floor this replaces the
        full log-dir listing snapshot_dirs used to pay per read."""
        out = []
        v = max(floor, -1) + 1
        while self._has_version(v) and (upto is None or v <= upto):
            out.append(v)
            v += 1
        return out

    def _doc(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, f"{version:011d}.json")) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        return [self._doc(v) for v in self.versions()]

    # -- log checkpoints ---------------------------------------------------
    #
    # A checkpoint is the reconstructed table state at one version, written
    # as ``_txnlog/<version>.checkpoint.json`` — Delta's parquet checkpoint
    # in miniature. Readers plan from the NEWEST checkpoint at-or-below
    # their target version and replay only the tail commits, so snapshot
    # planning costs O(commits since checkpoint) instead of O(all commits):
    # the metadata term that otherwise grows without bound on a table fed
    # by a 30-second streaming trigger (2,880 commits/day). Checkpoints are
    # pure metadata — commit docs stay in place, so time travel to any
    # pre-checkpoint version still full-replays correctly.

    def checkpoints(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(self.log_dir)
            if f.endswith(".checkpoint.json"))

    def _checkpoint_doc(self, version: int) -> dict:
        p = os.path.join(self.log_dir, f"{version:011d}.checkpoint.json")
        with open(p) as fh:
            return json.load(fh)

    def _base_checkpoint(self, version: int | None) -> dict | None:
        """Newest checkpoint doc at-or-below ``version`` (None = latest).
        Served from the hint when possible (no log-dir listing); a stale
        hint returns an OLDER checkpoint, which replays a longer tail but
        stays correct."""
        hv = self._read_hint().get("checkpoint")
        if (isinstance(hv, int) and hv >= 0
                and (version is None or hv <= version)
                and os.path.exists(os.path.join(
                    self.log_dir, f"{hv:011d}.checkpoint.json"))):
            return self._checkpoint_doc(hv)
        for cv in reversed(self.checkpoints()):
            if version is None or cv <= version:
                return self._checkpoint_doc(cv)
        return None

    def checkpoint(self, version: int | None = None) -> int:
        """Write a checkpoint of the state at ``version`` (default latest).
        Published with the same tmp+hard-link protocol as commit docs, so
        concurrent checkpointers produce one file; a checkpoint already
        existing at the version is success, not conflict (the content is a
        pure function of the log prefix)."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise ValueError(f"nothing to checkpoint: {self.path}")
        prev = self._base_checkpoint(version)
        per_app, last_bid = self._stream_ids_upto(version, prev)
        doc = {
            "checkpoint_version": version,
            "live": self.snapshot_dirs(version),
            "dvs": self.snapshot_dvs(version),
            "stats": self._live_stats(version),
            "rows": self._live_rows_gross(version),
            "bloom": self._live_blooms(version),
            "schema_dirs": self._schema_dirs(version),
            "stream_batch_ids": per_app,
            "last_stream_batch_id": last_bid,
        }
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        final = os.path.join(self.log_dir,
                             f"{version:011d}.checkpoint.json")
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError:
            pass  # idempotent: same log prefix -> same checkpoint
        finally:
            os.unlink(tmp)
        self._write_hint(checkpoint=version)
        return version

    def checkpoint_if_needed(self, interval: int = 10) -> int | None:
        """Maintenance hook (Delta writes a checkpoint every 10 commits):
        checkpoint when ``interval`` or more commits landed since the last
        one. Returns the checkpointed version, or None."""
        latest = self.latest_version()
        if latest is None:
            return None
        hv = self._read_hint().get("checkpoint")
        if isinstance(hv, int) and hv >= 0:
            base = hv  # stale hint at worst re-checkpoints early: benign
        else:
            cps = self.checkpoints()
            base = cps[-1] if cps else -1
        if latest - base < interval:
            return None
        return self.checkpoint(latest)

    def _stream_ids_upto(self, version: int,
                         prev: dict | None) -> tuple[dict, int | None]:
        """(per-app max stream_batch_id, newest stream commit's id) over
        log[0..version], built incrementally from the previous checkpoint."""
        per_app = dict((prev or {}).get("stream_batch_ids", {}))
        last_bid = (prev or {}).get("last_stream_batch_id")
        floor = (prev or {}).get("checkpoint_version", -1)
        for v in self._versions_tail(floor, version):
            meta = self._doc(v).get("meta", {})
            bid = meta.get("stream_batch_id")
            if bid is None:
                continue
            app = meta.get("stream_app_id", "")
            if per_app.get(app) is None or bid > per_app[app]:
                per_app[app] = bid
            last_bid = bid
        return per_app, last_bid

    def _check_protocol(self, writer: bool = False) -> None:
        """Fail CLEARLY when the table's log demands a newer library
        (Delta's protocol action): a future format change bumps the
        table's minimum and old code stops here instead of misreading."""
        proto = getattr(self, "_protocol_cache", None)
        if proto is None:
            p = os.path.join(self.log_dir, "protocol.json")
            if not os.path.exists(p):
                return  # pre-protocol table: current rules apply
            with open(p) as fh:
                proto = json.load(fh)
            # cache positive reads only (a table's protocol is
            # append-once); absence re-checks until commit 0 lands
            self._protocol_cache = proto
        need = proto.get("min_writer_version" if writer
                         else "min_reader_version", 1)
        have = _WRITER_CAPABILITY if writer else _READER_CAPABILITY
        if need > have:
            kind = "writer" if writer else "reader"
            raise TxnProtocolError(
                f"table {self.path} requires {kind} protocol >= {need}; "
                f"this library implements {have} — upgrade before "
                f"{'writing' if writer else 'reading'}")

    def snapshot_dirs(self, version: int | None = None) -> list[str]:
        """Table-relative live data dirs at ``version`` (default latest).
        Plans from the newest checkpoint at-or-below the target and
        replays only the tail commits."""
        self._check_protocol()
        cp = self._base_checkpoint(version)
        live: list[str] = list(cp["live"]) if cp else []
        floor = cp["checkpoint_version"] if cp else -1
        for v in self._versions_tail(floor, version):
            doc = self._doc(v)
            removed = set(doc["removes"])
            live = [d for d in live if d not in removed] + doc["adds"]
        return live

    # -- deletion vectors (Delta's DV sidecars) ----------------------------
    #
    # A DV delete never rewrites data files: the commit records, per data
    # dir, a position file naming the deleted rows, and every read path
    # anti-joins those positions out via the parquet scan's
    # _metadata.file_path/row_index. At 100 TB this turns "delete 100
    # rows from a 1 TB partition" from a 1 TB rewrite into a KB-sized
    # metadata commit; rewites (compact/merge/delete/update) naturally
    # MATERIALIZE the DVs because they read through the DV-filtered
    # snapshot and their commits remove the dir (dropping its mapping).

    def snapshot_dvs(self, version: int | None = None) -> dict[str, dict]:
        """dir -> {"path": dv_rel, "rows": n_deleted} for live dirs with
        deletion vectors at ``version`` (checkpoint-accelerated like
        snapshot_dirs). A commit's "dvs" entries replace the mapping for
        their dirs (null clears it); removing a dir drops its entry."""
        cp = self._base_checkpoint(version)
        out: dict[str, dict] = dict(cp.get("dvs", {})) if cp else {}
        floor = cp["checkpoint_version"] if cp else -1
        for v in self._versions_tail(floor, version):
            doc = self._doc(v)
            for d in doc["removes"]:
                out.pop(d, None)
            for d, ref in doc.get("dvs", {}).items():
                if ref is None:
                    out.pop(d, None)
                else:
                    out[d] = ref
        return out

    # dir/file key of a scanned row, matching the DV's src_file column:
    # the table-relative path — data/<uuid>/<file> for plain dirs,
    # data/<uuid>/<col>=<val>/<file> for partition subdirs. Depth is
    # decided per ROW by whether the third-from-last segment is the
    # data dir itself (a partition segment always carries '=' and a
    # commit uuid is hex, so neither can collide with the literal)
    #: depth-AGNOSTIC (r13): the commit root is always data/<32-hex>
    #: and every partition segment below it carries '=' with no '/', so
    #: one anchored regexp recovers the table-relative path at ANY
    #: nesting depth — the pre-r13 fixed-depth CASE handled plain and
    #: single-key layouts but silently mangled a multi-key path's key
    #: (dropped the data/ prefix), committing DVs whose dir mapping
    #: matched no live dir: the delete reported success and masked
    #: nothing on read.
    _DV_FILE_KEY = (
        "regexp_extract(_metadata.file_path, "
        f"'/({_DATA_DIR}/[0-9a-f]{{32}}(?:/[^/]+=[^/]*)*/[^/]+)$', 1)")

    def _dvs_for(self, dirs: list[str],
                 version: int | None = None) -> dict[str, dict]:
        """The snapshot DV mapping restricted to ``dirs``."""
        want = set(dirs)
        return {d: ref for d, ref in self.snapshot_dvs(version).items()
                if d in want}

    # -- reads ------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot (or time-travel, with ``version=``) read. Planning is
        log-driven: no directory listing of ``data/``, so orphans from
        crashed writers are invisible. The scan plans with the logged
        table schema (:meth:`table_schema`, partition keys included)
        through :meth:`_scan`, so building the frame runs no Spark job
        on any layout."""
        if self.latest_version() is None:
            raise ValueError(f"not a txn table (no commits): {self.path}")
        dirs = self.snapshot_dirs(version)
        if dirs:
            return self._scan(spark, dirs, version)
        # A removes-only commit (e.g. overwrite with an empty frame)
        # leaves a legal empty snapshot: 0 rows of the table schema,
        # mirroring how a lakehouse table stays queryable after
        # DELETE-all.
        from pyspark.sql.types import StructField, StructType

        sch = self.table_schema(version)
        if sch is None:
            raise ValueError(f"empty snapshot at version {version}")
        return spark.createDataFrame([], StructType([
            StructField(f.name, f.dataType, True, f.metadata)
            for f in sch.fields]))

    def _schema_dirs(self, version: int | None = None) -> list[str]:
        """Adds of the newest commit at/before ``version`` that added data
        — the schema source for empty snapshots. The reverse scan stops at
        the newest checkpoint, which recorded the answer for its prefix."""
        cp = self._base_checkpoint(version)
        floor = cp["checkpoint_version"] if cp else -1
        for v in reversed(self._versions_tail(floor, version)):
            adds = self._doc(v)["adds"]
            if adds:
                return adds
        return cp["schema_dirs"] if cp else []

    def read_partitions(self, spark: SparkSession, values: list,
                        version: int | None = None) -> DataFrame:
        """Partition-pruned snapshot read: only the log entries whose
        ``col=value`` path segment matches are planned — METADATA pruning,
        zero storage I/O for everything else (the lakehouse read path at
        100 TB: the log, not a directory listing, decides what to scan)."""
        want = {str(v) for v in values}
        pairs = [(d, _partition_segs(d))
                 for d in self.snapshot_dirs(version)]
        # multi-key layouts match on the LEADING key's value — prefix
        # pruning (a value selects every nested subpartition under it);
        # full-predicate pruning is read_partitions_where
        dirs = [d for d, p in pairs
                if p
                and (p[0][1] in want
                     or _unescape_partition(p[0][1]) in want)]
        if not dirs:
            raise ValueError(f"no live partitions match {values}")
        return self._scan(spark, dirs, version)

    def read_partitions_where(self, spark: SparkSession, condition: str,
                              version: int | None = None) -> DataFrame:
        """Predicate-pruned partition read (r12; r13 multi-key):
        evaluate ``condition`` — SQL over the partition KEYS only, e.g.
        ``order_year >= '1998' AND region = 'EU'`` — against the live
        partition VALUES and read only the surviving nested
        ``col=value`` subdirs. Predicates over ANY subset of the keys
        prune: leading-prefix-only, trailing-key-only, and both-key
        conjunctions all evaluate on the same tiny values frame. The
        evaluation runs over one local frame of the distinct partition
        TUPLES (bounded by the live partition count — the same
        driver-side bound the log walk itself carries), so pruning is
        METADATA-only: zero storage I/O for non-matching partitions,
        the partition-by-generated read path at 100 TB (one year of
        daily partitions × regions = bounded candidate tuples, whatever
        the table's size). Values evaluate TYPED
        (:meth:`_typed_partition_values` — an int key's ``day > 2`` is
        numeric, escaped timestamp segments round-trip, and the keys'
        logged types override Hive path inference). An empty
        survivor set — or a partition-declared table whose live set a
        purge emptied — returns an empty frame of the snapshot schema
        rather than raising (a range with no data is an answer)."""
        from pyspark.sql import functions as F

        dirs = [d for d in self.snapshot_dirs(version)
                if _partition_segs(d)]
        cols = self._live_partition_cols(dirs)
        if cols is None:
            if self._part_keys():
                # partition-DECLARED table with an empty live set (a
                # purge dropped every partition): an empty frame is the
                # answer, same as an empty survivor set below
                return self.read(spark, version).limit(0)
            raise ValueError(
                f"read_partitions_where on an unpartitioned table: "
                f"{self.path}")
        vf, segs = self._typed_partition_values(spark, dirs, cols, version)
        keep = {r["__seg"] for r in
                vf.filter(F.expr(condition)).collect()}
        if not keep:
            return self.read(spark, version).limit(0)
        keep_dirs = [d for s in sorted(keep) for d in segs[s]]
        return self._scan(spark, keep_dirs, version)

    #: generation shapes known MONOTONIC in their base column — the
    #: whitelist behind base-column partition-filter inference, the
    #: same mechanism Delta uses (its optimizer recognizes a fixed set
    #: of expression forms over generated partition columns)
    _MONOTONIC_GEN = (
        r"^\s*(?:DATE_FORMAT\(\s*(\w+)\s*,\s*'yyyy(?:-MM(?:-dd)?)?'\s*\)"
        r"|CAST\(\s*(\w+)\s+AS\s+DATE\s*\)"
        r"|YEAR\(\s*(\w+)\s*\)"
        r"|DATE_TRUNC\(\s*'\w+'\s*,\s*(\w+)\s*\))\s*$")

    def generated_base_column(self) -> tuple[str, str] | None:
        """(base_col, generation_expr) when the declared LEADING
        partition key is generated by a WHITELISTED monotonic shape of
        one base column (DATE_FORMAT 'yyyy[-MM[-dd]]', CAST AS DATE,
        YEAR, DATE_TRUNC) — else None. The whitelist is what makes
        :meth:`read_base_range`'s bound mapping sound: for these forms
        ``a <= b`` implies ``T(a) <= T(b)``. On a multi-key layout the
        leading key carries the inference; trailing keys prune via
        explicit read_partitions_where predicates."""
        import re

        cfg = self.generation_config()
        keys = self._part_keys(cfg)
        part = keys[0] if keys else None
        expr = (cfg.get("generated") or {}).get(part)
        if part is None or expr is None:
            return None
        m = re.match(self._MONOTONIC_GEN, expr, re.IGNORECASE)
        if m is None:
            return None
        return next(g for g in m.groups() if g is not None), expr

    def show_partitions(self, version: int | None = None
                        ) -> dict[str, int | None]:
        """{partition value (unescaped) -> NET row count} for the live
        snapshot, from LOG METADATA ALONE (Delta's SHOW PARTITIONS plus
        per-partition counts): per-dir row counts come from the commit
        docs, deletion-vector masks subtract, no data I/O and no Spark
        job — at 100 TB the partition inventory of a daily-partitioned
        table answers in milliseconds. A value maps to None when any of
        its dirs predates row recording (callers fall back to a
        scan)."""
        rows = self._live_rows(version)
        out: dict[str, int | None] = {}
        for d, n in rows.items():
            p = _partition_segs(d)
            if not p:
                continue
            # multi-key layouts key the inventory on the slash-joined
            # value tuple ('1998/EU'); single-key stays the bare value
            v = "/".join(_unescape_partition(x) for _, x in p)
            if v in out and (out[v] is None or n is None):
                out[v] = None
            else:
                out[v] = (out.get(v) or 0) + n if n is not None else None
        return out

    def read_base_range(self, spark: SparkSession, col: str,
                        lo=None, hi=None,
                        version: int | None = None) -> DataFrame:
        """Range read over the BASE column of a generated partition key
        (r12, Delta's generated-column partition filter inference): the
        caller filters on ``col`` (e.g. the raw timestamp) and the
        partition bounds are INFERRED by evaluating the whitelisted
        monotonic generation expression on the range endpoints — the
        read prunes to ``T(lo) <= key <= T(hi)`` metadata-only, then
        applies the exact residual row filter. Tables whose key is not
        a whitelisted shape of ``col`` fall back to a full read +
        filter (correct, just unpruned). Equals
        ``read().filter(lo <= col <= hi)`` exactly."""
        from pyspark.sql import functions as F

        def residual(df: DataFrame) -> DataFrame:
            if lo is not None:
                df = df.filter(F.col(col) >= lo)
            if hi is not None:
                df = df.filter(F.col(col) <= hi)
            return df

        gen = self.generated_base_column()
        if gen is None or gen[0].lower() != col.lower():
            return residual(self.read(spark, version))
        base_col, expr = gen
        part = self._part_keys()[0]

        def key_of(v):
            # evaluate the generation expression on ONE endpoint row —
            # exact engine semantics, no literal-rendering pitfalls
            row = spark.createDataFrame(
                [(v,)], f"`{base_col}` {'timestamp' if hasattr(v, 'hour') else 'date' if hasattr(v, 'year') else 'string'}"
            ).select(F.expr(expr).cast("string").alias("k")).first()
            return row["k"]

        conds = []
        for bound, op in ((lo, ">="), (hi, "<=")):
            if bound is None:
                continue
            k = key_of(bound)
            if k is None:
                # the generation expression didn't evaluate on this
                # endpoint (unparseable literal): pruning would compare
                # against the string 'None' and silently drop
                # partitions — fall back to the exact unpruned read
                return residual(self.read(spark, version))
            conds.append(f"{part} {op} '{k}'")
        if not conds:
            return self.read(spark, version)
        return residual(self.read_partitions_where(
            spark, " AND ".join(conds), version=version))

    def _scan(self, spark: SparkSession, dirs: list[str],
              version: int | None = None, schema=None,
              dvs: dict | None = None, logical: bool = True,
              tagged: bool = False, positions: bool = False) -> DataFrame:
        """The one scan every read, change feed, compaction and rewrite
        plans: ``dirs`` (plain commit dirs, partition leaves, change
        dirs) read with an explicit schema — ``schema``, default the
        logged table schema at ``version`` — in one scan per commit
        root, partition leaves with ``basePath`` so the keys parse from
        the path at the schema's type. Building the frame runs no Spark
        job. Column-mapped tables scan PHYSICAL names and alias to the
        logical schema (``logical=False`` keeps the physical names —
        the change feed aliases once at its anchor). Deletion vectors
        (``dvs``, default the snapshot's for ``dirs``) anti-join out at
        the scan. ``tagged`` adds each row's recorded dir as
        ``_src_dir`` and ``positions`` its file key and row index
        (``__dv_file``, ``__dv_row``) — the row-level rewrite's
        sizing and DV position write."""
        from functools import reduce

        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        if schema is None:
            schema = self.table_schema(version)
        mapping = self.column_mapping(version) or {}
        plan = StructType([
            StructField(mapping.get(f.name, f.name), f.dataType,
                        f.nullable, f.metadata)
            for f in schema.fields])
        # one scan per COMMIT ROOT (data/<uuid>): a nested multi-key
        # leaf's basePath must sit above every col=value level
        groups: dict[str, list[str]] = {}
        for d in dirs:
            groups.setdefault(_commit_root(d) if _partition_segs(d) else "",
                              []).append(d)
        if dvs is None:
            dvs = self._dvs_for(dirs, version)
        keyed = positions or bool(dvs)
        frames = []
        for root, ds in sorted(groups.items()):
            tags = {}
            if tagged:
                tags["_src_dir"] = self._src_dir_col(spark, root, ds)
            if keyed:  # _metadata resolves on the bare scan only
                tags["__dv_file"] = F.expr(self._DV_FILE_KEY)
                tags["__dv_row"] = F.col("_metadata.row_index")
            base_path = {"basePath": os.path.join(self.path, root)} \
                if root else {}
            frames.append(spark.read.schema(plan).options(**base_path)
                          .parquet(*[os.path.join(self.path, d)
                                     for d in ds])
                          .withColumns(tags))
        df = reduce(lambda a, b: a.unionByName(b), frames)
        if dvs:  # already-deleted rows are invisible to every reader
            df = df.join(F.broadcast(self._dv_rows(spark, dvs).select(
                F.col("src_file").alias("__dv_file"),
                F.col("row_idx").alias("__dv_row"))),
                ["__dv_file", "__dv_row"], "left_anti")
        extra = (["_src_dir"] if tagged else []) + (
            ["__dv_file", "__dv_row"] if positions else [])
        return df.select(
            *[F.col(p.name).alias(f.name if logical else p.name)
              for f, p in zip(schema.fields, plan.fields)], *extra)

    def version_at(self, timestamp: float) -> int:
        """Latest version committed at or before ``timestamp`` (epoch
        seconds) — Delta's TIMESTAMP AS OF resolution. Pre-r4 commits
        without a recorded ts are treated as older than any timestamp.
        Raises if the table's first commit is newer than ``timestamp``."""
        best = None
        for v in self.versions():
            if self._doc(v).get("ts", 0.0) <= timestamp:
                best = v
            else:
                break  # commit ts is monotone over versions
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp {timestamp} in {self.path}")
        return best

    def read_at(self, spark: SparkSession, timestamp: float) -> DataFrame:
        """Timestamp time travel: snapshot as of the given epoch seconds
        (``read(version=version_at(ts))``)."""
        return self.read(spark, version=self.version_at(timestamp))

    def last_meta(self) -> dict:
        v = self.latest_version()
        return {} if v is None else self._doc(v).get("meta", {})

    def meta_with(self, key: str, version: int | None = None
                  ) -> tuple[dict, int | None]:
        """(meta, version) of the newest commit at or before ``version``
        (default latest) whose meta carries ``key``; ``({}, None)`` when
        no commit does. This is how a maintainer reads its high-water
        bookkeeping: NOT simply the last commit's meta, because a
        layout-only commit (a compaction) landing between refreshes
        must not hide it, or the next refresh silently degrades to a
        full rebuild. The version lets a serve pin its data read at
        exactly the commit the bookkeeping came from. The backward walk
        is bounded by how many commits without ``key`` landed since —
        ~one compaction, in practice."""
        v = self.latest_version() if version is None else version
        while v is not None and v >= 0:
            meta = self._doc(v).get("meta", {})
            if key in meta:
                return meta, v
            v -= 1
        return {}, None

    def metas(self, since_version: int, upto: int) -> list[dict]:
        """The commit metas of versions (``since_version``, ``upto``],
        oldest first: what a follower of this table's commits reads
        from the log alone (e.g. the buckets each view commit replaced),
        with no Spark job."""
        return [self._doc(v).get("meta", {})
                for v in self._versions_tail(since_version, upto)]

    def max_stream_batch_id(self, app_id: str | None = None) -> int | None:
        """Highest ``stream_batch_id`` recorded by ANY commit (optionally
        restricted to commits whose ``stream_app_id`` matches ``app_id``).
        This is the Delta SetTransaction lookup: the exactly-once replay
        guard must scan the log, not just the head commit — a compaction
        or a second writer interleaving between a sink's commit and its
        crash-replay would otherwise hide the sink's own batch id
        (ADVICE r3). Scanned NEWEST-FIRST with early exit: a sink's batch
        ids are monotonic (Structured Streaming's epoch counter), so the
        most recent commit carrying one IS that sink's max — the per-batch
        guard costs O(commits since the sink last wrote), not O(log). A
        checkpoint floors the scan: below it, the recorded per-app map
        answers without reading older commit docs."""
        cp = self._base_checkpoint(None)
        floor = cp["checkpoint_version"] if cp else -1
        for v in reversed(self._versions_tail(floor)):
            meta = self._doc(v).get("meta", {})
            bid = meta.get("stream_batch_id")
            if bid is None:
                continue
            if app_id is not None and meta.get("stream_app_id") != app_id:
                continue
            return bid
        if cp is None:
            return None
        if app_id is not None:
            return cp.get("stream_batch_ids", {}).get(app_id)
        return cp.get("last_stream_batch_id")

    def _replays(self, meta: dict | None) -> bool:
        """True when ``meta`` names a stream batch the ledger already
        covers. None-safe: a high water of 0 covers batch 0."""
        bid = (meta or {}).get("stream_batch_id")
        if bid is None:
            return False
        seen = self.max_stream_batch_id(meta.get("stream_app_id"))
        return seen is not None and bid <= seen

    def read_increment(self, spark: SparkSession,
                       since_version: int) -> DataFrame:
        """Rows added by commits AFTER ``since_version`` (a change feed for
        append-only consumption): a downstream job remembers the last
        version it processed and reads only the delta — the incremental
        pattern that replaces the reference's re-read-everything batch
        loop (read_delta.py:47-53 + full overwrite). Only valid over
        append commits; a rewrite (overwrite/merge/compact) in the range
        raises, because its adds are not row-level changes."""
        docs = [self._doc(v) for v in self._versions_tail(since_version)]
        adds: list[str] = []
        for doc in docs:
            if doc["removes"] or doc.get("dvs"):
                raise ValueError(
                    f"version {doc['version']} is a rewrite "
                    f"({doc['meta'].get('operation', 'overwrite/merge')}); "
                    "read_increment is append-only — reprocess from a "
                    "snapshot read instead")
            adds.extend(doc["adds"])
        if not adds:
            return self.read(spark).limit(0)
        return self._scan(spark, adds)

    def read_changes(self, spark: SparkSession,
                     since_version: int,
                     upto: int | None = None) -> DataFrame:
        """Row-level change feed (Delta CDF): every row changed by commits
        AFTER ``since_version`` (through ``upto`` inclusive, when given —
        consumers that record a high-water version pass it so a commit
        landing mid-refresh is not applied now AND replayed next time),
        with ``_change_type`` in {insert, update_postimage, delete} and
        ``_commit_version``. Unlike :meth:`read_increment` (append-only,
        fails on rewrites), this consumes MERGE and DELETE commits through
        the change files they wrote alongside their rewrite — an
        incremental consumer follows an upserted dimension table without
        reprocessing snapshots. Compaction and clustering commits are
        layout-only (no logical change) and are skipped; a full overwrite
        has no row-level delta and raises — resync from a snapshot read,
        as with Delta's CDF. A deletion-vector DELETE made without
        ``capture_changes`` likewise raises (its row-level delta exists
        only as DV bitmaps, not change files), mirroring the streaming
        CDF reader — consumers must resync, never silently miss deletes."""
        from functools import reduce

        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType, StructField, StructType

        frames = []
        for v in self._versions_tail(since_version, upto):
            dirs, change_type = self._change_dirs(v)
            if not dirs:
                continue
            # each version plans with its own logged schema, in
            # PHYSICAL names; change files carry _change_type too
            sch = self.table_schema(v)
            if change_type is None:
                df = self._scan(spark, dirs, v, StructType(
                    sch.fields + [StructField("_change_type", StringType())]),
                    dvs={}, logical=False)
            else:
                df = (self._scan(spark, dirs, v, sch, dvs={}, logical=False)
                      .withColumn("_change_type", F.lit(change_type)))
            frames.append(df.withColumn("_commit_version", F.lit(v)))
        if not frames:
            return (self.read(spark).limit(0)
                    .withColumn("_change_type", F.lit(""))
                    .withColumn("_commit_version", F.lit(0)))
        # allowMissingColumns: a feed window can span an additive schema
        # evolution (mergeSchema append / autoMerge MERGE) — change rows
        # from pre-evolution commits null-fill the evolved columns, the
        # same typed-NULL view the snapshot read gives those rows
        out = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            frames)
        # column-mapped tables: frames are PHYSICAL-named across eras
        # (physical names are the stable join key spanning renames);
        # alias ONCE to the anchor version's logical view — a CDF window
        # crossing a rename returns CURRENT names, Delta's behavior
        anchor = upto if upto is not None else self.latest_version()
        mapping = self.column_mapping(anchor)
        if mapping:
            sch = self.table_schema(anchor)
            cols = []
            for f in sch.fields:
                phys = mapping.get(f.name, f.name)
                cols.append(F.col(phys).alias(f.name)
                            if phys in out.columns
                            else F.lit(None).cast(f.dataType)
                            .alias(f.name))
            out = out.select(*cols, "_change_type", "_commit_version")
        return out

    def _change_dirs(self, v: int) -> tuple[list[str], str | None]:
        """The change-feed rule for commit ``v`` (:meth:`read_changes`):
        ``(dirs, change_type)`` — the commit's change files as recorded
        (``change_type`` None: they carry ``_change_type``), a plain
        append's adds as ``"insert"``, or no dirs for a layout-only
        compaction or a metadata-only commit. A deletion-vector commit
        without change files and a full rewrite have no row-level delta
        and raise."""
        doc = self._doc(v)
        op = doc.get("meta", {}).get("operation")
        if doc.get("changes"):
            return [doc["changes"]], None
        if op == "compact":
            return [], None  # bin-packing/clustering: layout only
        if doc.get("dvs"):
            raise ValueError(
                f"version {v} is a deletion-vector {op or 'delete'} with "
                "no change files; reprocess from a snapshot read")
        if doc["removes"]:
            raise ValueError(
                f"version {v} is a full rewrite ({op or 'overwrite'}) "
                "with no change files; reprocess from a snapshot read")
        return doc["adds"], "insert"

    def _write_changes(self, df: DataFrame,
                       mapping: dict | None = None) -> str:
        rel = os.path.join(_CHANGES_DIR, uuid.uuid4().hex)
        # change files share the data files' PHYSICAL naming so one CDF
        # read spans rename boundaries (physical names are the join key
        # between eras; read_changes aliases to the anchor's logical)
        self._to_physical(df, mapping).write.parquet(
            os.path.join(self.path, rel))
        return rel

    # -- file skipping (min/max stats) ------------------------------------

    def _dir_stats(self, rel_dir: str) -> dict:
        """Per-column [min, max] over every parquet file in a commit dir,
        read from ROW-GROUP FOOTERS only (no data I/O) at commit time —
        what Delta records per AddFile. Only JSON-representable scalar
        stats (int/float/str) are kept; columns without usable footer
        stats are simply absent, and absent means "never pruned"."""
        import glob as _glob

        import pyarrow.parquet as pq

        stats: dict[str, list] = {}
        for f in _glob.glob(os.path.join(self.path, rel_dir, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        try:
                            mn, mx = mn.decode(), mx.decode()
                        except UnicodeDecodeError:
                            continue
                    if not (isinstance(mn, (int, float, str))
                            and not isinstance(mn, bool)):
                        continue
                    name = col.path_in_schema
                    cur = stats.get(name)
                    stats[name] = ([mn, mx] if cur is None else
                                   [min(cur[0], mn), max(cur[1], mx)])
        return stats

    def _dir_rows(self, rel_dir: str) -> int:
        """Row count of a commit dir from parquet footers only."""
        import glob as _glob

        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in _glob.glob(os.path.join(self.path, rel_dir,
                                             "*.parquet")))

    def _live_rows_gross(self, version: int | None = None
                         ) -> dict[str, int | None]:
        """dir -> GROSS row count for the live snapshot from commit docs
        (None for dirs committed before row recording); net-of-DV is
        :meth:`_live_rows`."""
        cp = self._base_checkpoint(version)
        out: dict[str, int | None] = dict(cp.get("rows", {})) if cp else {}
        floor = cp["checkpoint_version"] if cp else -1
        for v in self._versions_tail(floor):
            if version is not None and v > version:
                break
            doc = self._doc(v)
            doc_rows = doc.get("rows", {})
            for d in doc["adds"]:
                out[d] = doc_rows.get(d)
        return {d: out.get(d) for d in self.snapshot_dirs(version)}

    def _live_rows(self, version: int | None = None) -> dict[str, int | None]:
        """dir -> NET row count (gross minus deletion-vector'd rows) for
        the live snapshot. Checkpoints store the GROSS counts (the DV
        mapping is carried separately), so the subtraction happens
        exactly once, here."""
        out = self._live_rows_gross(version)
        dvs = self.snapshot_dvs(version)
        return {d: (out[d] - dvs[d]["rows"]
                    if d in dvs and out.get(d) is not None else out.get(d))
                for d in out}

    def snapshot_row_count(self, version: int | None = None) -> int | None:
        """COUNT(*) of the snapshot from LOG METADATA ALONE — no data
        I/O, no Spark job (Delta answers SELECT COUNT(*) from AddFile
        stats the same way; at 100 TB this is the difference between a
        constant-time answer and a full scan). None when any live dir
        predates row recording — callers then fall back to a scan."""
        rows = self._live_rows(version)
        if any(n is None for n in rows.values()):
            return None
        return sum(rows.values())

    def stats_minmax(self, col: str,
                     version: int | None = None) -> tuple | None:
        """(min, max) of ``col`` over the snapshot from log footer stats
        — exact for these two aggregates (per-dir min/max compose), no
        data I/O. None when any live dir lacks stats for the column, or
        carries a deletion vector (the deleted rows may have been the
        extremes, so footer stats are only BOUNDS there — callers fall
        back to a scan; file-skipping via pruned_dirs stays valid
        because bounds are exactly what pruning needs)."""
        if self.snapshot_dvs(version):
            return None
        pcol = self._physical_col(col, version)
        vals = []
        for stats in self._live_stats(version).values():
            rng = stats.get(pcol)
            if rng is None:
                return None
            vals.append(rng)
        if not vals:
            return None
        return (min(v[0] for v in vals), max(v[1] for v in vals))

    def _live_stats(self, version: int | None = None) -> dict[str, dict]:
        """dir -> stats for the live snapshot, from the commit docs that
        added each dir (pre-stats commits yield {} = unprunable)."""
        cp = self._base_checkpoint(version)
        out: dict[str, dict] = dict(cp["stats"]) if cp else {}
        floor = cp["checkpoint_version"] if cp else -1
        for v in self._versions_tail(floor):
            if version is not None and v > version:
                break
            doc = self._doc(v)
            doc_stats = doc.get("stats", {})
            for d in doc["adds"]:
                out[d] = doc_stats.get(d, {})
        return {d: out.get(d, {}) for d in self.snapshot_dirs(version)}

    def pruned_dirs(self, col: str, lo=None, hi=None,
                    version: int | None = None) -> list[str]:
        """Live dirs whose ``col`` [min, max] range overlaps [lo, hi] —
        the file-skipping planning step. Dirs without stats for ``col``
        are kept (conservative, like Delta's missing-stats files)."""
        pcol = self._physical_col(col, version)
        keep = []
        for d, stats in self._live_stats(version).items():
            rng = stats.get(pcol)
            if rng is None:
                keep.append(d)
                continue
            mn, mx = rng
            if (lo is None or mx >= lo) and (hi is None or mn <= hi):
                keep.append(d)
        return keep

    def read_range(self, spark: SparkSession, col: str, lo=None, hi=None,
                   version: int | None = None) -> DataFrame:
        """Stats-pruned snapshot read: plans ONLY the data dirs whose
        footer min/max for ``col`` can contain [lo, hi], then applies the
        residual row filter — log-metadata file skipping, the second
        pruning axis next to read_partitions (at 100 TB a time-range query
        over an append-only table touches the handful of commits whose
        ranges overlap, not the table). Equals
        ``read().filter(lo <= col <= hi)`` exactly."""
        from pyspark.sql import functions as F

        dirs = self.pruned_dirs(col, lo, hi, version)
        if not dirs:
            return self.read(spark, version).filter(F.lit(False))
        df = self._scan(spark, dirs, version)
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
        return df

    # -- bloom file skipping (equality lookups) ----------------------------
    # Min/max ranges prune range scans but are useless for point lookups on
    # high-cardinality unordered columns (uuids, user ids): every dir's
    # [min, max] spans the probe. Delta answers with per-file bloom filter
    # indexes; this is that, recorded per commit dir in the log doc.

    def enable_bloom(self, cols: list[str], bits: int = 8192,
                     k: int = 6) -> None:
        """Opt a table into bloom indexing for ``cols``. Commits AFTER
        enablement record an m-bit bloom per added dir per column;
        pre-existing dirs have no bloom and are never pruned
        (conservative, like pre-stats commits). 8192 bits / k=6 holds a
        ~1% false-positive rate to ~850 distinct values per dir — size
        ``bits`` to the expected distinct count per commit. Config is
        admin metadata (one writer), published atomically."""
        cfg = {"cols": list(cols), "bits": int(bits), "k": int(k)}
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(cfg, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.log_dir, "bloom.json"))

    def _bloom_config(self) -> dict | None:
        p = os.path.join(self.log_dir, "bloom.json")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    # -- CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT) ------------

    def add_check_constraint(self, name: str, expr: str) -> None:
        """Enforce ``expr`` (SQL boolean) on every row any future write
        produces — append, overwrite, merge, and the rewrites DELETE /
        UPDATE emit. SQL CHECK semantics: a row passes when the
        expression is TRUE or NULL. Enforcement is FREE in job count: an
        Observation counting violations rides the data write itself, and
        a violating write is rolled back (dir removed, no commit) with
        the constraint named in the error. Existing data is not
        re-validated (Delta validates history on ADD; here the caller
        runs a quality suite for that)."""
        cons = self.check_constraints()
        cons[name] = expr
        self._write_config("constraints.json", cons)

    def drop_check_constraint(self, name: str) -> None:
        cons = self.check_constraints()
        cons.pop(name, None)
        self._write_config("constraints.json", cons)

    def check_constraints(self) -> dict[str, str]:
        p = os.path.join(self.log_dir, "constraints.json")
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def _write_config(self, fname: str, payload: dict) -> None:
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.log_dir, fname))

    # -- generated & identity columns (Delta's GENERATED ALWAYS AS) --------

    def set_generated_column(self, col: str, expr: str) -> None:
        """Declare ``col`` GENERATED ALWAYS AS (``expr``, a SQL
        expression over the row's other columns): every future append /
        overwrite / merge computes it at write time, so reads, stats
        pruning and partition layouts see a plain materialized column
        (Delta's generated-columns design — generation lives in the
        WRITER, which is why declaring one raises the table's
        min_writer floor). Writes that provide the column explicitly
        are REJECTED — strict ALWAYS semantics; Delta's provide-if-
        equal variant is deliberately not offered (an equality check
        costs the same observation machinery and a mismatch is always
        a caller bug). Existing rows are not backfilled (Delta's rule:
        the declaration governs future writes)."""
        cfg = self.generation_config()
        ident = cfg.get("identity")
        if ident and ident["col"] == col:
            raise ValueError(
                f"column '{col}' is already the table's identity column")
        cfg.setdefault("generated", {})[col] = expr
        self._write_config("generation.json", cfg)
        self._bump_protocol_writer()

    def drop_generated_column(self, col: str) -> None:
        """Stop generating ``col`` — it stays a plain column (values
        already materialized remain; future writes must provide it)."""
        cfg = self.generation_config()
        if col in self._part_keys(cfg):
            raise ValueError(
                f"column '{col}' is one of the table's partition keys — "
                "its generation cannot be dropped while the layout "
                "depends on it")
        cfg.get("generated", {}).pop(col, None)
        self._write_config("generation.json", cfg)

    def set_partition_column(self, col: str | list[str]) -> None:
        """Declare the table's PARTITION key(s) (r12 single-key; r13
        accepts an ORDERED LIST — Delta's canonical multi-column layout,
        e.g. generated ``order_year`` + plain ``region`` → nested
        ``order_year=1998/region=EU`` subdirs): every future append /
        overwrite / overwrite_partitions lays data out as nested
        ``col=value`` subdirs — the log's partition-granular add/remove
        unit — so reads through the keys are METADATA-pruned
        (:meth:`read_partitions_where` evaluates predicates over ANY
        subset of the keys: leading-prefix AND both-key pruning) and a
        daily batch rewrites one partition, never the table. The
        headline pairing is a GENERATED leading key: declare e.g.
        ``set_generated_column("order_date", "CAST(o_ts AS DATE)")``
        then ``set_partition_column(["order_date", "region"])`` and
        writers compute the canonical date layout from the row itself
        (the reference writes unpartitioned, read_delta.py:219-222 —
        this is its 100 TB replacement). Plain data columns are also
        accepted. Declare on an EMPTY table (or one already consistently
        partitioned by the same keys); retrofitting a populated
        unpartitioned table is :meth:`repartition_table`. Identity
        tables compose (r13, lifting the r12 exclusion): allocation's
        high water rides the same commit doc the partitioned append
        publishes, so the optimistic-retry discipline is unchanged."""
        cols = [col] if isinstance(col, str) else list(col)
        if not cols:
            raise ValueError("set_partition_column: empty key list")
        if len(set(cols)) != len(cols):
            raise ValueError(
                f"set_partition_column: duplicate keys in {cols}")
        cfg = self.generation_config()
        ident = cfg.get("identity")
        if ident is not None and ident["col"] in cols:
            raise ValueError(
                f"column '{ident['col']}' is the table's identity "
                "column — identity values are unique per row, a "
                "one-row-per-subdir layout is never what you want")
        live = self.snapshot_dirs() if self.latest_version() is not None \
            else []
        live_cols = self._live_partition_cols(live)
        if live and live_cols != cols:
            lay = (f"partitioned by {live_cols!r}" if live_cols
                   else "unpartitioned")
            raise ValueError(
                f"set_partition_column({cols!r}) on a table whose live "
                f"layout is {lay} — a mixed layout would strand rows "
                "outside partition-granular bookkeeping; declare on an "
                "empty table and load it, or retrofit the layout with "
                "repartition_table()")
        cfg["partition_by"] = cols[0] if len(cols) == 1 else cols
        # the floor rises BEFORE the declaration persists: a crash
        # between the two must leave the table over-strict (floor up,
        # no declaration), never declared-but-unprotected — a v2
        # writer passing _check_protocol against a declared table
        # would strand plain dirs outside the layout
        self._raise_protocol(writer_floor=PART_WRITER_VERSION)
        if any(c in cfg.get("generated", {}) for c in cols):
            self._bump_protocol_writer()
        self._write_config("generation.json", cfg)

    def repartition_table(self, spark: SparkSession,
                          col: str | list[str],
                          meta: dict | None = None) -> int:
        """Retrofit a partition layout onto a POPULATED table (r13,
        VERDICT r12 #5 — the op :meth:`set_partition_column` points
        retrofitters at): rewrite the live snapshot as nested
        ``col=value`` subdirs in ONE atomic commit, then persist the
        declaration. Every PRIOR version keeps reading its original
        files — time travel, CDF consumers and clones are unaffected;
        the superseded files fall to :meth:`vacuum` past retention,
        like any rewrite commit. Also re-partitions a table already
        laid out by DIFFERENT keys (the layout-evolution case).

        Generated keys are allowed: declare the generation first
        (:meth:`set_generated_column`) — the rewrite re-materializes
        every row anyway, so rows written BEFORE the declaration are
        backfilled here from the expression (the one place the
        format recomputes generated values wholesale; Delta's
        no-backfill rule stands everywhere else). Identity rows KEEP
        their ids — a layout rewrite is not an allocation.

        Like :meth:`compact`, this is a maintenance rewrite: it runs
        single-attempt against the version it read (a racing commit
        reclaims its files and raises :class:`TxnConflictError` —
        re-run on the new base), and
        downstream change-feed streams should read with
        ``skipChangeCommits`` across it. The declaration lands AFTER
        the layout commit: a crash between the two leaves a
        consistently partitioned but undeclared table, which a re-run
        (or a bare :meth:`set_partition_column`) completes — never a
        mixed layout."""
        cols = [col] if isinstance(col, str) else list(col)
        if not cols:
            raise ValueError("repartition_table: empty key list")
        if len(set(cols)) != len(cols):
            raise ValueError(
                f"repartition_table: duplicate keys in {cols}")
        base = self.latest_version()
        if base is None:
            # nothing to rewrite — declaring the layout is the whole op
            self.set_partition_column(cols)
            return -1
        if self.column_mapping(base):
            raise ValueError(
                "column mapping is not supported on partitioned tables")
        cfg = self.generation_config()
        ident = cfg.get("identity")
        if ident is not None and ident["col"] in cols:
            raise ValueError(
                f"column '{ident['col']}' is the table's identity "
                "column — identity values are unique per row, a "
                "one-row-per-subdir layout is never what you want")
        live = self.snapshot_dirs(base)
        df = self.read(spark, base)
        gens = cfg.get("generated", {})
        if gens:
            # deterministic recompute-and-backfill: generated columns
            # re-derive from the row during the rewrite, which both
            # backfills pre-declaration rows (they read as NULL) and
            # is a no-op for rows the writer already materialized
            df = self._apply_generated(
                df.drop(*[c for c in gens if c in df.columns]))
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"repartition_table({cols!r}): snapshot lacks "
                f"column(s) {missing} — declare a generated key with "
                "set_generated_column() first, or name a data column")
        adds = self._write_data_partitioned(df, cols)
        v = self._transact(_Txn(adds, live,
                                {**(meta or {}),
                                 "operation": "repartition_table",
                                 "partition_by":
                                     cols[0] if len(cols) == 1 else cols}),
                           base=base)
        self.set_partition_column(cols)
        return v

    def set_identity_column(self, col: str, start: int = 1,
                            step: int = 1) -> None:
        """Declare ``col`` GENERATED ALWAYS AS IDENTITY (START WITH
        ``start`` STEP ``step``): appends, overwrites and merge-inserts
        allocate values from the table's high-water mark, which lives
        in COMMIT META — allocation therefore rides the same optimistic
        expected-version commit as the data, so two racing writers can
        never hand out the same id (the loser's conflict retry re-reads
        the high water and re-assigns; Delta gates identity allocation
        on the identical transaction-conflict rule). Values are unique
        and ascending (per ``step``'s sign), CONTIGUOUS within one
        commit, and merge updates KEEP the target row's id. One
        identity column per table (Delta's rule). Composes with a
        partition-declared layout (r13): the allocating write computes
        ids BEFORE the partitioned layout write, and the high water
        rides the same commit doc as the partition-granular adds."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        cfg = self.generation_config()
        if col in self._part_keys(cfg):
            raise ValueError(
                f"column '{col}' is one of the table's partition keys — "
                "identity values are unique per row, a one-row-per-"
                "subdir layout is never what you want")
        if col in cfg.get("generated", {}):
            raise ValueError(
                f"column '{col}' is already a generated column")
        ident = cfg.get("identity")
        if ident and ident["col"] != col:
            raise ValueError(
                f"table already has identity column '{ident['col']}' "
                "(one per table)")
        cfg["identity"] = {"col": col, "start": int(start),
                           "step": int(step)}
        self._write_config("generation.json", cfg)
        self._bump_protocol_writer()

    def generation_config(self) -> dict:
        p = os.path.join(self.log_dir, "generation.json")
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def _bump_protocol_writer(self, floor: int = GEN_WRITER_VERSION
                              ) -> None:
        self._raise_protocol(writer_floor=floor)

    def _raise_protocol(self, reader_floor: int = 1,
                        writer_floor: int = 1) -> None:
        """RAISE protocol floors, never restate them. Always re-reads
        protocol.json from disk — `_protocol_cache` can be stale when
        another handle or process raised a floor after this handle
        cached it (e.g. a concurrent first-DV commit raising
        min_reader_version), and rewriting from the cache would
        DOWNGRADE that floor, letting pre-DV readers resurrect deleted
        rows. Fields only ever go up via max()."""
        p = os.path.join(self.log_dir, "protocol.json")
        cur = json.load(open(p)) if os.path.exists(p) else {}
        old = (cur.get("min_reader_version", 1),
               cur.get("min_writer_version", 1))
        new = (max(old[0], reader_floor), max(old[1], writer_floor))
        if new != old:
            self._write_config("protocol.json", {
                "min_reader_version": new[0],
                "min_writer_version": new[1]})
        self._protocol_cache = None  # re-read on next check

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Compute every declared generated column on ``df`` (strict
        ALWAYS: a frame providing one is rejected). Pure projection —
        rides the write plan, zero extra jobs."""
        gens = self.generation_config().get("generated", {})
        if not gens:
            return df
        from pyspark.sql import functions as F

        provided = [c for c in gens if c in df.columns]
        if provided:
            raise ValueError(
                f"column(s) {provided} are GENERATED ALWAYS AS (...) — "
                "writes must not provide them; the engine computes "
                "them from the row's other columns")
        for c, e in gens.items():
            df = df.withColumn(c, F.expr(e))
        return df

    def _identity_high_water(self, version: int | None = None
                             ) -> int | None:
        """Last allocated identity value at/before ``version`` — a
        backward meta walk bounded by how many non-allocating commits
        landed since the last identity write (compactions, DVs)."""
        v = self.latest_version() if version is None else version
        while v is not None and v >= 0:
            m = self._doc(v).get("meta") or {}
            if "identity_high_water" in m:
                return int(m["identity_high_water"])
            v -= 1
        return None

    def _assign_identity(self, df: DataFrame, ident: dict
                         ) -> tuple[DataFrame, dict, DataFrame]:
        """(df_with_ids, meta_delta, persisted_handle). Allocation is
        fully DISTRIBUTED and shuffle-free: ids are
        ``hw + step * (prefix_offset[partition] + local_pos + 1)``
        using ``monotonically_increasing_id``'s (partition, local)
        decomposition — one bounded per-partition counting job builds
        the prefix offsets (#partitions rows on the driver), the write
        itself assigns. The input is PERSISTED so the counting job and
        the write job see the same partitioning (a recomputed
        nondeterministic input — AQE re-plans, shuffled joins — could
        otherwise move rows between partitions and break uniqueness);
        the caller unpersists the returned handle once the data files
        are on disk. Contiguous per commit; the meta delta carries the
        new high water for the SAME commit, so allocation and data are
        one atomic unit."""
        from pyspark.sql import functions as F

        name, start, step = ident["col"], ident["start"], ident["step"]
        if name in df.columns:
            raise ValueError(
                f"column '{name}' is GENERATED ALWAYS AS IDENTITY — "
                "writes must not provide it")
        hw = self._identity_high_water()
        base = hw if hw is not None else start - step
        df = df.persist()
        counts = {int(r["__pid"]): int(r["count"]) for r in
                  df.withColumn("__pid", F.spark_partition_id())
                  .groupBy("__pid").count().collect()}
        off, acc = {}, 0
        for pid in sorted(counts):
            off[pid] = acc
            acc += counts[pid]
        spark = df.sparkSession
        off_df = spark.createDataFrame(
            [(int(p), int(o)) for p, o in off.items()] or [(0, 0)],
            "__pid int, __off long")
        mono = F.monotonically_increasing_id()
        out = (df.withColumn("__pid", F.spark_partition_id())
               .withColumn("__loc",
                           mono.bitwiseAND(F.lit((1 << 33) - 1)))
               .join(F.broadcast(off_df), "__pid", "left")
               .withColumn(name,
                           (F.lit(int(base)) + F.lit(int(step))
                            * (F.col("__off") + F.col("__loc") + 1))
                           .cast("long"))
               .select(*df.columns, name))
        return out, {"identity_high_water": base + step * acc}, df

    def _interleaved_allocation(self, v0: int | None) -> bool:
        """True when any commit AFTER ``v0`` carries an identity high
        water — i.e. a racing writer allocated ids, making this
        writer's allocation stale. False means the interleaved commits
        were non-allocating (deletes, compactions, plain appends): the
        allocation is still valid and only the commit needs rebasing —
        Delta's logical conflict resolution, which saves the data
        rewrite (the expensive leg, since ids are baked into the
        files)."""
        latest = self.latest_version()
        v = latest
        floor = -1 if v0 is None else v0
        while v is not None and v > floor:
            if "identity_high_water" in (self._doc(v).get("meta") or {}):
                return True
            v -= 1
        return False

    def _base(self) -> int:
        """The latest version as a commit base: -1 for an empty table,
        :meth:`commit`'s explicit expect-EMPTY base, so a racing first
        commit conflicts instead of being absorbed."""
        v = self.latest_version()
        return -1 if v is None else v

    @staticmethod
    def _conflict_backoff(attempt: int) -> None:
        """Jittered exponential backoff between lost commit rounds:
        without desynchronization N concurrent writers re-collide every
        round (a redo rewrites its data, which takes seconds) and one
        can starve past any attempt budget — the same reason Delta's
        commit loop backs off."""
        import random
        import time as _time

        _time.sleep(min(1.0, random.uniform(0, 0.05 * (2 ** attempt))))

    def _transact(self, attempt, rebase=None, base: int | None = None):
        """The one optimistic commit (Delta's ``OptimisticTransaction``
        loop): every write that publishes dirs it has just written
        commits here.

        ``attempt`` is a :class:`_Txn` already written against ``base``,
        or ``attempt(base)``, which writes one attempt against the
        snapshot at ``base`` and returns its ``_Txn`` — or any other
        value, returned as is, when there is nothing to publish (or a
        stream leg's op committed by itself). ``base`` defaults to the
        latest version, read once, -1 for an empty table.

        On a lost race ``rebase(txn, base, latest)`` decides: it returns
        the ``_Txn`` to re-publish on top of ``latest`` (a REBASE that
        keeps the files), None to scrap the files and run ``attempt``
        again on ``latest`` (a REDO), or raises on a genuine conflict.
        Without ``rebase`` the first lost race raises. Every round,
        rebase or redo, counts against ``_COMMIT_ATTEMPTS``, with
        :meth:`_conflict_backoff` between rounds. A
        :class:`TxnReplayError` is terminal: no retry, no backoff. Any
        exit without a commit reclaims what the attempt wrote.

        Budgets never nest: a ``_transact`` on a table that already has
        one running on this thread (a ``_guarded_commit`` over a
        rebasing op) makes one attempt and raises its lost race to the
        outer loop, whose round it is."""
        if base is None:
            base = self._base()
        txn = attempt if isinstance(attempt, _Txn) else None
        held = _TRANSACTING.__dict__.setdefault("paths", set())
        key = os.path.abspath(self.path)
        outer = key not in held
        rounds = _COMMIT_ATTEMPTS if outer else 1
        held.add(key)
        try:
            for n in range(rounds):
                if n:
                    self._conflict_backoff(n - 1)
                try:
                    if txn is None:
                        txn = attempt(base)
                        if not isinstance(txn, _Txn):
                            return txn
                    return self.commit(txn.adds, txn.removes, txn.meta,
                                       expected_version=base, **txn.kw)
                except TxnReplayError:
                    raise
                except TxnConflictError:
                    if rebase is None or n + 1 == rounds:
                        raise
                    latest = self._base()
                    nxt = rebase(txn, base, latest)
                    if nxt is None:
                        self._reclaim(txn)
                    txn, base = nxt, latest
        except BaseException:
            self._reclaim(txn)
            raise
        finally:
            if outer:
                held.discard(key)

    def _reclaim(self, txn: _Txn | None) -> None:
        """Delete every dir ``txn`` wrote — no commit references them.
        A 0-row partitioned write has no adds and left no root."""
        if txn is None:
            return
        dirs = {_commit_root(a) for a in txn.adds}
        dirs.add(txn.kw.get("changes"))
        dirs.update(ref["path"] for ref in
                    (txn.kw.get("dvs") or {}).values() if ref)
        for rel in dirs - {None}:
            self._drop(rel)

    def _rebase_rewrite(self, txn: _Txn, base: int, latest: int) -> _Txn:
        """Conflict rule of the row-level rewrites (DELETE/UPDATE/DV,
        WriteSerializable — Delta's resolution for exactly this class):
        a racer that touched none of the dirs this rewrite replaces —
        removed, or DV-remapped — e.g. a streaming append landing
        mid-DELETE, does not invalidate it, so the same files rebase on
        top; a racer that rewrote or DV'd one of them is a genuine
        conflict. Rows appended concurrently are NOT visited by the op
        (Delta documents the same): it rewrites the snapshot it read."""
        ours = set(txn.removes) | set(txn.kw.get("dvs") or {})
        for v in range(base + 1, latest + 1):
            doc = self._doc(v)
            if ours & (set(doc["removes"]) | set(doc.get("dvs") or {})):
                raise TxnConflictError(
                    f"v{v} at {self.path} rewrote dirs this row-level "
                    "op replaces")
        return txn

    def _merge_identity(self, spark: SparkSession, updates: DataFrame,
                        target: DataFrame, key, ident: dict
                        ) -> tuple[DataFrame, dict, DataFrame]:
        """(updates_with_ids, meta_delta, persisted_handle): merge
        semantics here are row-WHOLESALE (matched rows take the source
        row entirely), so the source frame must carry the identity
        column — matched keys take the TARGET's id (updates never
        change an identity), new keys allocate fresh from the high
        water. A conditionally-skipped insert still consumes its ids
        (gaps are legal, Delta's identity contract)."""
        from pyspark.sql import functions as F

        name = ident["col"]
        if name in updates.columns:
            raise ValueError(
                f"column '{name}' is GENERATED ALWAYS AS IDENTITY — "
                "merge sources must not provide it")
        keys = [key] if isinstance(key, str) else list(key)
        up = updates.join(target.select(*keys, name), keys, "left")
        olds = up.filter(F.col(name).isNotNull())
        news = up.filter(F.col(name).isNull()).drop(name)
        assigned, hw_meta, handle = self._assign_identity(news, ident)
        return (olds.unionByName(assigned.select(*olds.columns)),
                hw_meta, handle)

    def _dir_bloom(self, rel_dir: str, cfg: dict) -> dict:
        """col -> hex bloom over every value in the dir's parquet files.
        Unlike footer min/max this reads the indexed COLUMNS' data — the
        cost Delta also pays at write time; only configured columns are
        scanned (column pruning applies). Values stream through
        ``ParquetFile.iter_batches`` and fold into the bit vector
        incrementally — driver memory stays O(batch), never the whole
        column, so bloom-enabled streaming micro-batch commits don't
        materialize their input on the driver."""
        import glob as _glob

        import pyarrow.parquet as pq

        m, k = cfg["bits"], cfg["k"]
        out = {}
        for col in cfg["cols"]:
            # blooms key by PHYSICAL name (what the files carry); the
            # pruned_dirs_eq lookup translates logical -> physical
            col = self._physical_col(col)
            bits = 0
            seen = False
            for f in _glob.glob(os.path.join(self.path, rel_dir,
                                             "*.parquet")):
                pf = pq.ParquetFile(f)
                if col not in pf.schema_arrow.names:
                    continue
                for batch in pf.iter_batches(columns=[col],
                                             batch_size=65536):
                    for v in batch.column(0).to_pylist():
                        if v is None:
                            continue
                        seen = True
                        for p in _bloom_positions(v, m, k):
                            bits |= 1 << p
            if seen:
                out[col] = {"m": m, "k": k, "hex": format(bits, "x")}
        return out

    def _live_blooms(self, version: int | None = None) -> dict[str, dict]:
        """dir -> {col -> bloom doc} for the live snapshot (pre-bloom
        commits yield {} = unprunable), checkpoint-accelerated like
        :meth:`_live_stats`."""
        cp = self._base_checkpoint(version)
        out: dict[str, dict] = dict(cp.get("bloom", {})) if cp else {}
        floor = cp["checkpoint_version"] if cp else -1
        for v in self._versions_tail(floor):
            if version is not None and v > version:
                break
            doc = self._doc(v)
            doc_bloom = doc.get("bloom", {})
            for d in doc["adds"]:
                out[d] = doc_bloom.get(d, {})
        return {d: out.get(d, {}) for d in self.snapshot_dirs(version)}

    def pruned_dirs_eq(self, col: str, value,
                       version: int | None = None) -> list[str]:
        """Live dirs whose bloom for ``col`` may contain ``value`` —
        point-lookup file skipping. Dirs without a bloom are kept."""
        pcol = self._physical_col(col, version)
        keep = []
        for d, blooms in self._live_blooms(version).items():
            b = blooms.get(pcol)
            if b is None or _bloom_may_contain(b["hex"], value,
                                               b["m"], b["k"]):
                keep.append(d)
        return keep

    def read_point(self, spark: SparkSession, col: str, value,
                   version: int | None = None) -> DataFrame:
        """Bloom-pruned point lookup: plans ONLY the dirs whose bloom can
        contain ``value``, then applies the residual equality filter —
        exact regardless of false positives. Equals
        ``read().filter(col = value)``; at 100 TB a needle lookup over an
        append-only table touches ~k dirs, not every commit."""
        from pyspark.sql import functions as F

        dirs = self.pruned_dirs_eq(col, value, version)
        if not dirs:
            return self.read(spark, version).filter(F.lit(False))
        return self._scan(spark, dirs, version).filter(
            F.col(col) == value)

    # -- writes -----------------------------------------------------------

    def _constrained(self, df: DataFrame):
        """Attach a violation-counting Observation for each CHECK
        constraint to ``df`` (rides the write job — zero extra jobs).
        Returns (df, verify) where verify(abs_dir) rolls back and raises
        on any violation."""
        cons = self.check_constraints()
        if not cons:
            return df, lambda abs_dir: None
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df = df.observe(obs, *[
            F.count(F.when(
                ~F.coalesce(F.expr(e), F.lit(True)), 1)).alias(f"c{i}")
            for i, e in enumerate(cons.values())])

        def verify(abs_dir: str) -> None:
            vals = obs.get
            for i, (name, e) in enumerate(cons.items()):
                if vals[f"c{i}"] > 0:
                    import shutil

                    shutil.rmtree(abs_dir, ignore_errors=True)
                    raise ValueError(
                        f"CHECK constraint '{name}' ({e}) violated by "
                        f"{vals[f'c{i}']} row(s) — write rolled back")
        return df, verify

    def _write_data(self, df: DataFrame,
                    mapping: dict | None = None) -> str:
        rel = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        abs_dir = os.path.join(self.path, rel)
        df, verify = self._constrained(df)
        # column-mapped tables store PHYSICAL names in every file
        df = self._to_physical(df, mapping)
        df.write.parquet(abs_dir)
        verify(abs_dir)
        self._pending_schemas[rel] = df.schema
        return rel

    def _write_data_partitioned(self, df: DataFrame,
                                part_cols: str | list[str]) -> list[str]:
        """Write one commit dir partitioned by ``part_cols`` (one key or
        an ordered list — nested ``c1=v1/c2=v2`` subdirs, r13) and
        return its LEAF partition subdirs — the log's unit of add/remove
        for partition-granular commits. Each leaf's schema is the
        frame's, in the order a scan returns it (data columns, then the
        keys), so the commit logs the keys' written types: Hive path
        inference would read a string '1998' segment back as int
        (ADVICE r12), and Delta logs typed partition columns for the
        same reason."""
        cols = [part_cols] if isinstance(part_cols, str) \
            else list(part_cols)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"partitioned write: frame lacks partition key(s) "
                f"{missing} (has {df.columns})")
        rel = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        abs_dir = os.path.join(self.path, rel)
        df, verify = self._constrained(df)
        df.write.partitionBy(*cols).parquet(abs_dir)
        verify(abs_dir)
        leaves: list[str] = []

        def _walk(d: str, depth: int) -> None:
            for s in os.listdir(d):
                p = os.path.join(d, s)
                if "=" in s and os.path.isdir(p):
                    if depth + 1 == len(cols):
                        leaves.append(os.path.relpath(p, self.path))
                    else:
                        _walk(p, depth + 1)

        _walk(abs_dir, 0)
        if not leaves:
            # a 0-row frame writes no partition subdir: the bare commit
            # root holds only markers and no commit can reference it
            import shutil

            shutil.rmtree(abs_dir, ignore_errors=True)
        self._pend_leaves(leaves, df.schema, cols)
        return sorted(leaves)

    def _pend_leaves(self, leaves: list[str], schema, cols: list[str]
                     ) -> None:
        """Record the schema of partition ``leaves`` written from a
        frame of ``schema`` for :meth:`commit`: the data columns, then
        the keys ``cols`` — the order a ``basePath`` scan returns."""
        from pyspark.sql.types import StructType

        sch = StructType([f for f in schema.fields if f.name not in cols]
                         + [schema[c] for c in cols])
        self._pending_schemas.update(dict.fromkeys(leaves, sch))

    def _live_partition_col(self, dirs: list[str]) -> str | None:
        """LEADING live partition key (back-compat single-key view);
        multi-key-aware callers use :meth:`_live_partition_cols`."""
        cols = self._live_partition_cols(dirs)
        return cols[0] if cols else None

    def _live_partition_cols(self, dirs: list[str]) -> list[str] | None:
        """Ordered partition-key list of the live layout (from the
        first partitioned dir's path segments), or None when every dir
        is plain. One commit's layout speaks for the table — mixed
        layouts are refused at declare/commit time."""
        for d in dirs:
            segs = _partition_segs(d)
            if segs:
                return [c for c, _ in segs]
        return None

    def _part_keys(self, cfg: dict | None = None) -> list[str]:
        """The DECLARED partition key list, normalized: generation.json
        stores ``partition_by`` as a string (single key, the r12 shape)
        or an ordered list (multi-key, r13) — callers always see a
        list, [] when undeclared."""
        if cfg is None:
            cfg = self.generation_config()
        pb = cfg.get("partition_by")
        if pb is None:
            return []
        return [pb] if isinstance(pb, str) else list(pb)

    # -- table schema in the log (Delta's metaData action) -----------------
    #
    # Each commit doc records the FULL merged table schema after that
    # commit, partition keys included as the trailing fields, so every
    # scan plans with an explicit schema instead of paying a Spark
    # footer-inference job per commit root — the term that grows with
    # commit count on a streaming-fed table. A commit whose files would
    # change a column's type off the widening lattice is refused before
    # it publishes. Only logs written before every commit recorded one
    # lack the key; table_schema derives theirs.

    def _dir_struct(self, rel_dir: str):
        """Spark StructType of one data dir: the exact schema recorded at
        write time when available, else a driver-side footer read of a
        plain dir (tz-naive parquet timestamps map to TimestampNTZ,
        matching Spark's parquet inference). None when unknowable — a
        partition leaf placed by another writer keeps its keys in the
        path, not the files."""
        if rel_dir in self._pending_schemas:
            return self._pending_schemas[rel_dir]
        if _partition_of(rel_dir) is not None:
            return None
        return self._files_struct(rel_dir)

    def _files_struct(self, rel_dir: str):
        """The footer schema of one file of ``rel_dir`` (its data
        columns), or None (no file, or a footer that cannot name its
        types)."""
        import glob as _glob

        files = sorted(_glob.glob(os.path.join(self.path, rel_dir,
                                               "*.parquet")))
        return self._footer_struct(files[0]) if files else None

    @staticmethod
    def _footer_struct(path: str):
        """Spark StructType from one parquet file's footer, or None when
        the footer can't name the types faithfully (INT96)."""
        import pyarrow.parquet as pq

        try:
            arrow = pq.read_schema(path)
            meta = arrow.metadata or {}
            spark_json = meta.get(
                b"org.apache.spark.sql.parquet.row.metadata")
            if spark_json:  # Spark-written file: its schema is exact
                from pyspark.sql.types import StructType

                return StructType.fromJson(json.loads(spark_json))
            # non-Spark writer: arrow annotations are faithful (tz-naive
            # -> NTZ, matching Spark's parquet inference) EXCEPT for
            # INT96, whose arrow view loses the LTZ meaning
            md = pq.ParquetFile(path).metadata
            rg = md.row_group(0)
            if any(rg.column(i).physical_type == "INT96"
                   for i in range(rg.num_columns)):
                return None
            from pyspark.sql.pandas.types import from_arrow_schema

            return from_arrow_schema(arrow, prefer_timestamp_ntz=True)
        except Exception:
            return None

    @staticmethod
    def _merge_struct(a, b):
        """Union of two StructTypes by field name, first type wins. A
        same-name type conflict resolves to the WIDER type when the pair
        sits on the safe-widening lattice (r11: the logged schema of a
        widened table is the wide type; narrow files upcast at the
        scan), else None: a genuine conflict."""
        from pyspark.sql.types import StructField, StructType

        if a is None:
            return b
        if b is None:
            return a
        by_name = {f.name: i for i, f in enumerate(a.fields)}
        fields = list(a.fields)
        for f in b.fields:
            i = by_name.get(f.name)
            if i is None:
                fields.append(f)
            elif fields[i].dataType != f.dataType:
                if _widens_to(fields[i].dataType, f.dataType):
                    fields[i] = StructField(f.name, f.dataType, True,
                                            fields[i].metadata)
                elif not _widens_to(f.dataType, fields[i].dataType):
                    return None
        return StructType(fields)

    def _merged_or_refused(self, a, b):
        """:meth:`_merge_struct` of the table schema ``a`` and the
        written files' ``b``; a type change off the widening lattice
        raises ``ValueError`` before anything commits — a commit
        carrying it would make every later snapshot read fail."""
        out = self._merge_struct(a, b)
        if out is None:
            bad = [f"{f.name}: table {a[f.name].dataType.simpleString()} "
                   f"vs written {f.dataType.simpleString()}"
                   for f in b.fields if f.name in a.names
                   and a[f.name].dataType != f.dataType]
            raise ValueError(
                f"write to {self.path} changes column type(s) {bad}, "
                "which no safe widening admits — cast the frame to the "
                "table's types, or overwrite() the whole table for a "
                "typed rewrite; nothing was committed")
        return out

    def _commit_schema(self, adds: list[str], removes: list[str],
                       expected_version: int | None, mapping=None):
        """Table schema after this commit: the adds' schema merged over
        the base's, or the adds' alone when they replace the whole
        snapshot (overwrite/compact/merge); a commit without adds (a
        DV delete, a purge, a rename) keeps the base's. ``mapping``:
        the commit's {logical: physical} column mapping — add dirs
        carry PHYSICAL names, the recorded schema is LOGICAL, so the
        adds' struct is reverse-renamed before merging. None only when
        an externally placed dir's footer cannot name its types."""
        from pyspark.sql.types import StructField, StructType

        adds_s = None
        for rel in adds:
            s = self._dir_struct(rel)
            if s is None:
                return None
            adds_s = s if adds_s is None \
                else self._merged_or_refused(adds_s, s)
        if adds_s is not None and mapping:
            rev = {p: l for l, p in mapping.items()}
            adds_s = StructType([
                StructField(rev.get(f.name, f.name), f.dataType,
                            f.nullable, f.metadata)
                for f in adds_s.fields])
        if expected_version is None:
            return adds_s
        if adds_s is not None and not (
                set(self.snapshot_dirs(expected_version)) - set(removes)):
            return adds_s  # full replacement: overwrite/compact/merge
        prev = self.table_schema(expected_version)
        if adds_s is None or prev is None:
            return adds_s or prev
        return self._merged_or_refused(prev, adds_s)

    def table_schema(self, version: int | None = None):
        """Table schema at ``version`` (default latest), partition keys
        included as the trailing fields — what every scan plans with.
        It is the schema the governing commit logged; only a legacy
        commit that logged none derives it here
        (:meth:`_derived_schema`), and the next commit logs it. Like
        Delta, DELETE / UPDATE never shrink the schema even if the last
        file carrying a column is rewritten away. None before the
        first commit and for a table that never held data."""
        from pyspark.sql.types import StructType

        latest = self.latest_version()
        if latest is None:
            return None
        v = latest if version is None else min(version, latest)
        if v < 0:
            return None
        sch = self._doc(v).get("schema")
        return StructType.fromJson(sch) if sch else self._derived_schema(v)

    def _derived_schema(self, v: int):
        """The schema of legacy version ``v``: the footers of its live
        dirs (or of the newest data an empty snapshot had) merged, and
        the partition keys appended at the types generation.json's
        ``partition_types`` recorded at write time. A Spark inference
        names what neither can: a dir whose footer is INT96, or keys
        written before types were recorded (one scan of one commit
        root). None for a table that never held data."""
        from pyspark.sql import SparkSession
        from pyspark.sql.types import (StructField, StructType,
                                       _parse_datatype_string)

        if v in self._derived:
            return self._derived[v]
        dirs = self.snapshot_dirs(v) or self._schema_dirs(v)
        if not dirs:
            return None
        spark = SparkSession.getActiveSession()
        sch = None
        for d in dirs:
            st = (self._files_struct(d) or spark.read.parquet(
                os.path.join(self.path, d)).schema)
            sch = self._merge_struct(sch, st) or sch
        leaves = [d for d in dirs if _partition_segs(d)]
        keys = [c for c, _ in _partition_segs(leaves[0])
                if c not in sch.names] if leaves else []
        lut = self.generation_config().get("partition_types", {})
        types = {c: _parse_datatype_string(lut[c]) for c in keys if c in lut}
        if len(types) < len(keys):
            root = _commit_root(leaves[0])
            inferred = spark.read.option(
                "basePath", os.path.join(self.path, root)).parquet(
                *[os.path.join(self.path, d) for d in leaves
                  if _commit_root(d) == root]).schema
            types = {c: inferred[c].dataType for c in keys} | types
        sch = StructType(sch.fields + [StructField(c, types[c])
                                       for c in keys])
        self._derived[v] = sch
        return sch

    # -- column mapping (Delta's columnMapping, name mode; r11) ------------
    #
    # RENAME/DROP COLUMN without rewriting data (VERDICT r10 #2): files
    # always store PHYSICAL column names — a column's name at the moment
    # it was added, stable forever — and every commit doc after mapping
    # activation carries the full {logical: physical} mapping plus the
    # set of every physical name ever assigned (so re-adding a renamed
    # or dropped logical name can never alias onto an orphaned physical
    # column's stale data). Reads plan in physical names and alias to
    # the VERSION'S logical names, so time travel returns era-correct
    # column sets and a DROP is metadata-only: the physical column stays
    # in old files, invisible to every read, and is physically swept by
    # the next compaction (which reads the logical view and rewrites).

    def column_mapping(self, version: int | None = None) -> dict | None:
        """{logical: physical} at ``version``, or None before mapping
        activation (identity)."""
        latest = self.latest_version()
        if latest is None:
            return None
        v = latest if version is None else min(version, latest)
        if v < 0:
            return None
        return self._doc(v).get("column_mapping")

    def _physical_used(self, version: int | None = None) -> list[str]:
        latest = self.latest_version()
        if latest is None:
            return []
        v = latest if version is None else min(version, latest)
        return self._doc(v).get("physical_used", [])

    def _to_physical(self, df: DataFrame,
                     mapping: dict | None = None) -> DataFrame:
        """Rename a logical-named frame to physical names for writing.
        ``mapping`` overrides the table's current one (append-with-
        evolution passes its extended mapping)."""
        if mapping is None:
            mapping = self.column_mapping(None)
        if not mapping:
            return df
        renames = {log: phys for log, phys in mapping.items()
                   if phys != log and log in df.columns}
        return df.withColumnsRenamed(renames) if renames else df

    def _physical_col(self, col: str, version: int | None = None) -> str:
        """Logical -> physical column-name translation for stats/bloom
        pruning lookups (footer stats are keyed by physical names)."""
        return (self.column_mapping(version) or {}).get(col, col)

    def _extend_mapping(self, cols) -> tuple:
        """(mapping_for_write, commit cm override, commit used override)
        admitting NEW logical columns on a mapped table: each gets a
        physical name that has NEVER been used — re-adding a renamed or
        dropped logical name must not alias onto an orphaned physical
        column's stale data in old files. No-ops (inherit) on unmapped
        tables and when no new columns appear."""
        mapping = self.column_mapping(None)
        if not mapping:
            return None, _INHERIT, None
        new_cols = [c for c in cols if c not in mapping]
        if not new_cols:
            return mapping, _INHERIT, None
        used = set(self._physical_used(None) or mapping.values())
        mapping = dict(mapping)
        for c in new_cols:
            phys = c
            while phys in used:
                phys = f"{c}__p{uuid.uuid4().hex[:8]}"
            mapping[c] = phys
            used.add(phys)
        return mapping, mapping, sorted(used)

    def _bump_protocol_cm(self, floor: int = CM_READER_VERSION) -> None:
        self._raise_protocol(reader_floor=floor,
                             writer_floor=WRITER_VERSION)

    def _mapping_base(self, base: int):
        """(schema, mapping, used) for a metadata-evolution commit based
        on version ``base`` — activates identity mapping on first use."""
        sch = self.table_schema(base)
        if sch is None:
            raise ValueError(
                "rename/drop need the table's schema; this table has "
                f"none at version {base} (it never held data)")
        if self._live_partition_col(self.snapshot_dirs(base)) is not None:
            raise ValueError(
                "column mapping is not supported on partitioned tables")
        mapping = dict(self.column_mapping(base)
                       or {f.name: f.name for f in sch.fields})
        used = set(self._physical_used(base) or mapping.values())
        return sch, mapping, used

    def _guard_metadata_refs(self, col: str, op: str) -> None:
        """Refuse to rename/drop a column that table-level metadata
        still references by name — a CHECK constraint or generated
        expression naming it would make EVERY future write fail at
        expression resolution (or, worse, silently bind elsewhere),
        and an identity column's allocation would lose its target.
        Delta blocks these the same way; the remedy is explicit: drop
        the constraint / generated declaration first. Matching is a
        case-insensitive word-boundary scan of the expression text —
        a column name inside a string literal false-positives, which
        errs on the safe side for a schema-change guard."""
        import re

        pat = re.compile(rf"\b{re.escape(col)}\b", re.IGNORECASE)
        for name, expr in self.check_constraints().items():
            if pat.search(expr):
                raise ValueError(
                    f"{op} {col!r}: CHECK constraint '{name}' ({expr}) "
                    "references it — drop_check_constraint first, or "
                    "every future write fails resolving the expression")
        cfg = self.generation_config()
        for gcol, expr in cfg.get("generated", {}).items():
            if gcol.lower() == col.lower() or pat.search(expr):
                raise ValueError(
                    f"{op} {col!r}: generated column '{gcol}' "
                    f"({expr}) is or references it — "
                    "drop_generated_column first")
        ident = cfg.get("identity")
        if ident and ident["col"].lower() == col.lower():
            raise ValueError(
                f"{op} {col!r}: it is the table's identity column — "
                "declare a replacement strategy first (identity "
                "allocation would lose its target)")

    def rename_column(self, old: str, new: str,
                      meta: dict | None = None) -> int:
        """RENAME COLUMN as a metadata-only commit (Delta columnMapping):
        zero data I/O at any table size — the logical name changes, the
        physical file column keeps its name, readers alias at planning.
        Raises the table's reader protocol floor on first use."""
        from pyspark.sql.types import StructField, StructType

        self._guard_metadata_refs(old, "rename_column")
        base = self.latest_version()
        sch, mapping, used = self._mapping_base(base)
        names = [f.name for f in sch.fields]
        if old not in names:
            raise ValueError(f"rename_column: no column {old!r} "
                             f"(have {names})")
        if new in names:
            raise ValueError(f"rename_column: {new!r} already exists")
        mapping[new] = mapping.pop(old)
        new_sch = StructType([
            StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old else f for f in sch.fields])
        self._bump_protocol_cm()
        return self.commit(
            [], [], {**(meta or {}), "operation": "rename_column",
                     "from": old, "to": new},
            expected_version=base, schema=new_sch,
            column_mapping=mapping, physical_used=sorted(used))

    def drop_column(self, name: str, meta: dict | None = None) -> int:
        """DROP COLUMN as a metadata-only commit: the physical column is
        orphaned in existing files (invisible to every read — the
        logical view never selects it) and physically swept by the next
        compaction. At 100 TB this replaces the full-table rewrite the
        reference's overwriteSchema refresh implies
        (read_delta.py:219-222)."""
        from pyspark.sql.types import StructType

        self._guard_metadata_refs(name, "drop_column")
        base = self.latest_version()
        sch, mapping, used = self._mapping_base(base)
        names = [f.name for f in sch.fields]
        if name not in names:
            raise ValueError(f"drop_column: no column {name!r} "
                             f"(have {names})")
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the last column")
        mapping.pop(name, None)
        new_sch = StructType([f for f in sch.fields if f.name != name])
        self._bump_protocol_cm()
        return self.commit(
            [], [], {**(meta or {}), "operation": "drop_column",
                     "column": name},
            expected_version=base, schema=new_sch,
            column_mapping=mapping, physical_used=sorted(used))

    def commit(self, adds: list[str], removes: list[str],
               meta: dict | None = None,
               expected_version: int | None = None,
               stats: dict[str, dict] | None = None,
               changes: str | None = None,
               schema=None,
               dvs: dict | None = None,
               column_mapping: dict | None = _INHERIT,
               physical_used: list[str] | None = None) -> int:
        """Publish a commit doc atomically. ``expected_version`` is the
        version this writer based its work on (None for a fresh table);
        losing the race to version+1 raises :class:`TxnConflictError`.
        ``stats`` carries per-dir column min/max the caller already
        knows (a clone carries its source's — Delta's AddFile-stats
        flow); dirs not covered fall back to a driver-side footer
        harvest, which is fine for single-digit-file commits."""
        os.makedirs(self.log_dir, exist_ok=True)
        self._check_protocol(writer=True)
        if adds and self.generation_config().get("partition_by"):
            plain = [d for d in adds if _partition_of(d) is None]
            if plain:
                # a plain dir on a partition-DECLARED table would strand
                # its rows outside partition-granular bookkeeping (the
                # mixed layout set_partition_column refuses to create) —
                # fail the writer clearly instead of corrupting layout
                raise ValueError(
                    f"commit on partition-declared table {self.path}: "
                    f"adds include non-partitioned dir(s) {plain[:2]} — "
                    "route writes through append()/overwrite()/"
                    "overwrite_partitions(), which lay out "
                    "col=value subdirs")
        if expected_version is None:
            expected_version = self.latest_version()
        elif expected_version == -1:
            # explicit "I based my work on an EMPTY table" (r13): the
            # bare None is ambiguous — passing latest_version() of an
            # empty table through meant "resolve at commit time", which
            # silently REBASED a first-commit race onto the winner
            # instead of conflicting (two concurrent identity
            # bootstraps both committed ids 1..N). -1 pins version 0;
            # a racer who got there first makes the put-if-absent
            # conflict like any other stale base.
            expected_version = None
            prev = self.latest_version()
            if prev is not None:
                raise TxnConflictError(
                    f"version 0 already committed at {self.path}")
        version = 0 if expected_version is None else expected_version + 1
        if version == 0:
            # preserve floors declared BEFORE the first commit (a
            # generated/identity declaration bumps min_writer on an
            # empty table — stamping defaults here would clobber it)
            p0 = os.path.join(self.log_dir, "protocol.json")
            pre = json.load(open(p0)) if os.path.exists(p0) else {}
            self._write_config("protocol.json", {
                "min_reader_version": max(
                    READER_VERSION, pre.get("min_reader_version", 1)),
                "min_writer_version": max(
                    WRITER_VERSION, pre.get("min_writer_version", 1))})
            self._protocol_cache = None
        if dvs and any(ref is not None for ref in dvs.values()):
            # first DV raises the table's floor: a pre-DV reader would
            # resurrect deleted rows, so it must refuse instead
            self._raise_protocol(reader_floor=DV_READER_VERSION,
                                 writer_floor=WRITER_VERSION)
        import time as _time
        stats = stats or {}
        # column mapping propagates commit-to-commit once active (like
        # the schema, each doc carries the FULL current state); rename/
        # drop/evolving appends pass explicit overrides
        if expected_version is not None:
            prev_doc = self._doc(expected_version)
            if column_mapping is _INHERIT:
                column_mapping = prev_doc.get("column_mapping")
            if physical_used is None:
                physical_used = prev_doc.get("physical_used")
        if column_mapping is _INHERIT:
            column_mapping = None  # fresh table: no mapping to inherit
        if schema is None:  # explicit override: restore pins the old one
            schema = self._commit_schema(adds, removes, expected_version,
                                         mapping=column_mapping)
        doc = {"version": version, "adds": adds, "removes": removes,
               "ts": _time.time(),  # commit wall clock (timestamp travel)
               "meta": meta or {},
               **({"column_mapping": column_mapping}
                  if column_mapping else {}),
               **({"physical_used": physical_used}
                  if physical_used else {}),
               **({"schema": schema.jsonValue()} if schema else {}),
               **({"changes": changes} if changes else {}),
               **({"dvs": dvs} if dvs else {}),
               "stats": {rel: (stats[rel] if rel in stats
                               else self._dir_stats(rel))
                         for rel in adds},
               # per-dir row counts (Delta's AddFile numRecords):
               # metadata-only COUNT(*) and the full-match fast path
               "rows": {rel: self._dir_rows(rel) for rel in adds}}
        bloom_cfg = self._bloom_config()
        if bloom_cfg and adds:
            doc["bloom"] = {rel: self._dir_bloom(rel, bloom_cfg)
                            for rel in adds}
        if self._replays(meta):
            # Delta's SetTransaction discipline INSIDE the commit: a
            # replica racing this same (app_id, batch_id) either (a)
            # already published — the ledger walk up to the
            # expected_version just read sees it and we refuse here, or
            # (b) publishes between this check and our link — then both
            # target the SAME version, the atomic put-if-absent makes
            # the loser conflict, and its retry lands here. The typed
            # refusal tells every writer the batch is done: drop the
            # data, no retry, no backoff.
            raise TxnReplayError(
                f"stream batch {meta['stream_batch_id']} already "
                f"committed to {self.path} — replay absorbed")
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        final = os.path.join(self.log_dir, f"{version:011d}.json")
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)  # atomic put-if-absent
        except FileExistsError:
            raise TxnConflictError(
                f"version {version} already committed at {self.path}"
            ) from None
        finally:
            os.unlink(tmp)
        self._write_hint(latest=version)
        return version

    def _check_append_schema(self, df: DataFrame) -> None:
        """Reject schema-mismatched appends AT WRITE TIME with a clear
        error (Delta's behavior) instead of failing later inside the
        snapshot read's union. Column NAMES must match the live schema;
        overwrite() is the schema-evolution path."""
        dirs = self._schema_dirs()
        if not dirs:
            return
        import glob as _glob

        import pyarrow.parquet as pq

        files = _glob.glob(os.path.join(self.path, dirs[-1], "*.parquet"))
        if not files:
            return
        live = set(pq.read_schema(files[0]).names)
        for c, _ in _partition_segs(dirs[-1]):
            live.add(c)  # partition cols live in the path, not files
        mapping = self.column_mapping(None)
        if mapping:
            # files carry PHYSICAL names; the append frame is LOGICAL
            live = set(mapping.keys())
        if set(df.columns) != live:
            raise ValueError(
                f"append schema mismatch: table has {sorted(live)}, "
                f"frame has {sorted(df.columns)} — align columns or use "
                "overwrite() for schema evolution")

    def append(self, df: DataFrame, meta: dict | None = None,
               merge_schema: bool = False) -> int | None:
        """Blind appends touch no existing files, so losing a commit race
        is never a semantic conflict — the same files rebase onto the
        winner (the optimistic-retry rule real log stores apply to
        AddFile-only transactions); the data is written once. An
        identity append is the exception: when the racer allocated ids
        too, this append's ids are stale and the attempt is redone.
        Both commit through :meth:`_transact`.

        Exactly-once stream appends: a ``meta`` built by
        :func:`_stream_meta` carries the micro-batch's
        ``(stream_app_id, stream_batch_id)``. When the ledger already
        covers that batch the append writes nothing and returns None;
        when a racing replica wins, the commit's :class:`TxnReplayError`
        is terminal — the written data is dropped and None returned,
        with no retry and no backoff (Delta's ``txnAppId``/
        ``txnVersion`` write options, kept in the writer).

        A table that declares no partition key lays out the key that
        ``meta["partition_by"]`` names, as ``col=value`` subdirs of this
        commit only — the per-commit layout the streaming index legs
        prune their reads by.

        ``merge_schema=True`` (Delta's mergeSchema) admits a frame whose
        columns differ from the live schema: new columns null-fill old
        rows, missing columns null-fill the new rows — the snapshot read
        unions schemas across commits; evolution is ADDITIVE only, never
        a type change (a shared column whose type differs is REJECTED at
        write time, as Delta does without the type-widening feature —
        committing it would brick every subsequent snapshot read at the
        parquet schema merge, a fail-at-read corruption)."""
        if self._replays(meta):
            return None
        gcfg = self.generation_config()
        if gcfg.get("generated"):
            df = self._apply_generated(df)
        part_keys = self._part_keys(gcfg) or self._part_keys(meta or {})
        ident = gcfg.get("identity")
        if part_keys:
            if merge_schema:
                raise ValueError(
                    "append(merge_schema=True) on a partition-declared "
                    "table is not supported — additive evolution on "
                    "partition-granular layouts rides overwrite() of "
                    "the evolved shape")
            meta = {**(meta or {}), "partition_by":
                    gcfg.get("partition_by") or meta["partition_by"]}
        elif ident is not None:
            if merge_schema:
                raise ValueError(
                    "append(merge_schema=True) on an identity table is "
                    "not supported — evolve the schema with a plain "
                    "append/overwrite of the new shape first, then "
                    "append")
        elif merge_schema:
            # safe type WIDENING (r11, VERDICT r10 #4): the widened
            # logical type lives in the log while files keep their
            # narrow physical type and upcast at the scan
            cur = self.table_schema(None)
            by = {f.name: f.dataType for f in cur.fields} if cur else {}
            bad, widens = [], []
            for c in df.columns:
                if c not in by or by[c] == df.schema[c].dataType:
                    continue
                ft = df.schema[c].dataType
                if _widens_to(by[c], ft):
                    widens.append(c)   # table type widens to the frame's
                elif _widens_to(ft, by[c]):
                    pass  # narrower frame: the logged (wide) type holds,
                    # the new narrow files upcast at the scan like any
                    # pre-widening dir
                else:
                    bad.append(f"{c}: table {by[c].simpleString()} vs "
                               f"frame {ft.simpleString()}")
            if bad:
                raise ValueError(
                    "append(merge_schema=True) admits NEW columns and "
                    f"safe type WIDENING, not these changes: {bad} — "
                    "cast the frame to the table types, or overwrite() "
                    "for a typed rewrite")
            if widens:
                # a widened table's files carry mixed physical types
                # under one wide logical schema: raise the reader floor
                # so pre-widening readers refuse instead of misreading
                self._bump_protocol_cm(TW_READER_VERSION)

        def write(out: DataFrame) -> _Txn:
            # the layout step: col=value subdirs of one commit root on a
            # partitioned table (r12), one plain dir otherwise
            if part_keys:
                return _Txn(self._write_data_partitioned(out, part_keys),
                            [], meta)
            mapping, cm_override, used_override = \
                self._extend_mapping(out.columns)
            return _Txn([self._write_data(out, mapping=mapping)], [], meta,
                         column_mapping=cm_override,
                         physical_used=used_override)

        if ident is None:
            if not merge_schema:
                self._check_append_schema(df)
            attempt, rebase = write(df), _rebase_same
        else:
            def attempt(base: int) -> _Txn:
                # identity (r11; x partitioned layout r13): ids come
                # from the high water at base and ride the same commit
                # doc as the data
                out, hw_meta, handle = self._assign_identity(df, ident)
                try:
                    self._check_append_schema(out)
                    txn = write(out)
                finally:
                    handle.unpersist()
                txn.meta = {**(meta or {}), **hw_meta}
                return txn

            def rebase(txn: _Txn, base: int, latest: int) -> _Txn | None:
                # a racer that ALSO allocated made these ids stale:
                # redo from its high water; a non-allocating one
                # (delete, compaction, plain append) leaves them valid
                return None if self._interleaved_allocation(base) else txn
        try:
            return self._transact(attempt, rebase)
        except TxnReplayError:
            return None  # the batch is committed; its files reclaimed

    def overwrite(self, df: DataFrame, meta: dict | None = None,
                  changes: DataFrame | None = None) -> int:
        """Atomic full replace (the reference's overwriteSchema rewrite,
        read_delta.py:219-222, without its torn-write window).

        ``changes``: optional row-level change frame (data columns +
        ``_change_type``) written alongside the commit, making this
        overwrite CDF-consumable — the shape an MV refresher uses when
        it rewrites its (small) view table wholesale but KNOWS the
        row-level delta (changed groups only), so stacked consumers
        keep following incrementally instead of resyncing."""
        gcfg = self.generation_config()
        if gcfg.get("generated"):
            df = self._apply_generated(df)
        ident = gcfg.get("identity")
        part_keys = self._part_keys(gcfg)
        if part_keys:
            meta = {**(meta or {}), "partition_by": gcfg["partition_by"]}

        def attempt(base: int) -> _Txn:
            # base is read BEFORE the identity high water: an identity-
            # allocating commit interleaving between the two reads must
            # surface as TxnConflictError, not be absorbed into a base
            # read afterwards (which would commit a STALE high water and
            # let later appends re-issue ids the interleaved append
            # handed out)
            out, m, handle = df, meta, None
            if ident is not None:
                # overwrite KEEPS the high water (Delta's rule: identity
                # never re-issues values a previous snapshot handed out)
                out, hw_meta, handle = self._assign_identity(df, ident)
                m = {**(meta or {}), **hw_meta}
            try:
                live = self.snapshot_dirs(base)
                rel_changes = (self._write_changes(changes)
                               if changes is not None else None)
                adds = (self._write_data_partitioned(out, part_keys)
                        if part_keys else [self._write_data(out)])
            finally:
                if handle is not None:
                    handle.unpersist()
            return _Txn(adds, live, m, changes=rel_changes)

        return self._transact(attempt)

    def clone(self, dest: str, version: int | None = None) -> "TxnTable":
        """CLONE (Delta's ``CREATE TABLE ... CLONE``, optionally
        ``VERSION AS OF``): an independent table at ``dest`` whose
        commit 0 is the source snapshot at ``version`` (default latest).
        Data files are HARDLINKED where the filesystem allows (byte-copy
        fallback), so the clone costs metadata + inode links, never a
        data rewrite — and stays vacuum-safe: either table's vacuum only
        unlinks ITS name for a file, the other's link keeps the inode
        alive. After the clone the tables evolve independently (every
        write in this format creates new uuid dirs; shared files are
        never mutated in place). Column stats and the log schema carry
        over from the source commit docs, so the clone's planner prunes
        exactly like the source's; CHECK constraints carry over; bloom
        indexing restarts (blooms live in commit docs — the clone's
        pre-existing dirs are simply never bloom-pruned, the same
        contract as :meth:`enable_bloom` on any existing table)."""
        import shutil as _shutil

        src_version = (self.latest_version() if version is None
                       else version)
        if src_version is None:
            raise ValueError(f"not a txn table (no commits): {self.path}")
        dirs = self.snapshot_dirs(src_version)
        other = TxnTable(dest)
        if other.latest_version() is not None:
            raise ValueError(f"clone destination is not empty: {dest}")
        if os.path.isdir(dest) and os.listdir(dest):
            # a dest with stray files (a mistyped path, a half-deleted
            # table) must never be silently merged into or overwritten —
            # the pre-r6 EEXIST fallback copy2'd OVER pre-existing files
            raise ValueError(
                f"clone destination exists and is not empty: {dest}")
        src_dvs = self.snapshot_dvs(src_version)
        dv_paths = sorted({ref["path"] for ref in src_dvs.values()})
        for rel in list(dirs) + dv_paths:  # DV sidecars clone alongside
            for root, _, files in os.walk(os.path.join(self.path, rel)):
                relroot = os.path.relpath(root, self.path)
                os.makedirs(os.path.join(dest, relroot), exist_ok=True)
                for f in files:
                    s = os.path.join(root, f)
                    d = os.path.join(dest, relroot, f)
                    try:
                        os.link(s, d)
                    except FileExistsError:
                        raise  # never overwrite a pre-existing file
                    except OSError:
                        _shutil.copy2(s, d)  # cross-device: byte copy
        cpath = os.path.join(self.log_dir, "constraints.json")
        if os.path.exists(cpath):
            os.makedirs(other.log_dir, exist_ok=True)
            _shutil.copy2(cpath,
                          os.path.join(other.log_dir, "constraints.json"))
        gpath = os.path.join(self.log_dir, "generation.json")
        if os.path.exists(gpath):
            # generated/identity declarations carry over — a clone
            # without them would accept writes that skip generation
            # (or, with a user-supplied id column, break uniqueness)
            os.makedirs(other.log_dir, exist_ok=True)
            _shutil.copy2(gpath,
                          os.path.join(other.log_dir, "generation.json"))
        src_cm = self.column_mapping(src_version)
        clone_meta = {"operation": "clone", "source_path": self.path,
                      "source_version": src_version}
        hw = self._identity_high_water(src_version)
        if hw is not None:
            # the high water lives in commit meta: seed the clone's
            # commit 0 with the source's at src_version so the clone
            # never re-issues ids the cloned snapshot already holds
            clone_meta["identity_high_water"] = hw
        other.commit(dirs, [], clone_meta,
                     stats=self._live_stats(src_version),
                     schema=self.table_schema(src_version),
                     dvs=src_dvs or None,
                     column_mapping=src_cm,
                     physical_used=self._physical_used(src_version)
                     or None)
        if src_cm:
            # a mapped source's protocol floor carries to the clone (its
            # files are physical-named; a pre-mapping reader would
            # misbind) — written after commit 0, which stamps the default
            other._bump_protocol_cm()
        if os.path.exists(gpath):
            # generation is a WRITER feature: the clone's floor rises
            # with the copied declaration (after commit 0's stamp)
            other._bump_protocol_writer()
        bpath = os.path.join(self.log_dir, "bloom.json")
        if os.path.exists(bpath):  # after commit 0: indexing restarts
            _shutil.copy2(bpath,
                          os.path.join(other.log_dir, "bloom.json"))
        return other

    def overwrite_partitions(self, df: DataFrame,
                             part_col: str | list[str],
                             meta: dict | None = None) -> int:
        """Partition-granular atomic overwrite (Delta's ``replaceWhere``
        / dynamic partition overwrite): replaces exactly the partitions
        present in ``df``, leaves every other partition's files
        untouched — at 100 TB a daily batch rewrites one date
        partition, never the table. The log's add/remove unit is the
        (possibly nested) ``col=value`` subdir, so untouched partitions
        keep their physical files across versions (cheap commits, cheap
        time travel). Requires the table's writes to be consistently
        partitioned by the table's key list; ``part_col`` names either
        the FULL list (replace exact key tuples present in ``df``) or a
        leading PREFIX of it (r13 — e.g. ``"order_year"`` on an
        ``[order_year, region]`` table replaces every region
        subpartition under the years present in ``df``: the
        whole-date-reload shape at coarser granularity). Data is always
        WRITTEN at the full declared layout; only the remove matching
        runs at the requested granularity. On an identity table new
        rows allocate ids from the high water inside the same commit
        (replaced rows' ids retire — identity never reuses values)."""
        given = [part_col] if isinstance(part_col, str) \
            else list(part_col)
        base = self._base()
        if self.column_mapping(base):
            raise ValueError(
                "column mapping is not supported on partitioned tables")
        gcfg = self.generation_config()
        declared = self._part_keys(gcfg)
        ident = gcfg.get("identity")
        handle = None
        if gcfg:
            # a partition-DECLARED table (r12) routes generation through
            # the writer before the layout write, so nothing is
            # bypassed; the given keys must be the declared list or a
            # leading prefix of it. Undeclared generation on a
            # partition-granular call still refuses.
            ok_prefix = declared and declared[:len(given)] == given
            if (gcfg.get("generated") or declared) and not ok_prefix:
                raise ValueError(
                    f"overwrite_partitions({given!r}): the table "
                    f"declares partition keys {declared!r} — pass the "
                    "full list or a leading prefix of it (or declare "
                    "the key with set_partition_column())")
            if gcfg.get("generated"):
                df = self._apply_generated(df)
        live = self.snapshot_dirs(base)
        live_cols = self._live_partition_cols(live)
        write_cols = declared or given
        if live and live_cols != write_cols:
            raise ValueError(
                f"overwrite_partitions({given!r}) on a table whose live "
                f"layout is partitioned by {live_cols!r} — partition-"
                "granular commits need a consistently partitioned table")
        hw_meta: dict = {}
        if ident is not None:
            df, hw_meta, handle = self._assign_identity(df, ident)
        try:
            adds = self._write_data_partitioned(df, write_cols)
            # removes match at the REQUESTED granularity: the first
            # len(given) segments of each add's suffix select the live
            # dirs they supersede (full list => exact tuple replace)
            k = len(given)
            new_keys = {tuple(v for _, v in _partition_segs(a)[:k])
                        for a in adds}
            removes = [
                d for d in live
                if tuple(v for _, v in _partition_segs(d)[:k])
                in new_keys]
        finally:
            if handle is not None:
                handle.unpersist()
        return self._transact(_Txn(
            adds, removes,
            {**(meta or {}), **hw_meta,
             "operation": "overwrite_partitions",
             "partition_by": gcfg.get("partition_by", part_col)}),
            base=base)

    def replace_where(self, spark: SparkSession, df: DataFrame,
                      condition: str, meta: dict | None = None,
                      allow_row_predicates: bool = False) -> int:
        """Atomic predicate-scoped replace — Delta's ``replaceWhere``
        over partition keys (r14, VERDICT r13 #2): ONE commit removes
        exactly the live partitions whose TYPED key values satisfy
        ``condition`` — a predicate over ANY subset of the declared
        keys (trailing-key ``status = 'F'`` across all years, ranges,
        IN lists; granularities :meth:`overwrite_partitions`'
        full-tuple/leading-prefix contract cannot express) — and adds
        ``df`` written at the declared layout. Source rows must ALL
        satisfy ``condition`` (Delta's replaceWhere contract; a
        violating or NULL-evaluating row raises and nothing commits).
        The remove set resolves METADATA-ONLY over
        :meth:`_typed_partition_values`'s typed values frame — zero
        storage I/O, bounded by the live partition count, the same
        discipline the partitioned row-level ops carry — so at 100 TB
        replacing one business key across three years of daily
        partitions touches the log and the replaced dirs, never the
        table. An empty ``df`` makes this a partition-predicate
        DELETE in one commit. Reference anchor: the reference's Delta
        overwrite sink (spark/SaveDelta.scala:157-163) exposed
        ``replaceWhere`` as the idempotent-reload knob; this is that
        surface on the txn format.

        ``allow_row_predicates=True`` (r14, Delta's ARBITRARY
        replaceWhere): a predicate over data columns deletes exactly
        the matching ROWS and inserts ``df`` in the same atomic
        commit — the partitions actually holding matches are found by
        one column-pruned sizing scan (:meth:`_hot_partition_dirs`),
        their NON-matching rows rewrite as survivors alongside the new
        data, and untouched partitions keep their files. Without the
        flag a data-column predicate refuses (metadata-only pruning is
        the default contract; the flag is the explicit opt-in to a
        rewriting scan, mirroring Delta's own
        partition-vs-arbitrary distinction).

        Concurrency (r14, the seeded replace_where-under-race item):
        losing the commit race is resolved OPTIMISTICALLY, the way
        Delta's conflict checker classifies it, instead of raising on
        any interleaving. Because the remove set is a pure function of
        the predicate and the live snapshot, re-resolving it against
        the winner's snapshot and re-committing serializes this
        replace AFTER the racer — the final state is exactly what
        calling replace_where at the later version would produce:

        - partition-key predicates rebase METADATA-ONLY: the written
          add files are reused untouched (the add content depends only
          on ``df``), the remove set re-resolves over the new typed
          partition values;
        - row-predicate mode and interleaved identity ALLOCATION redo
          the attempt from the new base (survivors / baked ids came
          from the stale snapshot; the stale files are scrapped like
          a lost identity append);
        - a concurrent SCHEMA change or partition-LAYOUT change is a
          genuine :class:`TxnConflictError` (Delta's metadata-changed
          class — the written files embody the old shape, no rebase
          can absorb that).

        The rounds commit through :meth:`_transact`."""
        import re

        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        if re.search(self._NONDET_PAT, condition, re.IGNORECASE):
            raise ValueError(
                f"nondeterministic condition {condition!r} in "
                "replace_where — partition-granular semantics would "
                "evaluate it more than once with different outcomes; "
                "materialize the random choice into a column first")
        gcfg0 = self.generation_config()
        ident = gcfg0.get("identity")
        if ident is not None and re.search(
                rf"\b{re.escape(ident['col'])}\b", condition):
            raise ValueError(
                f"replace_where predicate references the GENERATED "
                f"ALWAYS AS IDENTITY column {ident['col']!r} — ids "
                "are assigned at commit time, so source rows cannot "
                "be proven to satisfy it")
        if gcfg0.get("generated"):
            df = self._apply_generated(df)

        def _resolve(base: int):
            """(keys, removes, survivors, gcfg) against the snapshot at
            ``base`` — a pure function of (predicate, snapshot), so a
            conflict rebase re-runs it against the winner's version."""
            if self.column_mapping(base):
                raise ValueError(
                    "column mapping is not supported on partitioned "
                    "tables")
            gcfg = self.generation_config()
            declared = self._part_keys(gcfg)
            live = self.snapshot_dirs(base)
            live_cols = self._live_partition_cols(live)
            keys = declared or live_cols
            if not keys:
                raise ValueError(
                    f"replace_where on an unpartitioned table: "
                    f"{self.path} — use overwrite() or delete_where() "
                    "+ append()")
            if live and live_cols is not None and live_cols != keys:
                raise ValueError(
                    f"replace_where on a table whose live layout is "
                    f"partitioned by {live_cols!r}, not {keys!r} — "
                    "predicate-scoped commits need a consistently "
                    "partitioned table")
            # remove set: metadata-only evaluation over the typed live
            # partition values (any key subset prunes); a predicate
            # that needs data columns refuses unless
            # allow_row_predicates opts in to the arbitrary-
            # replaceWhere sizing scan + survivor rewrite
            part_dirs = [d for d in live if _partition_segs(d)]
            removes: list[str] = []
            survivors: DataFrame | None = None
            if part_dirs:
                vf, segs = self._typed_partition_values(
                    spark, part_dirs, keys, base)
                try:
                    hot = {r["__seg"] for r in
                           vf.filter(F.expr(condition)).collect()}
                    removes = [d for s in sorted(hot) for d in segs[s]]
                except AnalysisException as e:
                    if not allow_row_predicates:
                        raise ValueError(
                            f"replace_where condition {condition!r} "
                            f"must resolve over the partition keys "
                            f"{keys!r} alone (Delta's replaceWhere "
                            "contract); pass allow_row_predicates="
                            "True for the arbitrary-predicate form "
                            "(one sizing scan + survivor rewrite of "
                            "the matching partitions)") from e
                    # Delta's conjunct splitting: key-only conjuncts
                    # of a mixed predicate prune the sizing scan
                    # metadata-only ("year = '1997' AND price > x"
                    # scans one year, not the table)
                    pp = self._metadata_conjuncts(vf, condition)
                    cands = self._hot_partition_dirs(
                        spark, condition, base,
                        vf if pp is None else vf.filter(F.expr(pp)),
                        segs, keys)
                    removes = cands
                    if cands:
                        snap = self._scan(spark, cands, base)
                        # NULL-evaluating rows do NOT match -> survive
                        survivors = snap.filter(
                            ~F.coalesce(F.expr(condition),
                                        F.lit(False)))
            return keys, removes, survivors, gcfg

        # source containment: every incoming row must satisfy the
        # predicate (NULL does not satisfy) — checked ONCE before any
        # write (df never changes across conflict retries) so a
        # violation leaves no orphan files
        if df.filter(~F.coalesce(F.expr(condition),
                                 F.lit(False))).limit(1).count():
            raise ValueError(
                f"replace_where: source rows violate {condition!r} — "
                "every incoming row must satisfy the replace "
                "predicate; nothing was committed")

        cur: dict = {}  # the attempt's resolved keys and survivors

        def attempt(base: int) -> _Txn:
            keys, removes, survivors, gcfg = _resolve(base)
            hw_meta: dict = {}
            handle = None
            out = df
            if ident is not None:
                # new rows allocate fresh ids; survivors (row-
                # predicate mode) keep the ids baked into their
                # rewritten rows
                out, hw_meta, handle = self._assign_identity(df, ident)
            try:
                write_df = out if survivors is None \
                    else survivors.unionByName(out)
                rel_adds = self._write_data_partitioned(write_df, keys)
            finally:
                if handle is not None:
                    handle.unpersist()
            cur.update(keys=keys, survivors=survivors)
            return _Txn(rel_adds, removes,
                        {**(meta or {}), **hw_meta,
                         "operation": "replace_where",
                         "predicate": condition,
                         "partition_by": gcfg.get("partition_by", keys)})

        def rebase(txn: _Txn, base: int, latest: int) -> _Txn | None:
            if base == -1:
                # no baseline to rebase against (a first commit raced
                # in — its dirs may match the predicate): redo the
                # whole attempt from the racer's snapshot
                return None
            # columns and types, not nullability: a racer's frame may
            # differ there without stranding the written files
            shape = [[(f.name, f.dataType) for f in self.table_schema(v)
                      or []] for v in (base, latest)]
            if shape[0] != shape[1]:
                raise TxnConflictError(
                    f"concurrent schema change under replace_where at "
                    f"{self.path} (v{base} -> v{latest}) — the written "
                    "files embody the old schema; re-run against the "
                    "evolved table")
            if cur["survivors"] is not None or (
                    ident is not None
                    and self._interleaved_allocation(base)):
                # stale snapshot baked into the files: redo the whole
                # attempt from the winner's version
                return None
            keys2, removes2, _, _ = _resolve(latest)
            if keys2 != cur["keys"]:
                raise TxnConflictError(
                    f"concurrent partition-layout change under "
                    f"replace_where at {self.path} "
                    f"({cur['keys']!r} -> {keys2!r})")
            txn.removes = removes2  # the same files, re-resolved removes
            return txn

        return self._transact(attempt, rebase)

    def merge(self, spark: SparkSession, updates: DataFrame,
              key: str | list[str],
              meta: dict | None = None,
              auto_merge: bool = False,
              matched_delete: str | None = None,
              not_matched_by_source_delete: str | None = None,
              insert: bool | str = True) -> int:
        """MERGE INTO: upsert ``updates`` by ``key`` (one column or a
        composite) into the snapshot and commit the result atomically.
        Readers see the pre-merge snapshot until the log flips — the
        transactional hop the plain-parquet sink can't offer
        (streaming/pipeline.write_stream_merge docstring). First merge
        into an empty table is just the updates.

        ``auto_merge=True`` (Delta's ``schema.autoMerge.enabled``) admits
        a source carrying columns the target lacks: the table schema
        evolves additively — target rows the merge does not touch get
        typed NULLs in the new columns, source rows missing old columns
        null-fill them — and the commit's log-recorded schema is the
        union, so snapshot reads, time travel BEFORE the boundary, and
        the change feed ACROSS it all stay consistent (the reference's
        only evolution story is full-refresh overwriteSchema,
        read_delta.py:219-222; additive evolution is its 100 TB
        replacement — never a table rewrite for a new column). Without
        the flag, extra source columns are dropped (the pre-r10
        behavior) and a source missing target columns raises."""
        from ..operators.merge import merge_upsert

        base = self.latest_version()
        if base is None:
            if (matched_delete is not None
                    or not_matched_by_source_delete is not None
                    or insert is not True):
                raise ValueError(
                    "clause merges need an existing table schema to "
                    "route rows against (the source may carry "
                    "condition-only columns like a CDC flag) — create "
                    "the table with append()/overwrite() first")
            # route through append so generated/identity columns apply
            # to a first-merge table creation exactly like any append
            return self.append(updates, meta)
        target = self.read(spark, base)
        _gcfg = self.generation_config()
        if _gcfg.get("generated"):
            updates = self._apply_generated(updates)
        _ident_handle = None
        if _gcfg.get("identity") is not None:
            updates, _ident_meta, _ident_handle = self._merge_identity(
                spark, updates, target, key, _gcfg["identity"])
            meta = {**(meta or {}), **_ident_meta}
        if auto_merge:
            from pyspark.sql import functions as _F
            # safe type WIDENING through MERGE (r11, VERDICT r10 #4): a
            # source column wider than the target's on the lattice
            # WIDENS the table — the target view upcasts, the logged
            # schema records the wide type, existing files stay narrow
            # and upcast at the scan (never a rewrite); anything off the
            # lattice still casts source -> table type below (Delta's
            # rule, so a type change can't smuggle through autoMerge)
            widened = [f for f in updates.schema.fields
                       if f.name in target.columns
                       and _widens_to(target.schema[f.name].dataType,
                                      f.dataType)]
            for f in widened:
                target = target.withColumn(
                    f.name, _F.col(f.name).cast(f.dataType))
            if widened:
                self._bump_protocol_cm(TW_READER_VERSION)
            new = [f for f in updates.schema.fields
                   if f.name not in target.columns]
            # evolve the target view additively; untouched rows carry
            # typed NULLs in the new columns (no data rewrite decides
            # this — the merge below rewrites anyway, and future appends
            # null-fill at the explicit-schema scan)
            target = target.select(
                "*", *[_F.lit(None).cast(f.dataType).alias(f.name)
                       for f in new])
            # shared columns CAST to the target's type (Delta casts the
            # MERGE source to the table schema — a wider source type
            # must not smuggle a type change through autoMerge)
            ups = updates.select(*[
                (_F.col(c).cast(target.schema[c].dataType).alias(c)
                 if c in updates.columns
                 else _F.lit(None).cast(target.schema[c].dataType)
                 .alias(c)) for c in target.columns])
        else:
            ups = updates.select(*target.columns)
        if (matched_delete is not None
                or not_matched_by_source_delete is not None
                or insert is not True):
            # full clause surface (r11): WHEN MATCHED [AND cond] THEN
            # DELETE (CDC apply), WHEN NOT MATCHED BY SOURCE THEN
            # DELETE (retention sweep), insert=False. matched_delete
            # may reference source columns that are NOT table columns
            # (a CDC deleted flag), so the source keeps its extra
            # columns — shared ones cast to the (possibly evolved)
            # target types, missing ones null-filled.
            from pyspark.sql import functions as _FC

            from ..operators.merge import merge_clauses

            src = updates
            for f in target.schema.fields:
                src = (src.withColumn(f.name, _FC.col(f.name)
                                      .cast(f.dataType))
                       if f.name in src.columns
                       else src.withColumn(
                           f.name, _FC.lit(None).cast(f.dataType)))
            merged, change_frame = merge_clauses(
                target, src, key, matched_delete=matched_delete,
                not_matched_by_source_delete=not_matched_by_source_delete,
                insert=insert)
            mapping, cm_override, used_override = \
                self._extend_mapping(merged.columns)
            changes_rel = self._write_changes(change_frame,
                                              mapping=mapping)
        else:
            merged = merge_upsert(target, ups, key)
            # CDF change set (Delta _change_data): the update frame
            # classified by key existence, PLUS the pre-update target
            # rows (update_preimage, as Delta emits) — preimages are
            # what let a downstream consumer maintain sums/avgs
            # incrementally (subtract pre, add post); without them only
            # counts are derivable. Tiny relative to the rewrite the
            # merge already performs.
            from pyspark.sql import functions as F
            tkeys = target.select(key)
            ukeys = ups.select(key)
            mapping, cm_override, used_override = \
                self._extend_mapping(merged.columns)
            changes_rel = self._write_changes(
                ups.join(tkeys, key, "left_anti")
                .withColumn("_change_type", F.lit("insert"))
                .unionByName(
                    target.join(ukeys, key, "left_semi")
                    .withColumn("_change_type", F.lit("update_preimage")))
                .unionByName(
                    ups.join(tkeys, key, "left_semi")
                    .withColumn("_change_type",
                                F.lit("update_postimage"))),
                mapping=mapping)
        # materialize BEFORE the commit: the new files must be fully on
        # disk when the log doc appears (they read from the old snapshot,
        # so no self-overwrite hazard exists at any point). A partitioned
        # live layout is preserved — a plain full rewrite would strand the
        # table's rows outside partition-granular bookkeeping.
        live = self.snapshot_dirs(base)
        # declared-layout fallback: a purge can empty the live set of a
        # partition-declared table, and the next merge must still lay
        # out col=value subdirs (commit refuses plain dirs there)
        part_keys = (self._live_partition_cols(live)
                     or self._part_keys() or None)
        adds = (self._write_data_partitioned(merged, part_keys)
                if part_keys else [self._write_data(merged,
                                                    mapping=mapping)])
        if _ident_handle is not None:
            # data (and change) files are on disk: the identity
            # assignment can no longer be recomputed, release the pin
            _ident_handle.unpersist()
        return self._transact(_Txn(adds, live, meta, changes=changes_rel,
                                   column_mapping=cm_override,
                                   physical_used=used_override),
                              base=base)

    @staticmethod
    def _src_dir_col(spark: SparkSession, root: str, dirs: list[str]):
        """``_src_dir`` of a candidate-scan row: the recorded dir of
        the file it came from (``root`` '' for plain dirs). Spark
        reports file paths URL-encoded, so an escaped partition segment
        (``ts=1999-06-01 00%3A00%3A00``) maps back to its recorded
        name."""
        import re

        from pyspark.sql import functions as F

        path = F.col("_metadata.file_path")
        if not root:
            return F.concat(F.lit(_DATA_DIR + "/"), F.substring_index(
                F.substring_index(path, "/", -2), "/", 1))
        depth = len(_partition_segs(dirs[0]))
        seen = F.concat(F.lit(root + "/"), F.substring_index(
            F.substring_index(path, "/", -(depth + 1)), "/", depth))
        out = seen
        for d in dirs:
            if re.fullmatch(r"[A-Za-z0-9_.=/-]+", d):
                continue  # URL-safe: reported as recorded
            url = spark._jvm.org.apache.hadoop.fs.Path(d).toUri().toString()
            out = F.when(seen == url, F.lit(d)).otherwise(out)
        return out

    def _dv_rows(self, spark: SparkSession, dvs: dict[str, dict]):
        """The positions (``src_dir``, ``src_file``, ``row_idx``) that
        the DV mapping ``dvs`` records for its dirs."""
        from pyspark.sql import functions as F

        paths = sorted({ref["path"] for ref in dvs.values()})
        return (spark.read.schema(_DV_SCHEMA).parquet(
            *[os.path.join(self.path, p) for p in paths])
            .filter(F.col("src_dir").isin(list(dvs)))
            .select("src_dir", "src_file", "row_idx"))

    @staticmethod
    def _candidate_obs(candidates: list[str], cond):
        """Observation + per-candidate-dir metrics (total rows ``n_i``,
        matching rows ``m_i``) to attach to the first write of a
        row-level op, so the sizing pass rides a job the op runs
        anyway."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        metrics = []
        for i, d in enumerate(candidates):
            is_d = F.col("_src_dir") == d
            metrics.append(F.count(F.when(is_d, 1)).alias(f"n_{i}"))
            metrics.append(F.count(F.when(is_d & cond, 1)).alias(f"m_{i}"))
        return obs, metrics

    _OBS_RIDER_MAX = 16  # per-dir conditional-sum riders evaluate
    # O(rows x dirs) CASE expressions; above this many candidates a
    # separate column-pruned groupBy sizing job (O(rows), reads only
    # the predicate columns) is strictly cheaper — measured 19.1 s ->
    # ~2 s for the 128-candidate scatter delete (PLANS.md r6)

    def _sizes_prepass(self, tagged, cond, candidates: list[str],
                       base: int) -> dict[str, tuple]:
        """Per-candidate-dir (rows, matches) — the many-candidates
        alternative to the Observation rider: matches from one
        column-pruned aggregation over the MATCHING rows (the scan
        pushes the condition down to row-group stats), rows from the
        log's net per-dir counts. A dir committed before row counts
        were recorded counts as partial: its rewrite keeps whatever
        does not match."""
        got = {r["_src_dir"]: r["count"] for r in
               tagged.filter(cond).groupBy("_src_dir").count()
               .collect()}  # bounded: one row per candidate dir
        rows = self._live_rows(base)
        return {d: (rows.get(d) if rows.get(d) is not None
                    else got.get(d, 0) + 1, got.get(d, 0))
                for d in candidates}

    @staticmethod
    def _obs_counts(obs, candidates: list[str]) -> dict[str, tuple]:
        """dir -> (rows, matches) from a completed candidate Observation."""
        vals = obs.get
        return {d: (vals[f"n_{i}"], vals[f"m_{i}"])
                for i, d in enumerate(candidates)}

    def _drop(self, rel: str) -> None:
        """Remove a dir this table wrote that no commit will reference
        (a probe that found no matches, a reclaimed attempt)."""
        import shutil

        shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)

    def _typed_partition_values(self, spark: SparkSession,
                                live: list[str],
                                part_cols: str | list[str],
                                version: int | None = None
                                ) -> tuple[DataFrame | None,
                                           dict[str, list[str]]]:
        """(values frame, raw-suffix -> dirs map) for the live
        partition subdirs at ``version``. The frame carries ``__seg``
        (the raw Hive-escaped ``c1=v1[/c2=v2…]`` path suffix, the
        join-back key to dirs) and one TYPED column per partition key,
        at the key's type in :meth:`table_schema` (the written type —
        ADVICE r12: inference would read a string '1998' segment back
        as int), so partition-key predicates evaluate with the same
        typed semantics the data path uses (``day > 2`` on an int key
        is numeric, never the lexicographic '10' < '2' trap) and
        escaped values (timestamps' ``%3A``) round-trip correctly."""
        from pyspark.sql import functions as F

        cols = [part_cols] if isinstance(part_cols, str) \
            else list(part_cols)
        segs: dict[str, list[str]] = {}
        vals: dict[str, list[str]] = {}
        for d in live:
            p = _partition_segs(d)
            if p:
                suf = _partition_suffix(d)
                segs.setdefault(suf, []).append(d)
                vals[suf] = [v for _, v in p]
        if not segs:
            return None, {}
        dtypes = {f.name: f.dataType.simpleString()
                  for f in self.table_schema(version).fields}

        # an inline VALUES table is a LocalRelation: collecting it, or
        # a predicate over it, runs no Spark job
        args: dict[str, str] = {}
        tuples = []
        for r, s in enumerate(sorted(segs)):
            cells = [s] + [_unescape_partition(v) for v in vals[s]]
            args.update({f"p{r}_{i}": c for i, c in enumerate(cells)})
            tuples.append("(" + ", ".join(
                f":p{r}_{i}" for i in range(len(cells))) + ")")
        names = ", ".join(["__seg"] + [f"__v{i}" for i in range(len(cols))])

        def _frame(types: dict[str, str]) -> DataFrame:
            return (spark.sql(f"SELECT * FROM VALUES {', '.join(tuples)} "
                              f"AS t({names})", args=args)
                    .select("__seg", *[
                        F.col(f"__v{i}").try_cast(types[c]).alias(c)
                        for i, c in enumerate(cols)]))

        vf = _frame(dtypes)
        rows = vf.collect()
        bad = [c for c in cols if any(r[c] is None for r in rows)]
        if bad:
            # an INFERRED type was too narrow (mixed-looking values:
            # day=1 next to day=abc — the sampled dir said int, 'abc'
            # cast to NULL and would silently drop out of pruning).
            # Spark's own inference falls back to string for mixed
            # values; do the same per column. Bounded: the collect is
            # the partition-values frame, never data.
            vf = _frame({**dtypes, **{c: "string" for c in bad}})
        return vf, segs

    #: nondeterministic SQL functions rejected in row-level op and
    #: replace_where conditions: each op evaluates its condition more
    #: than once (sizing, change capture, rewrite, whole-partition
    #: matching), so a rand()-carrying condition would delete one set
    #: of rows and record another — Delta rejects nondeterministic
    #: DELETE/UPDATE conditions outright, and so does every layout here
    _NONDET_PAT = (r"\b(?:rand|randn|random|uuid|shuffle|"
                   r"monotonically_increasing_id)\s*\(")

    @staticmethod
    def _split_top_and(text: str) -> list[str]:
        """Top-level ``AND`` conjuncts of a SQL predicate — a tiny
        tokenizer respecting quotes (with ``''`` escapes) and paren
        depth. Only space-delimited ``AND`` splits; anything it cannot
        split simply yields the whole predicate, which is always a
        CORRECT (just unoptimized) answer for the prune-extraction
        caller."""
        out: list[str] = []
        cur: list[str] = []
        depth = 0
        i, n = 0, len(text)
        while i < n:
            ch = text[i]
            if ch in ("'", '"'):
                q = ch
                cur.append(ch)
                i += 1
                while i < n:
                    cur.append(text[i])
                    if text[i] == q:
                        if (q == "'" and i + 1 < n
                                and text[i + 1] == "'"):
                            cur.append(text[i + 1])
                            i += 2
                            continue
                        i += 1
                        break
                    i += 1
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if depth == 0 and text[i:i + 5].upper() == " AND ":
                out.append("".join(cur))
                cur = []
                i += 5
                continue
            cur.append(ch)
            i += 1
        out.append("".join(cur))
        return [c.strip() for c in out if c.strip()]

    def _metadata_conjuncts(self, vf, condition: str) -> str | None:
        """The conjunction of ``condition``'s top-level AND conjuncts
        that RESOLVE over the typed partition-values frame alone —
        Delta's conjunct splitting: for ``year = '1997' AND price >
        x``, the year leg prunes the sizing scan metadata-only while
        the mixed predicate still evaluates per row. Sound because a
        row satisfying the conjunction satisfies every conjunct, so
        its partition's key values satisfy each key-only conjunct.
        None when nothing splits out (scan stays unbounded but
        correct)."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        parts = self._split_top_and(condition)
        if len(parts) <= 1:
            return None
        keep = []
        for c in parts:
            try:
                vf.filter(F.expr(c))
                keep.append(c)
            except AnalysisException:
                continue
        if not keep or len(keep) == len(parts):
            # all-resolvable means the caller's metadata path already
            # handled it; nothing-resolvable means nothing to prune
            return None
        return " AND ".join(f"({c})" for c in keep)

    def _hot_partition_dirs(self, spark: SparkSession, condition: str,
                            base: int, vf, segs: dict[str, list[str]],
                            keys: list[str]) -> list[str]:
        """The dirs of the partitions in the typed values frame ``vf``
        that hold rows matching ``condition`` (a predicate over data
        columns), found by one column-pruned scan of those partitions —
        :meth:`replace_where`'s arbitrary-predicate form. The scan
        yields the keys' PARSED values; the semi-join against ``vf``
        recovers their raw path suffixes (never a str() re-render,
        which would miss Hive-escaped segments)."""
        from pyspark.sql import functions as F

        live = [d for r in vf.collect() for d in segs[r["__seg"]]]
        if not live:
            return []
        hot_vals = (self._scan(spark, live, base)
                    .filter(F.expr(condition)).select(*keys).distinct())
        hot = sorted(r["__seg"] for r in
                     vf.join(hot_vals, keys, "left_semi").collect())
        return [d for s in hot for d in segs[s]]

    def _row_candidates(self, spark: SparkSession, condition: str,
                        base: int, prune: tuple | None,
                        partition_prune: str | None
                        ) -> tuple[list[str], list[str] | None, bool]:
        """Step 1 of :meth:`_rewrite_rows`: (candidate dirs, partition
        keys or None, whole). The live dirs narrow by footer stats
        (``prune=(col, lo, hi)``: rows matching the condition satisfy
        lo <= col <= hi), then, on a partitioned layout, by the TYPED
        partition values (:meth:`_typed_partition_values` — ``day > 2``
        on an int key is numeric, escaped segments round-trip):
        ``partition_prune`` keeps its partitions, and a ``condition``
        that resolves over the keys alone matches whole partitions
        metadata-only (``whole``: every row of every candidate matches,
        no job sizes them) — the retention purge on a partition-by-date
        layout. Only an AnalysisException (a data-column reference)
        makes the condition a per-row one: a transient failure
        propagates (ADVICE r12)."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        live = self.snapshot_dirs(base)
        if prune is not None:
            col, lo, hi = prune
            keep = set(self.pruned_dirs(col, lo, hi, base))
            live = [d for d in live if d in keep]
        keys = self._live_partition_cols(live)
        if keys is None:
            return live, None, False
        vf, segs = self._typed_partition_values(spark, live, keys, base)
        if partition_prune is not None:
            vf = vf.filter(F.expr(partition_prune))
        try:
            hot, whole = vf.filter(F.expr(condition)), True
        except AnalysisException:
            hot, whole = vf, False  # the condition reads data columns
        return ([d for s in sorted(r["__seg"] for r in hot.collect())
                 for d in segs[s]], keys, whole)

    def _rewrite_rows(self, spark: SparkSession, condition: str,
                      base: int, meta: dict, capture: bool, changes,
                      rewrite=None, prune: tuple | None = None,
                      partition_prune: str | None = None) -> int:
        """The one row-level rewrite behind :meth:`delete_where`,
        :meth:`update_where` and the DV delete — Delta's copy-on-write
        DELETE/UPDATE on every layout: find the dirs holding matches,
        write the change rows, rewrite those dirs, commit the adds and
        removes once.

        1. Candidates (:meth:`_row_candidates`): stats- and
           partition-pruned live dirs; a key-only condition matches
           whole partitions with no data job.
        2. Scan (:meth:`_scan`, ``tagged``): one explicit-schema scan
           per commit root, rows tagged with ``_src_dir``, column
           mapping and live DVs applied.
        3. Sizing: rows and matches per dir from an Observation riding
           the op's first write, or — above ``_OBS_RIDER_MAX``
           candidates, and on a partitioned layout without capture —
           one column-pruned prepass.
        4. Change capture (``capture``): ``changes(matched rows)``.
        5. Rewrite and commit: dirs without matches stay; ``rewrite``
           projects the rows a matched dir keeps (``meta["operation"]``
           ``delete``: a dir with no kept row drops unrewritten);
           ``rewrite=None`` is the DV delete, which writes positions
           (:meth:`_write_positions`) instead. One commit through
           :meth:`_transact` with :meth:`_rebase_rewrite`.

        Returns the new version, or ``base`` when nothing matched (no
        commit). A nondeterministic condition is refused: sizing,
        capture and the rewrite each evaluate it."""
        import re

        from pyspark.sql import functions as F

        if re.search(self._NONDET_PAT, condition, re.IGNORECASE):
            raise ValueError(
                f"nondeterministic condition {condition!r} in a "
                "row-level op — sizing, change capture and the rewrite "
                "each evaluate it and would disagree; materialize the "
                "random choice into a column first")
        cands, keys, whole = self._row_candidates(
            spark, condition, base, prune, partition_prune)
        if not cands:
            return base
        drop_full = meta["operation"] == "delete"
        if whole and drop_full and not capture:
            # a key-only purge with the feed off is pure metadata
            return self._transact(_Txn([], cands, meta),
                                  self._rebase_rewrite, base)
        tagged = self._scan(spark, cands, base, tagged=True,
                            positions=rewrite is None)
        cond = F.expr(condition)
        per_dir = obs = None
        first = tagged  # what the op's first write scans
        if whole:
            per_dir = dict.fromkeys(cands, (1, 1))
        elif rewrite is not None:
            if len(cands) > self._OBS_RIDER_MAX or (keys and not capture):
                per_dir = self._sizes_prepass(tagged, cond, cands, base)
            else:
                obs, metrics = self._candidate_obs(cands, cond)
                first = tagged.observe(obs, *metrics)
        matched = first if whole else first.filter(cond)
        txn = _Txn([], [], meta)
        if rewrite is None:
            dvs = self._write_positions(spark, matched, cands, base)
            if dvs is None:
                return base  # no new matches: no commit
            txn.kw["dvs"] = dvs
        if capture:
            txn.kw["changes"] = self._write_changes(changes(
                matched.drop("_src_dir", "__dv_file", "__dv_row")))
            if obs is not None:
                per_dir = self._obs_counts(obs, cands)
        if rewrite is not None:
            write = ((lambda df: self._write_data_partitioned(df, keys))
                     if keys else (lambda df: [self._write_data(df)]))
            if per_dir is None:
                # feed off over few plain dirs: the rewrite of EVERY
                # candidate is the one job, sized by the riding
                # Observation
                txn.adds = write(rewrite(first.drop("_src_dir")))
                per_dir = self._obs_counts(obs, cands)
                txn.removes = cands
                if drop_full and all(n == m for n, m in per_dir.values()):
                    self._reclaim(txn)
                    txn.adds = []
            else:
                txn.removes = [d for d in cands if per_dir[d][1]]
                redo = [d for d in txn.removes
                        if not drop_full or per_dir[d][1] < per_dir[d][0]]
                if redo:  # a scan of its own: plans only redo's files
                    txn.adds = write(rewrite(self._scan(spark, redo, base)))
            if not any(m for _, m in per_dir.values()):
                self._reclaim(txn)
                return base  # nothing matched: no commit
        return self._transact(txn, self._rebase_rewrite, base)

    def _write_positions(self, spark: SparkSession, matched,
                         cands: list[str], base: int) -> dict | None:
        """The DV step of :meth:`_rewrite_rows`: write ONE position
        file holding the matched rows' positions plus the carried-
        forward positions of candidate dirs already DV'd (per-dir DVs
        are CUMULATIVE, one live file per dir), and return the commit's
        ``dir -> {"path", "rows"}`` mapping — None, with the file
        dropped, when nothing new matched. No data file is touched."""
        from pyspark.sql import functions as F

        existing = self._dvs_for(cands, base)
        pos = matched.select(F.col("_src_dir").alias("src_dir"),
                             F.col("__dv_file").alias("src_file"),
                             F.col("__dv_row").alias("row_idx"))
        if existing:
            pos = pos.unionByName(self._dv_rows(spark, existing))
        dv_rel = os.path.join(_DV_DIR, uuid.uuid4().hex)
        dv_abs = os.path.join(self.path, dv_rel)
        # repartition, NOT coalesce: coalesce(1) would collapse the
        # whole upstream candidate scan into one task; the exchange
        # carries only the (tiny) position rows
        pos.repartition(1).write.parquet(dv_abs)
        per_dir = {r["src_dir"]: r["n"] for r in
                   spark.read.schema(_DV_SCHEMA).parquet(dv_abs)
                   .groupBy("src_dir").agg(F.count("*").alias("n"))
                   .collect()}  # bounded: <= |candidates| rows
        if sum(per_dir.values()) == sum(r["rows"]
                                        for r in existing.values()):
            self._drop(dv_rel)
            return None
        return {d: {"path": dv_rel, "rows": int(n)}
                for d, n in sorted(per_dir.items())}

    def delete_where(self, spark: SparkSession, condition: str,
                     prune: tuple | None = None,
                     meta: dict | None = None,
                     capture_changes: bool = True,
                     use_dv: bool = False,
                     partition_prune: str | None = None) -> int:
        """Row-level DELETE (Delta's ``DELETE WHERE``): rewrite ONLY the
        data dirs that hold matching rows, atomically, through
        :meth:`_rewrite_rows`. With ``prune=(col, lo, hi)`` the
        candidate set comes from the log's footer stats — on an
        append-only table a time-range purge (the GDPR/retention case)
        rewrites the few commits whose ranges overlap, never the table.
        Dirs without matches keep their files, dirs where every row
        matches drop without a rewrite, and the rest rewrite their kept
        rows: cost is O(matching data), not O(table). A row whose
        condition evaluates NULL is kept. On a partitioned layout
        ``prune`` bounds each subdir, ``partition_prune`` (a
        partition-key predicate) bounds the scan to its partitions, and
        a condition over the partition keys alone drops whole
        partitions metadata-only — with the change feed off, no data
        job at all.

        ``capture_changes=False`` mirrors Delta's default (change data
        feed DISABLED): no delete change frames are written, and over
        at most ``_OBS_RIDER_MAX`` plain candidate dirs the op
        collapses to a SINGLE scan+write job with the sizing
        Observation riding it — at the cost that every candidate dir is
        rewritten (a no-match op is still a no-op). The default keeps
        the feed, which downstream :meth:`read_changes` consumers rely
        on.

        ``use_dv=True`` deletes WITHOUT rewriting any data file
        (Delta's deletion vectors): the commit records per-dir position
        files that every read anti-joins out, so a needle delete from a
        huge dir costs a KB of metadata instead of the dir's rewrite —
        the 100 TB GDPR shape. First DV commit raises the table's
        min_reader protocol (a pre-DV reader would resurrect rows).
        Trade-offs (same as Delta's): stats_minmax degrades to
        None-fallback while DVs are live, and the next
        rewrite/compaction of the dir materializes them."""
        from pyspark.sql import functions as F

        base = self.latest_version()
        if base is None:
            raise ValueError(f"not a txn table (no commits): {self.path}")
        keep = ~F.coalesce(F.expr(condition), F.lit(False))
        return self._rewrite_rows(
            spark, condition, base,
            {**(meta or {}),
             "operation": "delete_dv" if use_dv else "delete",
             "condition": condition},
            capture_changes,
            lambda rows: rows.withColumn("_change_type", F.lit("delete")),
            None if use_dv else (lambda rows: rows.filter(keep)),
            prune, partition_prune)

    def update_where(self, spark: SparkSession, condition: str,
                     set_exprs: dict, prune: tuple | None = None,
                     meta: dict | None = None,
                     capture_changes: bool = True,
                     partition_prune: str | None = None) -> int:
        """Row-level UPDATE (Delta's ``UPDATE ... SET ... WHERE``):
        rewrite ONLY the data dirs that can contain matching rows,
        applying ``set_exprs`` ({column: SQL expression}) to matching
        rows and carrying non-matching rows through unchanged, as one
        atomic commit. ``prune=(col, lo, hi)`` bounds the candidate dirs
        from the log's footer stats, exactly like :meth:`delete_where`;
        without it every live dir is a candidate but dirs with zero
        matches are left in place (no rewrite, no commit entry). Emits
        ``update_preimage``/``update_postimage`` change rows so the
        change feed (:meth:`read_changes`) carries the delta — cost is
        O(matching dirs), not O(table). It runs through
        :meth:`_rewrite_rows`, the core :meth:`delete_where` shares: on
        a partitioned layout ``prune`` composes as a per-subdir
        footer-stats bound, ``partition_prune`` (a partition-key
        predicate) bounds the scan, and a row whose SET moves its
        (generated) partition key lands in its new subdir in the same
        commit. Reference anchor: the employees MERGE path
        (spark/SaveDelta.scala:157-163) covers keyed upserts; this is
        the predicate-addressed complement.

        ``capture_changes=False`` mirrors Delta's default (change data
        feed DISABLED): no pre/postimage frames are written, and over
        at most ``_OBS_RIDER_MAX`` plain candidate dirs the op
        collapses to a SINGLE CASE-rewrite job with the match-probe
        Observation riding it (a no-match op is still a no-op;
        candidates with zero matches are rewritten rather than
        skipped)."""
        from pyspark.sql import functions as F

        base = self.latest_version()
        if base is None:
            raise ValueError(f"not a txn table (no commits): {self.path}")
        bad = set(set_exprs) - set(self.table_schema(base).names)
        if bad:
            raise ValueError(f"SET on unknown columns: {sorted(bad)}")
        # generated/identity interaction: SET of an engine-generated
        # column is rejected outright (strict ALWAYS); a generated
        # column READING a SET column is RECOMPUTED (r12, closing the
        # r11 refusal): its generation expression is rewritten post-SET
        # — every referenced SET column substituted with that column's
        # SET expression (all SET RHS read the pre-image, so the
        # substituted expression evaluates the generation over exactly
        # the post-image values) — and joins set_exprs, riding the same
        # CASE projection into the change and rewrite frames below.
        gcfg = self.generation_config()
        gens = gcfg.get("generated", {})
        ident = (gcfg.get("identity") or {}).get("col")
        if gens or ident:
            import re

            for c in set_exprs:
                if c in gens or (ident
                                 and c.lower() == ident.lower()):
                    raise ValueError(
                        f"update_where: column {c!r} is engine-"
                        "generated (GENERATED ALWAYS) — it cannot be "
                        "SET")
            if gens:
                # three token kinds are scanned around: both string-
                # literal quote styles (Spark's non-ANSI mode treats
                # "..." as a string literal too, with backslash and
                # doubled-quote escapes) SKIP — a column name inside
                # '...' is text, not a reference (the r11 staleness
                # REGEX tolerated that false positive because it only
                # refused; a rewriter cannot) — and `...` backquoted
                # IDENTIFIERS (ADVICE r12) substitute as whole tokens:
                # rewriting inside the backticks would render an
                # invalid identifier like `(col*2)`.
                lit_pat = re.compile(
                    r"'(?:[^'\\]|\\.|'')*'"
                    r'|"(?:[^"\\]|\\.|"")*"'
                    r"|`(?:[^`]|``)*`")

                def _subst(text: str, lut: dict) -> tuple[str, int]:
                    # SIMULTANEOUS substitution: a SET expression's own
                    # column references mean the pre-image and are
                    # never re-substituted.
                    names = sorted(lut, key=len, reverse=True)
                    pat_all = re.compile(
                        r"\b(" + "|".join(re.escape(c) for c in names)
                        + r")\b", re.IGNORECASE)
                    out, pos, n = [], 0, 0
                    for m in lit_pat.finditer(text):
                        seg, c = pat_all.subn(
                            lambda mm: lut[mm.group(1).lower()],
                            text[pos:m.start()])
                        n += c
                        out.append(seg)
                        tok = m.group(0)
                        if tok.startswith("`"):
                            name = tok[1:-1].replace("``", "`").lower()
                            if name in lut:
                                out.append(lut[name])
                                n += 1
                            else:
                                out.append(tok)
                        else:
                            out.append(tok)
                        pos = m.end()
                    seg, c = pat_all.subn(
                        lambda mm: lut[mm.group(1).lower()], text[pos:])
                    n += c
                    out.append(seg)
                    return "".join(out), n

                # TRANSITIVE recompute (ADVICE r12): a generated g1
                # reading generated g2 which reads a SET column must
                # recompute too. Generation is acyclic in DECLARATION
                # order (_apply_generated computes columns in dict
                # order, so a gen can only read gens declared before
                # it) — one pass in that order, folding each dirty
                # gen's substituted expression into the LUT, reaches
                # the fixed point.
                lut = {c.lower(): f"({set_exprs[c]})" for c in set_exprs}
                recompute = {}
                for g, e in gens.items():
                    new_e, n = _subst(e, lut)
                    if n:
                        recompute[g] = new_e
                        lut[g.lower()] = f"({new_e})"
                set_exprs = {**set_exprs, **recompute}
        cond = F.expr(condition)

        def post(rows, c: str):  # the SET value of c, at c's type
            return F.expr(set_exprs[c]).cast(rows.schema[c].dataType)

        def changes(rows):
            # postimages come from the MATCHED rows, not a re-filter of
            # the rewrite: a SET that touches a condition column
            # (mark-as-seen) no longer selects the updated rows; both
            # images explode from ONE array, so one scan writes them
            postimage = [post(rows, c).alias(c) if c in set_exprs
                         else F.col(c) for c in rows.columns]
            images = [F.struct(*cols, F.lit(kind).alias("_change_type"))
                      for cols, kind in ((rows.columns, "update_preimage"),
                                         (postimage, "update_postimage"))]
            return (rows.select(F.explode(F.array(*images)).alias("_c"))
                    .select("_c.*"))

        def rewrite(rows):
            return rows.select(*[
                F.when(cond, post(rows, c)).otherwise(F.col(c)).alias(c)
                if c in set_exprs else F.col(c) for c in rows.columns])

        return self._rewrite_rows(
            spark, condition, base,
            {**(meta or {}), "operation": "update",
             "condition": condition, "set": sorted(set_exprs)},
            capture_changes, changes, rewrite, prune, partition_prune)

    # -- maintenance ------------------------------------------------------

    def compact(self, spark: SparkSession, target_files: int = 1,
                meta: dict | None = None) -> int:
        """OPTIMIZE / bin-packing compaction: rewrite the live snapshot's
        many small data dirs (a streaming-merge table accretes one per
        micro-batch) into ``target_files`` output files in one dir, as a
        normal commit — readers flip atomically, time travel to the
        pre-compaction layout still works, and the data is byte-identical
        (the commit is metadata+layout only). The small-files problem is
        the #1 operational cost of log-structured tables at scale; on a
        real deployment this runs on a schedule, keyed off
        ``len(snapshot_dirs())``. The change feed (:meth:`read_changes`)
        skips a compaction commit as layout-only, so change-feed sinks
        keep streaming across maintenance."""
        base = self.latest_version()
        if base is None:
            raise ValueError(f"nothing to compact: {self.path}")
        live = self.snapshot_dirs(base)
        part_keys = (self._live_partition_cols(live)
                     or self._part_keys() or None)
        df = self.read(spark, base).coalesce(target_files)
        adds = (self._write_data_partitioned(df, part_keys)
                if part_keys else [self._write_data(df)])
        return self._transact(
            _Txn(adds, live, {**(meta or {}), "operation": "compact"}),
            base=base)

    def compact_zorder(self, spark: SparkSession, cluster_by: list[str],
                       target_dirs: int = 8, bits: int = 6,
                       meta: dict | None = None) -> int:
        """OPTIMIZE ZORDER BY (multi-column): rewrite the live snapshot
        into ``target_dirs`` dirs ordered by a Z-value — the bit
        interleave of each cluster column's quantile-rank code — so
        EVERY listed column's per-dir min/max range is tight enough to
        prune. One column is linear range clustering (its code IS its
        quantile rank): perfect pruning on that column. Several trade a
        little per-column tightness for pruning on all of them (a point
        probe on any one column hits ~sqrt-fraction of dirs instead of
        all). Quantile-rank codes (``bits`` per column, from ONE
        multi-column approxQuantile pass) make the interleave
        skew-robust — equal-population cells, not equal-width. This is
        Delta's OPTIMIZE ZORDER BY mechanism; reference context:
        read_delta.py's full-scan maintenance rewrites are the
        single-dimension ancestor."""
        from pyspark.sql import functions as F

        base = self.latest_version()
        if base is None:
            raise ValueError(f"nothing to compact: {self.path}")
        live = self.snapshot_dirs(base)
        part_keys = (self._live_partition_cols(live)
                     or self._part_keys() or None)
        if part_keys is not None:
            # ZORDER WITHIN the partition layout (Delta's OPTIMIZE
            # ZORDER on a partitioned table): the partition keys are
            # constant per subdir — they prune via the layout already,
            # so they drop out of the cluster set and each z-bucket
            # writes nested col=value subdirs
            cluster_by = [c for c in cluster_by if c not in part_keys]
            if not cluster_by:
                raise ValueError(
                    "compact_zorder: every cluster column equals a "
                    "partition key — the layout already prunes them; "
                    "cluster by data columns")
        adds = self._zorder_rewrite(
            spark, self.read(spark, base), cluster_by, target_dirs,
            bits, part_cols=part_keys)
        return self._transact(
            _Txn(adds, live, {**(meta or {}), "operation": "compact",
                              "zorder_by": list(cluster_by)}),
            base=base)

    def _zorder_rewrite(self, spark: SparkSession, df: DataFrame,
                        cluster_by: list[str], target_dirs: int,
                        bits: int,
                        part_cols: list[str] | None = None
                        ) -> list[str]:
        """Z-order ``df`` into ``target_dirs`` new commit dirs; returns
        their rel paths (caller commits). With ``part_cols`` (r12,
        Delta's OPTIMIZE ZORDER on a partitioned table; r13 nested
        multi-key) each z-bucket writes ``col=value`` SUBDIRS — the
        adds are per-(z-bucket x partition), so both the partition
        keys' metadata pruning and the cluster columns' tight per-dir
        stats apply to every read."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            DateType,
            NumericType,
            StringType,
            TimestampType,
        )

        orderable = (NumericType, StringType, DateType, TimestampType)
        bad = [c for c in cluster_by
               if not isinstance(df.schema[c].dataType, orderable)]
        if bad:
            raise ValueError(
                f"zorder columns must be numeric, string, date or "
                f"timestamp (quantile-rank codes need an ordered "
                f"domain): {bad} — equality probes on unordered "
                "columns are the bloom index's job "
                "(enable_bloom/read_point)")

        n_cells = 1 << bits
        probs = [i / n_cells for i in range(1, n_cells)]
        num_cols = [c for c in cluster_by
                    if isinstance(df.schema[c].dataType, NumericType)]
        num_bounds = dict(zip(
            num_cols, df.approxQuantile(num_cols, probs, 0.001)
        )) if num_cols else {}

        def _sampled_bounds(col: str) -> list:
            # approxQuantile is numeric-only; strings/dates take their
            # cell boundaries from a bounded DETERMINISTIC row sample
            # (TakeOrdered on a row hash — frequency-weighted, so cells
            # stay equal-population under value skew; same bounded-
            # sample discipline as IVF centroid training)
            rows = (df.select(F.col(col).alias("v"),
                              F.xxhash64(*df.columns).alias("h"))
                    .where(F.col(col).isNotNull())
                    .orderBy("h").limit(4096).collect())
            vals = sorted(r["v"] for r in rows)
            if not vals:
                return []
            return [vals[min(len(vals) - 1, (len(vals) * i) // n_cells)]
                    for i in range(1, n_cells)]

        all_bounds = [num_bounds[c] if c in num_bounds
                      else _sampled_bounds(c) for c in cluster_by]
        zexpr = F.lit(0).cast("long")
        for ci, (col, bounds) in enumerate(zip(cluster_by, all_bounds)):
            bounds = sorted(set(bounds))
            blit = F.array(*[F.lit(b) for b in bounds])
            code = F.size(F.filter(blit, lambda b: F.col(col) > b))
            # interleave: bit i of column ci lands at position
            # i*n_cols + ci in the Z-value
            for i in range(bits):
                zexpr = zexpr + F.shiftleft(
                    F.shiftright(code, i).bitwiseAND(F.lit(1)),
                    i * len(cluster_by) + ci).cast("long")
        # repartitionByRange samples _z for its boundaries (no second
        # full quantile pass over the z-expression); the resulting
        # partition id IS the output bucket
        staged = (df.withColumn("_z", zexpr)
                  .repartitionByRange(target_dirs, "_z")
                  .withColumn("_bucket", F.spark_partition_id())
                  .sortWithinPartitions("_z")
                  .drop("_z"))
        # mapped tables store physical names (this writer bypasses
        # _write_data's chokepoint; _bucket/_z are not data columns)
        staged = self._to_physical(staged)
        tmp_rel = os.path.join(_DATA_DIR, f".zorder-{uuid.uuid4().hex}")
        tmp_abs = os.path.join(self.path, tmp_rel)
        pcols = ["_bucket"] + (list(part_cols) if part_cols else [])
        staged.write.partitionBy(*pcols).parquet(tmp_abs)
        adds = []
        for d in sorted(os.listdir(tmp_abs)):
            if not d.startswith("_bucket="):
                continue
            rel = os.path.join(_DATA_DIR, uuid.uuid4().hex)
            os.rename(os.path.join(tmp_abs, d), os.path.join(self.path, rel))
            if part_cols:
                # collect the nested LEAF subdirs (depth = #keys)
                stack = [(rel, 0)]
                while stack:
                    r, depth = stack.pop()
                    for s in sorted(os.listdir(
                            os.path.join(self.path, r))):
                        if "=" not in s:
                            continue
                        sub = os.path.join(r, s)
                        if depth + 1 == len(part_cols):
                            adds.append(sub)
                        else:
                            stack.append((sub, depth + 1))
            else:
                adds.append(rel)
        import shutil
        shutil.rmtree(tmp_abs, ignore_errors=True)
        self._pend_leaves(adds, staged.drop("_bucket").schema,
                          list(part_cols or []))
        return adds

    def compact_zorder_incremental(self, spark: SparkSession,
                                   cluster_by: list[str],
                                   target_dirs: int = 4, bits: int = 6,
                                   meta: dict | None = None) -> int | None:
        """Incremental OPTIMIZE ZORDER: cluster ONLY the dirs appended
        since the last clustering commit into a fresh Z-generation,
        leaving earlier generations untouched — at 100 TB a full-table
        rewrite never happens; maintenance clusters the streaming tail
        on a schedule. Stats pruning composes across generations (it is
        per-dir min/max: each generation's dirs stay tight for the
        cluster columns; only the unclustered tail between runs is
        loose). Returns the new version, or None when there is no
        unclustered tail. Boundaries are computed from the tail alone —
        per-generation quantiles, which is exactly what keeps the pass
        O(tail), not O(table)."""
        base = self.latest_version()
        if base is None:
            raise ValueError(f"nothing to compact: {self.path}")
        last_cluster = -1
        add_version: dict[str, int] = {}
        for v in self.versions():
            if v > base:
                break
            doc = self._doc(v)
            for d in doc["adds"]:
                add_version[d] = v
            op_meta = doc.get("meta", {})
            # cluster_by: the one-column clustering commits of older logs
            if "zorder_by" in op_meta or "cluster_by" in op_meta:
                last_cluster = v
        tail = [d for d in self.snapshot_dirs(base)
                if add_version.get(d, -1) > last_cluster]
        if not tail:
            return None
        df = self._scan(spark, tail, base)
        part_keys = (self._live_partition_cols(tail)
                     or self._part_keys() or None)
        if part_keys is not None:
            cluster_by = [c for c in cluster_by if c not in part_keys]
            if not cluster_by:
                raise ValueError(
                    "compact_zorder_incremental: every cluster column "
                    "equals a partition key — cluster by data columns")
        adds = self._zorder_rewrite(spark, df, cluster_by, target_dirs,
                                    bits, part_cols=part_keys)
        return self._transact(
            _Txn(adds, tail, {**(meta or {}), "operation": "compact",
                              "zorder_by": list(cluster_by),
                              "incremental": True}),
            base=base)

    def compact_if_needed(self, spark: SparkSession,
                          max_live_dirs: int = 32,
                          target_files: int = 1) -> int | None:
        """Scheduled-maintenance hook: compact only when the live snapshot
        has accreted more than ``max_live_dirs`` data dirs (a streaming
        sink adds one per micro-batch). Returns the new version, or None
        when no compaction was needed — the keyed-off-len(snapshot_dirs())
        policy the compact() docstring describes, as code. Downstream
        change-feed streams should read with skipChangeCommits=true."""
        if len(self.snapshot_dirs()) <= max_live_dirs:
            return None
        return self.compact(spark, target_files=target_files)

    def compact_partitions_if_needed(self, spark: SparkSession,
                                     max_dirs_per_value: int = 8,
                                     meta: dict | None = None,
                                     files_per_value: int = 1
                                     ) -> int | None:
        """Partition-granular OPTIMIZE (r12, Delta's ``OPTIMIZE ...
        WHERE <partition>``), the maintenance policy for the maintained
        index artifacts: a CDF-fed partitioned sink (the streaming ANN
        inverted lists, partition-replace chunk buckets) accretes one
        ``col=value`` subdir per touched value per micro-batch, so a
        hot list fragments across many small dirs while cold lists stay
        single-dir. This rewrites ONLY the values whose live subdir
        count exceeds ``max_dirs_per_value`` — each into one file — as
        one atomic commit; cold partitions keep their files, cost is
        O(hot partitions), never O(index). Reads through the rewrite
        are row-identical (the DV-masked snapshot is what's rewritten,
        so accumulated deletion vectors on the hot values materialize
        away as a side effect, same as the delete paths' rewrite leg).
        The commit carries ``operation: compact``, so change-feed
        consumers skip it as layout-only. Returns the commit version,
        or None when no value is fragmented past the threshold."""
        from collections import Counter

        base = self.latest_version()
        if base is None:
            return None
        live = self.snapshot_dirs(base)
        cols = self._live_partition_cols(live)
        if cols is None:
            if not live and self._part_keys():
                return None  # fully-purged declared table: no-op
            raise ValueError(
                "compact_partitions_if_needed on an unpartitioned "
                f"table: {self.path} — use compact_if_needed")
        segs: dict[str, list[str]] = {}
        for d in live:
            if _partition_segs(d):
                segs.setdefault(_partition_suffix(d), []).append(d)
        per_val = Counter({s: len(ds) for s, ds in segs.items()})
        hot = sorted(s for s, c in per_val.items()
                     if c > max_dirs_per_value)
        if not hot:
            return None
        removes = [d for s in hot for d in segs[s]]
        df = self._scan(spark, removes, base)
        if files_per_value <= 1:
            # one task per hot value -> one output file per rewritten
            # dir (the tidiest layout — but write parallelism is capped
            # at len(hot), which serializes a big hot value)
            df = df.repartition(len(hot), *cols)
        else:
            # bin-pack like Delta's OPTIMIZE: ``files_per_value`` files
            # per rewritten value, one exchange task per (value, slice)
            # — rewrite parallelism scales with hot_data/target_file_
            # size instead of len(hot), which is what keeps a single
            # hot date partition's compaction wide at 100 TB
            from pyspark.sql import functions as F

            slice_col = F.pmod(F.hash(*df.columns),
                               F.lit(files_per_value))
            df = (df.withColumn("_slice", slice_col)
                  .repartition(len(hot) * files_per_value,
                               *cols, "_slice")
                  .drop("_slice"))
        adds = self._write_data_partitioned(df, cols)
        return self._transact(
            _Txn(adds, removes, {**(meta or {}), "operation": "compact",
                                 "compact_scope": "partitions",
                                 "compacted_values": len(hot)}),
            base=base)

    def restore(self, version: int, meta: dict | None = None) -> int:
        """RESTORE TABLE TO VERSION (Delta's RESTORE): publish a NEW
        commit whose live set — and recorded schema — equal the snapshot
        at ``version``. Pure metadata: no data is copied or rewritten,
        the restore itself is time-travelable (the pre-restore state
        remains one version back), and a botched restore is undone by
        restoring again. Fails with a clear error when the target's data
        dirs were vacuumed away (``vacuum(keep_versions=False)``
        disables time travel, and therefore restore, to those
        versions)."""
        base = self.latest_version()
        if base is None:
            raise ValueError(f"not a txn table (no commits): {self.path}")
        if version > base:
            raise ValueError(
                f"cannot restore to v{version}: latest is v{base}")
        target = self.snapshot_dirs(version)
        missing = [d for d in target
                   if not os.path.isdir(os.path.join(self.path, d))]
        if missing:
            raise ValueError(
                f"cannot restore to v{version}: {len(missing)} data "
                f"dir(s) were vacuumed (e.g. {missing[0]}) — "
                "keep_versions=False vacuum disables restore to "
                "superseded versions")
        target_dvs = self.snapshot_dvs(version)
        missing_dv = [ref["path"] for ref in target_dvs.values()
                      if not os.path.isdir(
                          os.path.join(self.path, ref["path"]))]
        if missing_dv:
            raise ValueError(
                f"cannot restore to v{version}: deletion-vector file(s) "
                f"were vacuumed (e.g. {missing_dv[0]})")
        current = self.snapshot_dirs(base)
        adds = [d for d in target if d not in set(current)]
        removes = [d for d in current if d not in set(target)]
        # DV mapping delta: after this commit the replay state for a
        # surviving dir is its CURRENT entry unless overridden — emit an
        # explicit entry (null = clear) wherever target and current
        # disagree, so restore round-trips DV state exactly
        cur_dvs = self.snapshot_dvs(base)
        dv_delta = {}
        for d in target:
            want = target_dvs.get(d)
            have = cur_dvs.get(d) if d in set(current) else None
            if want != have:
                dv_delta[d] = want  # may be None -> clears the mapping
        if (not adds and not removes and not dv_delta
                and self.table_schema(version) == self.table_schema(base)
                and self.column_mapping(version)
                == self.column_mapping(base)):
            return base  # already at the target state: no empty commit
        # pin the target version's column mapping too (a restore across
        # a rename/drop boundary must bring back that era's logical
        # view); physical_used stays CUMULATIVE — names assigned after
        # the target must never be reused even once restored away
        return self.commit(adds, removes,
                           {**(meta or {}), "operation": "restore",
                            "restore_version": version},
                           expected_version=base,
                           schema=self.table_schema(version),
                           dvs=dv_delta or None,
                           column_mapping=self.column_mapping(version),
                           physical_used=self._physical_used(base)
                           or None)

    def generate_symlink_manifest(self, version: int | None = None) -> str:
        """Delta's ``GENERATE symlink_format_manifest`` for external
        engines: write ``_symlink_format_manifest/manifest`` listing the
        absolute path of every parquet file in the snapshot, so
        Trino/Presto/Athena — the reference's interactive SQL layer
        (SURVEY §3.3, Trino over the ``final`` table) — can query the
        txn table as an external parquet table without understanding the
        commit log. Published atomically (tmp + rename); regenerating
        after each commit is the caller's schedule, exactly as with
        Delta's manifests (stale manifest = stale-but-consistent
        snapshot, never a torn one). Partitioned layouts list every
        partition subdir's files; the partition column is re-derived
        from the path by the external engine, as usual for hive layout.
        Returns the manifest path."""
        import glob as _glob

        files = []
        for d in self.snapshot_dirs(version):
            files.extend(sorted(_glob.glob(
                os.path.join(self.path, d, "*.parquet"))))
        man_dir = os.path.join(self.path, "_symlink_format_manifest")
        os.makedirs(man_dir, exist_ok=True)
        tmp = os.path.join(man_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write("\n".join(os.path.abspath(f) for f in files) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(man_dir, "manifest")
        os.replace(tmp, final)
        return final

    def vacuum(self, keep_versions: bool = True,
               older_than_seconds: float = 3600.0,
               retain_from_version: int | None = None) -> list[str]:
        """Delete orphan data dirs — written but never referenced by any
        commit (a crashed writer's leftovers). With ``keep_versions=False``
        also drops dirs referenced only by superseded versions (disables
        time travel to them). Never touches the current snapshot.

        ``older_than_seconds`` is the retention window (Delta's VACUUM
        retention, ADVICE r3): a dir younger than the window is skipped,
        because an IN-FLIGHT writer that has written its data but not yet
        published its log doc is indistinguishable from a crashed one —
        deleting its dir would let its later commit publish a snapshot
        referencing missing files. Keep the window longer than any
        plausible write+commit duration; pass ``0`` only when no writer
        can be concurrent (e.g. tests, single-writer maintenance).

        ``retain_from_version`` (with ``keep_versions=False``) is the
        time-travel retention FLOOR: every snapshot at or after it stays
        readable. The r10 serve-pinning discipline reads a paired data
        table AT the version its state/histogram recorded (streaming
        quantiles/sketches/HLL/BM25), and that pin can lag the latest
        version across a compaction — a full vacuum between the
        compaction and the state's next fold would strand the pinned
        serve on deleted files. Pass the state's recorded source version
        (e.g. hist's ``q_source_version``) to keep serving consistent
        through maintenance."""
        import shutil
        import time

        referenced: set[str] = set()
        if keep_versions:
            for doc in self.history():
                referenced.update(doc["adds"])
        else:
            referenced.update(self.snapshot_dirs())
            if retain_from_version is not None:
                for v in self.versions():
                    if v >= retain_from_version:
                        referenced.update(self.snapshot_dirs(v))
        data_root = os.path.join(self.path, _DATA_DIR)
        cutoff = time.time() - older_than_seconds
        victims = []
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                rel = os.path.join(_DATA_DIR, d)
                # partition-granular commits reference SUBDIRS of a commit
                # dir — the commit dir is live if any subdir is
                if rel in referenced or any(
                        r.startswith(rel + os.sep) for r in referenced):
                    continue
                try:
                    if os.path.getmtime(os.path.join(self.path, rel)) > cutoff:
                        continue  # possibly an in-flight writer's dir
                except OSError:
                    continue  # raced with its deletion/creation: skip
                victims.append(rel)
                shutil.rmtree(os.path.join(self.path, rel))
        # change-file sweep: a crashed merge/delete may have written its
        # CDF dir without publishing the commit. Only UNREFERENCED change
        # dirs are reclaimable — referenced ones stay regardless of
        # keep_versions, because read_changes serves arbitrarily-old
        # consumers (Delta keeps _change_data for the retention period of
        # the commits themselves).
        cdc_referenced = {doc["changes"] for doc in self.history()
                          if doc.get("changes")}
        changes_root = os.path.join(self.path, _CHANGES_DIR)
        if os.path.isdir(changes_root):
            for d in os.listdir(changes_root):
                rel = os.path.join(_CHANGES_DIR, d)
                if rel in cdc_referenced:
                    continue
                try:
                    if os.path.getmtime(os.path.join(self.path, rel)) > cutoff:
                        continue
                except OSError:
                    continue
                victims.append(rel)
                shutil.rmtree(os.path.join(self.path, rel))
        # deletion-vector sweep, same retention semantics as data dirs:
        # with keep_versions every historically-referenced DV file stays
        # (time travel / restore may need it); without, only the live
        # snapshot's DV files survive
        dv_referenced: set[str] = set()
        if keep_versions:
            for doc in self.history():
                for ref in (doc.get("dvs") or {}).values():
                    if ref is not None:
                        dv_referenced.add(ref["path"])
        else:
            dv_referenced = {ref["path"]
                             for ref in self.snapshot_dvs().values()}
        dv_root = os.path.join(self.path, _DV_DIR)
        if os.path.isdir(dv_root):
            for d in os.listdir(dv_root):
                rel = os.path.join(_DV_DIR, d)
                if rel in dv_referenced:
                    continue
                try:
                    if os.path.getmtime(os.path.join(self.path, rel)) > cutoff:
                        continue
                except OSError:
                    continue
                victims.append(rel)
                shutil.rmtree(os.path.join(self.path, rel))
        return sorted(victims)


def _stream_meta(batch_id: int, app_id: str | None, operation: str) -> dict:
    """Commit meta of one exactly-once stream leg: the
    ``(stream_app_id, stream_batch_id)`` key of the table's ledger,
    which ``TxnTable.commit`` and ``append`` check."""
    meta = {"stream_batch_id": batch_id, "operation": operation}
    if app_id is not None:
        meta["stream_app_id"] = app_id
    return meta


def _guarded_commit(table: TxnTable, batch_id: int, app_id: str | None,
                    attempt) -> None:
    """Run one exactly-once stream leg that does not append — a merge,
    overwrite, fold or bucket replace: ``attempt()`` writes and commits
    to ``table`` under ``_stream_meta(batch_id, app_id, ...)``. Append
    legs call ``table.append`` instead, which re-publishes the same
    files on a lost race rather than re-running the write. A batch
    the ledger already covers skips the leg before any work; a replica
    that commits the batch first surfaces as the commit's
    :class:`TxnReplayError`, which ends the leg. A lost version race is
    a REDO round of :meth:`TxnTable._transact`: the leg's op has
    reclaimed its files, and ``attempt()`` runs again on the winner's
    snapshot. A committed leg then runs the log's checkpoint
    maintenance."""
    if table._replays(_stream_meta(batch_id, app_id, "")):
        return
    try:
        table._transact(lambda base: attempt(), _redo)
    except TxnReplayError:
        return
    table.checkpoint_if_needed()


def agg_delta_from_changes(changes: DataFrame, group_cols: list[str],
                           value_col: str) -> DataFrame:
    """Incremental view maintenance over the change feed: turn a CDF
    frame into per-group (d_count, d_sum) deltas — inserts and update
    post-images add, deletes and update pre-images subtract (this is why
    the feed carries preimages). A downstream count/sum/avg materialized
    view applies the delta to its stored partials instead of recomputing
    from the snapshot: the combine is associative, so maintenance cost is
    O(changed rows) at any table size."""
    from pyspark.sql import functions as F

    sign = F.when(F.col("_change_type").isin("insert", "update_postimage"),
                  F.lit(1)).otherwise(F.lit(-1))
    return (changes
            .groupBy(*group_cols)
            .agg(F.sum(sign).alias("d_count"),
                 F.sum(sign * F.col(value_col)).alias("d_sum")))
