"""``_delta_log`` interoperability (r13; r14 distributed replay): the
txn format (:mod:`.txnlog`) is a semantics stand-in for the reference's
Delta sink (``SaveDelta.scala:157-163``, ``read_delta.py:219-222``);
this module makes the boundary REAL in both directions without
requiring delta jars:

- :func:`export_delta_log` writes a Delta-protocol transaction log —
  version-faithful ``_delta_log/<v>.json`` commits of newline-delimited
  ``protocol`` / ``metaData`` / ``add`` / ``remove`` actions per the
  PUBLIC Delta transaction-log protocol (delta.io PROTOCOL.md) — inside
  an existing txn table, so a real Delta reader (delta-spark, DuckDB's
  delta extension, delta-rs) can open the directory as a Delta table,
  time travel included. Data files are untouched: txn commits are
  immutable parquet, exactly what Delta's ``add`` actions reference.
  Action paths are RFC-percent-encoded on write (the spec's encoding;
  a Hive-escaped on-disk ``%3A`` segment writes as ``%253A`` so every
  reader's decode recovers the on-disk name). Column-mapped (name
  mode) tables export with ``delta.columnMapping`` field metadata and
  a mid-log protocol upgrade, the way real writers record an upgrade.
- :func:`read_delta_dir` is a pure-Spark Delta READER: snapshot state
  reconstructs DISTRIBUTED — the newest complete parquet checkpoint
  (single- OR multi-part) is read as a DataFrame and the JSON tail's
  adds/removes apply as a broadcast anti-join + union, so driver
  memory and work scale with the TAIL, never the table (the
  2,880-commits/day streaming-table shape: checkpoint hourly and the
  replay cost is a bounded tail walk). The scan is MANIFEST-FED:
  live files group to their parent directories (bounded by partition
  count, not file count), partition columns re-attach from
  ``partitionValues`` via ONE file→values join on
  ``_metadata.file_path``, and with ``verify=True`` (default) a
  driver-side listing proves every logged file exists on disk before
  the scan — a path-encoding drift or vacuumed data file fails loudly
  instead of silently dropping rows (the join itself carries an
  in-plan ``raise_error`` guard for the same reason).

Scope notes:
- Deletion vectors interop NATIVELY (r14 session 3, via
  :mod:`.dvcodec` — the public RoaringFormatSpec + PROTOCOL.md DV
  framing): the reader decodes ``i``/``u``/``p`` descriptors
  executor-side and anti-joins the masked (file, row_index) pairs out
  of the scan; the exporter emits the engine's own live and historical
  DVs as inline descriptors (``inline_dvs=True``) with the protocol
  v3/v7 feature upgrade, or materializes them (``materialize_dvs=
  True``) for consumers on pre-DV reader versions.
- Ingest handles BOTH column-mapping modes: ``name`` renames physical
  parquet columns back to logical ones from the schema's field
  metadata; ``id`` resolves by parquet field id through Spark's
  native ``spark.sql.parquet.fieldId.read.enabled`` scan path.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid as _uuid
from urllib.parse import quote as _urlquote
from urllib.parse import unquote as _urlunquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dvcodec import encode_inline
from .txnlog import (
    TxnTable,
    _partition_segs,
    _unescape_partition,
)

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: columns every replayed add action carries through reconstruction:
#: ``path`` is the DECODED table-relative path (the join/anti-join
#: key), ``path_enc`` the log's original encoded string (what a
#: checkpoint must re-emit verbatim so foreign readers agree);
#: ``stats`` is the per-file Delta stats JSON (file skipping); ``dv``
#: the add's deletionVector descriptor as JSON (null for most files —
#: decoded and applied as a row_index anti-join at scan time).
_ADDS_DDL = ("path string, path_enc string, "
             "partitionValues map<string,string>, size bigint, "
             "modificationTime bigint, dataChange boolean, "
             "stats string, dv string")

#: the deletionVector descriptor struct as it appears in checkpoint
#: add actions (PROTOCOL.md, Deletion Vector Descriptor Schema)
_DV_DDL = ("struct<storageType:string,pathOrInlineDv:string,"
           "offset:int,sizeInBytes:int,cardinality:bigint>")


def _quote_path(rel: str) -> str:
    """RFC-percent-encode a table-relative path for an action (the
    Delta spec's path encoding — ADVICE r13: writing the Hive-escaped
    on-disk name raw would make every reader's decode resolve a
    nonexistent path whenever a partition value contains ``%``/``:``
    etc.)."""
    return _urlquote(rel.replace(os.sep, "/"), safe="/")


#: string stats longer than this are dropped rather than truncated: a
#: truncated MAX is an invalid upper bound unless padded with the
#: spec's 0xFF tie-breaking suffix, so short-and-exact beats long-and-
#:  subtly-wrong
_STATS_MAX_STR = 64


def _file_stats(abs_path: str) -> str | None:
    """Delta per-file ``stats`` JSON (numRecords / minValues /
    maxValues / nullCount) from the parquet FOOTER's row-group
    statistics — metadata-only, no data read, the same numbers real
    writers record at write time. Exact for integral/floating/boolean
    columns and short strings; columns without footer stats (or with
    long strings) are simply omitted — absent stats mean "cannot
    skip", never a wrong bound. Returns None when the footer is
    unreadable (stats are an optimization, not a correctness
    input)."""
    try:
        import pyarrow.parquet as _pq

        md = _pq.ParquetFile(abs_path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for ci in range(md.num_columns):
        col0 = md.row_group(0).column(ci) if md.num_row_groups else None
        if col0 is None or "." in col0.path_in_schema:
            continue  # nested columns: skip
        name = col0.path_in_schema
        lo = hi = None
        nn = 0
        ok = True
        for ri in range(md.num_row_groups):
            st = md.row_group(ri).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    ok = False
                    break
            if not isinstance(mn, (int, float, str, bool)):
                ok = False  # dates/timestamps/decimals: out of scope
                break
            if isinstance(mn, str) and (len(mn) > _STATS_MAX_STR
                                        or len(mx) > _STATS_MAX_STR):
                ok = False
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
            nn += st.null_count if st.has_null_count else 0
        if ok and lo is not None:
            mins[name] = lo
            maxs[name] = hi
            nulls[name] = nn
    return json.dumps({"numRecords": md.num_rows, "minValues": mins,
                       "maxValues": maxs, "nullCount": nulls})


def _decode_path_col(col):
    """JVM-side RFC percent-decode of a path column. ``url_decode``
    implements form-decoding ('+' → space), so literal '+' is
    protected first; malformed escapes in a nonconformant foreign log
    fall back to the raw string via ``try_url_decode`` instead of
    failing the scan."""
    protected = F.replace(col, F.lit("+"), F.lit("%2B"))
    return F.coalesce(F.try_url_decode(protected), col)


def _dv_positions_frame(spark: SparkSession, adds: DataFrame,
                        root: str) -> DataFrame:
    """(``__fp`` absolute decoded path, ``__ri`` row index) of every
    row masked by a deletion vector in the manifest — the anti-join
    side of the scan. Descriptors decode EXECUTOR-side through one
    Arrow ``mapInPandas`` over the (small) DV-bearing slice of the
    adds frame: inline payloads are already in the action, ``u``/``p``
    sidecars are read and checksum-verified where the task runs, so
    decode cost scales with executors and the driver never
    materializes a position list."""
    from .dvcodec import decode_descriptor

    def _decode(batches):
        import pandas as pd
        for pdf in batches:
            paths: list[str] = []
            idxs: list[int] = []
            for p, dvj in zip(pdf["path"], pdf["dv"]):
                for ri in decode_descriptor(root, json.loads(dvj)):
                    paths.append(root + "/" + p)
                    idxs.append(ri)
            yield pd.DataFrame({"__fp": paths, "__ri": idxs})

    return (adds.filter(F.col("dv").isNotNull())
            .select("path", "dv")
            .mapInPandas(_decode, "__fp string, __ri bigint"))


def _files_of(table: TxnTable, rel_dir: str) -> list[str]:
    """Table-relative parquet files under one commit (sub)dir."""
    out = []
    absd = os.path.join(table.path, rel_dir)
    for root, _, files in os.walk(absd):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(root, f),
                                           table.path))
    return sorted(out)


def _gen_field_metadata(cfg: dict, name: str) -> dict:
    """Delta field metadata for generated/identity columns — the
    PUBLIC keys real writers use (PROTOCOL.md: Generated Columns /
    Identity Columns)."""
    md: dict = {}
    gens = cfg.get("generated", {})
    if name in gens:
        md["delta.generationExpression"] = gens[name]
    ident = cfg.get("identity")
    if ident and ident["col"] == name:
        md["delta.identity.start"] = ident.get("start", 1)
        md["delta.identity.step"] = ident.get("step", 1)
        md["delta.identity.allowExplicitInsert"] = False
    return md


def _protocol_for(cm: bool, dv: bool, cfg: dict,
                  cdf: bool = False, cons: dict | None = None,
                  ict: bool = False, v2cp: bool = False) -> dict:
    """The protocol action for a feature tier: the legacy version
    LADDER while it suffices (PROTOCOL.md's cumulative writer
    versions — change data feed and generated columns need writer 4,
    column mapping writer 5 + reader 2, identity columns writer 6),
    the table-features form (reader 3 / writer 7 with explicit
    feature lists) once deletion vectors force it. In-commit
    timestamps are a WRITER-only table feature: they force the
    writer-features form (writer 7 + ``inCommitTimestamp`` listed,
    legacy features the table uses spelled out, as the spec requires
    of an upgrade) while the reader version stays wherever the read
    features put it. The writer list names the legacy features the
    table actually uses."""
    legacy_wf = (
        ({"columnMapping"} if cm else set())
        | ({"generatedColumns"} if cfg.get("generated") else set())
        | ({"identityColumns"} if cfg.get("identity") else set())
        | ({"changeDataFeed"} if cdf else set())
        | ({"checkConstraints"} if cons else set())
        | ({"inCommitTimestamp"} if ict else set())
        | ({"v2Checkpoint"} if v2cp else set()))
    if dv or v2cp:
        # v2Checkpoint is a READER+writer feature (PROTOCOL.md: V2
        # Checkpoint Table Feature) — like DVs it forces the full
        # table-features form
        rf = ((["deletionVectors"] if dv else [])
              + (["columnMapping"] if cm else [])
              + (["v2Checkpoint"] if v2cp else []))
        wf = set(rf) | legacy_wf
        return {"minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": sorted(rf),
                "writerFeatures": sorted(wf)}
    if ict:
        return {"minReaderVersion": 2 if cm else 1,
                "minWriterVersion": 7,
                "writerFeatures": sorted(legacy_wf)}
    writer = 2
    if cons:
        writer = 3  # CHECK constraints: legacy writer 3
    if cdf or cfg.get("generated"):
        writer = 4
    if cm:
        writer = max(writer, 5)
    if cfg.get("identity"):
        writer = max(writer, 6)
    return {"minReaderVersion": 2 if cm else 1,
            "minWriterVersion": writer}


def _dv_positions_by_file(table: TxnTable, ref: dict
                          ) -> dict[str, list[int]] | None:
    """src_file -> sorted deleted row indexes for one txn DV ref, read
    driver-side with pyarrow (DV position files are KB-sized by
    design — the whole point of a DV delete). None when the position
    file was vacuumed (a HISTORICAL era whose mask is gone — the
    exported version then reads as un-deleted, the documented
    time-travel caveat; a LIVE ref's file exists by table
    invariant)."""
    import pyarrow.parquet as _pq

    p = os.path.join(table.path, ref["path"])
    try:
        t = _pq.read_table(p, columns=["src_file", "row_idx"])
    except (OSError, FileNotFoundError):
        return None
    out: dict[str, list[int]] = {}
    for f, ri in zip(t.column("src_file").to_pylist(),
                     t.column("row_idx").to_pylist()):
        out.setdefault(f, []).append(ri)
    for v in out.values():
        v.sort()
    return out


def _split_cdc_by_partition(table: TxnTable, spark: SparkSession,
                            changes_rel: str,
                            part_cols: list[str]) -> list[dict]:
    """One commit's change files re-laid hive-partitioned under
    ``_delta_cdc/`` (export-only, outside the txn vacuum's sweep
    roots) and returned as spec ``cdc`` actions: Delta CDC files must
    not carry partition columns in-file — each file's values ride the
    action's ``partitionValues``. One spark job per commit, sized by
    that commit's CHANGE volume (not the table)."""
    src = spark.read.parquet(os.path.join(table.path, changes_rel))
    rel_out = os.path.join("_delta_cdc", _uuid.uuid4().hex)
    (src.write.partitionBy(*part_cols)
        .parquet(os.path.join(table.path, rel_out)))
    out = []
    for f in _files_of(table, rel_out):
        pvals = {col: (None if raw == _HIVE_NULL
                       else _unescape_partition(raw))
                 for col, raw in _partition_segs(f)}
        out.append({"cdc": {
            "path": _quote_path(f), "partitionValues": pvals,
            "size": os.path.getsize(os.path.join(table.path, f)),
            "dataChange": False}})
    return out


def export_delta_log(table: TxnTable, spark: SparkSession | None = None,
                     materialize_dvs: bool = False,
                     inline_dvs: bool = False,
                     dv_inline_threshold: int = 32_768,
                     export_cdf: bool = True,
                     in_commit_timestamps: bool = False,
                     v2_checkpoints: bool = False) -> str:
    """Write ``<table.path>/_delta_log`` mirroring the txn table's FULL
    commit history as Delta-protocol JSON commits (one
    ``<version 0-padded to 20>.json`` per txn version, dir-level
    adds/removes expanded to Delta's file-level ``add``/``remove``
    actions with ``partitionValues`` decoded from the Hive path
    segments and paths percent-encoded per the spec). Returns the log
    dir path. The export is a VIEW of the same immutable data files —
    nothing is rewritten — so it stays valid until the next txn commit
    (re-export after writes; a production deployment would export per
    commit or swap the sink for real delta jars at the
    :mod:`..sources.io` format seam).

    Column-mapped (name mode) tables export (r14, VERDICT r13 #5):
    each era's metaData carries the LOGICAL schema with
    ``delta.columnMapping.physicalName``/``.id`` field metadata (ids
    stable per physical column across the whole history, Delta's
    rename-survival contract), configuration declares
    ``delta.columnMapping.mode=name``, and the commit that activated
    mapping emits the protocol upgrade action (reader 2 / writer 5)
    mid-log exactly where real writers record an upgrade.

    Deletion vectors (r14 session 3): ``inline_dvs=True`` exports the
    table's DV history NATIVELY — each txn DV commit becomes the
    remove(old-descriptor) + add(new inline ``i``-storage descriptor)
    pair real DV writers emit (RoaringBitmapArray payload from
    :mod:`.dvcodec`, stats re-marked ``tightBounds: false``), with the
    protocol upgraded to the table-features form (reader 3 / writer 7,
    ``deletionVectors`` listed) at the first DV commit and
    ``delta.enableDeletionVectors=true`` in the configuration. Every
    version including the DV eras then time-travels exactly.
    ``materialize_dvs=True`` remains the pre-DV-reader alternative: ONE
    extra synthetic commit at txn-latest+1 swaps the masked dirs for
    export-only rewrites under ``_delta_export/``. Without either
    flag, a live-DV snapshot refuses loudly.

    ``in_commit_timestamps=True`` (r14 session 5) exports the ICT
    writer feature modern delta-spark enables by default: every
    commitInfo carries a STRICTLY monotonic ``inCommitTimestamp``
    (seeded from the txn commit clock, bumped past ties/skew), the
    configuration declares ``delta.enableInCommitTimestamps`` — plus
    the spec's enablement version/timestamp boundary configs when the
    feature turns on mid-log via an incremental re-export — and the
    protocol takes the writer-features form (writer 7,
    ``inCommitTimestamp`` listed). Once on, the feature stays on
    across re-exports. ``timestampAsOf`` readers (this module's
    included) then prefer the ICT over file times.

    Remaining fidelity caveats: a DV era whose position file was since
    VACUUMED exports those historical versions as if un-deleted (the
    mask is gone; the live snapshot and every other version stay
    exact). Vacuumed histories (keep_versions=False) cannot expand
    their early adds to files and should not be exported."""
    if table.latest_version() is None:
        raise ValueError(f"nothing to export: {table.path}")
    if materialize_dvs and inline_dvs:
        raise ValueError(
            "export_delta_log: pass materialize_dvs OR inline_dvs, "
            "not both")
    live_dvs = table.snapshot_dvs()
    if live_dvs and not (materialize_dvs or inline_dvs):
        raise ValueError(
            "export_delta_log: live deletion vectors present — pass "
            "inline_dvs=True to export them as native Delta inline "
            "DV descriptors (readers need DV support: reader "
            "version 3), materialize_dvs=True (with a spark session) "
            "to append an export-only materialization commit for the "
            "masked dirs, or run compact()/"
            "compact_partitions_if_needed() first")
    if live_dvs and materialize_dvs and spark is None:
        raise ValueError(
            "export_delta_log(materialize_dvs=True) needs a spark "
            "session to rewrite the DV'd dirs")
    cfg = table.generation_config()
    cons = table.check_constraints()
    log_dir = os.path.join(table.path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)

    # INCREMENTAL export (r14): the export loop's carried state —
    # table id, last metaData fingerprint, partition layout, stable
    # column-mapping ids — persists in a sidecar the Delta version
    # regex ignores, so re-exporting after N new commits writes N new
    # JSON files instead of rewriting the whole history (a
    # 2,880-commits/day table exporting per commit is O(history^2)
    # without this), keeps the table id STABLE across exports (foreign
    # readers treat an id change as a different table), and keeps
    # post-vacuum tables exportable (old versions stay as previously
    # exported; only new commits expand to files).
    versions = table.versions()
    # sidecar name carries NO .json suffix: log-retention sweeps
    # delete *.json commits at/below a checkpoint, and losing the
    # state would mint a new table id and re-expand the whole history
    # (wrongly, for vacuumed versions) on the next export
    sidecar = os.path.join(log_dir, "_samdis_export")
    state: dict | None = None
    if os.path.isfile(sidecar):
        try:
            with open(sidecar) as fh:
                state = json.load(fh)
        except (OSError, ValueError):
            state = None
    latest = versions[-1] if versions else -1
    if state is not None and state.get("last_version") is not None \
            and state["last_version"] <= latest:
        table_id = state["table_id"]
        carried = state["carried"]
        last_meta_json = carried["meta_json"]
        part_cols = list(carried["part_cols"])
        cm_ids = {k: int(i) for k, i in carried["cm_ids"].items()}
        cm_active = bool(carried["cm_active"])
        dv_active = bool(carried.get("dv_active", False))
        cdf_active = bool(carried.get("cdf_active", False))
        exp_dvs = dict(carried.get("exp_dvs", {}))
        ict_active = bool(carried.get("ict_active", False))
        ict_last = int(carried.get("ict_last", -1))
        ict_confs = dict(carried.get("ict_confs", {}))
        v2cp_active = bool(carried.get("v2cp_active", False))
        todo = [v for v in versions if v > state["last_version"]]
    else:
        table_id = str(_uuid.uuid4())
        last_meta_json = None
        part_cols = []
        cm_ids = {}  # physical name -> stable field id
        cm_active = False
        dv_active = False
        cdf_active = False
        exp_dvs = {}  # file -> its current exported DV descriptor
        ict_active = False
        ict_last = -1  # newest inCommitTimestamp written (strict ++)
        ict_confs = {}
        v2cp_active = False
        todo = versions
    # in-commit timestamps (PROTOCOL.md: In-Commit Timestamps; a
    # WRITER table feature, on by default in modern delta-spark): once
    # requested the feature stays active across incremental re-exports
    # (like the other feature flags); enabling MID-LOG records the
    # spec's enablement boundary configs at the first ICT commit
    ict_enable_at = None
    if in_commit_timestamps and not ict_active:
        ict_active = True
        ict_enable_at = todo[0] if todo else None
        ict_confs = {"delta.enableInCommitTimestamps": "true"}
    # v2 checkpoints (PROTOCOL.md: V2 Checkpoint Table Feature): a
    # reader+writer feature — declaring it in the protocol is what
    # LICENSES export_delta_checkpoint(format="v2"); enabling mid-log
    # upgrades the protocol at the first new exported commit
    v2cp_enable_at = None
    if v2_checkpoints and not v2cp_active:
        v2cp_active = True
        v2cp_enable_at = todo[0] if todo else None
    for v in todo:
        doc = table._doc(v)  # noqa: SLF001
        mapping_v = table.column_mapping(v) or {}
        doc_dvs = doc.get("dvs", {}) if inline_dvs else {}
        # CDF (r14 session 3): a commit's row-level change files
        # (Delta's _change_data in miniature — same schema, data
        # columns + _change_type) export as ``cdc`` actions so a
        # foreign CDF reader replays MERGE/DELETE rewrites row-level
        # instead of mis-deriving them from the add/remove file swap.
        # Verbatim (a view of the existing files) when the table is
        # unpartitioned and unmapped; partitioned-unmapped change
        # files SPLIT once per commit into hive dirs under
        # ``_delta_cdc/`` (cdc files must not carry partition columns
        # in-file — they ride partitionValues) when a spark session is
        # available; the mapped+partitioned compose and the
        # spark-less partitioned export SKIP the cdc actions for that
        # commit (foreign readers fall back to spec derive — same
        # no-cdc shape every Delta table without CDF has).
        changes_rel = doc.get("changes") if export_cdf else None
        if changes_rel and not os.path.isdir(
                os.path.join(table.path, changes_rel)):
            changes_rel = None  # vacuumed change dir: derive fallback
        cdc_actions: list[dict] = []
        if changes_rel:
            if not part_cols and not mapping_v:
                for f in _files_of(table, changes_rel):
                    cdc_actions.append({"cdc": {
                        "path": _quote_path(f), "partitionValues": {},
                        "size": os.path.getsize(
                            os.path.join(table.path, f)),
                        "dataChange": False}})
            elif part_cols and not mapping_v and spark is not None:
                cdc_actions = _split_cdc_by_partition(
                    table, spark, changes_rel, part_cols)
        actions: list[dict] = []
        # protocol: emitted at v0 and at every feature-tier upgrade —
        # CDF (writer 4), column mapping activation (reader 2 /
        # writer 5), and the first DV commit (table-features form),
        # exactly where real writers record them (PROTOCOL.md)
        prev_tier = (cm_active, dv_active, cdf_active)
        cm_active = cm_active or bool(mapping_v)
        dv_active = dv_active or bool(doc_dvs)
        cdf_active = cdf_active or bool(cdc_actions)
        if v == 0 or (cm_active, dv_active, cdf_active) != prev_tier \
                or v == ict_enable_at or v == v2cp_enable_at:
            actions.append(
                {"protocol": _protocol_for(cm_active, dv_active, cfg,
                                           cdf_active, cons,
                                           ict=ict_active,
                                           v2cp=v2cp_active)})
        ts_ms = int(doc.get("ts", time.time()) * 1000)
        ict_ms = None
        if ict_active:
            # strictly monotonic per the spec — a same-millisecond (or
            # clock-skewed) txn commit still advances the ICT clock
            ict_ms = max(ts_ms, ict_last + 1)
            ict_last = ict_ms
            if v == ict_enable_at and v > 0:
                ict_confs = {
                    **ict_confs,
                    "delta.inCommitTimestampEnablementVersion": str(v),
                    "delta.inCommitTimestampEnablementTimestamp":
                        str(ict_ms)}
        # streaming exactly-once watermark: a commit written by the
        # streaming sink records (stream_app_id, stream_batch_id) —
        # exported as Delta's SetTransaction action, the same idempotent
        # high-water a real delta streaming writer records (PROTOCOL.md:
        # Transaction Identifiers), so a FOREIGN exactly-once consumer
        # can check the appId's latest version before re-applying
        _m = doc.get("meta", {})
        if _m.get("stream_batch_id") is not None:
            actions.append({"txn": {
                "appId": _m.get("stream_app_id", ""),
                "version": int(_m["stream_batch_id"]),
                "lastUpdated": int(doc.get("ts", time.time()) * 1000),
            }})
        # per-version partition layout (a repartition_table retrofit
        # changes it mid-history; the reader's snapshot follows the
        # LAST metaData, which is the live layout)
        for rel in doc["adds"]:
            segs = _partition_segs(rel)
            if segs:
                part_cols = [c for c, _ in segs]
                break
        schema_out = _with_gen_metadata(_export_schema(table, v), cfg)
        configuration: dict = {}
        if mapping_v:
            schema_out = _with_cm_metadata(schema_out, mapping_v,
                                           cm_ids)
            configuration = {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId":
                    str(max(cm_ids.values(), default=0))}
        if dv_active:
            configuration["delta.enableDeletionVectors"] = "true"
        if cdf_active:
            configuration["delta.enableChangeDataFeed"] = "true"
        for cname, cexpr in sorted(cons.items()):
            # Delta records CHECK constraints as configuration entries
            # (PROTOCOL.md: CHECK Constraints) — a real writer refuses
            # to write without enforcing them (legacy writer 3)
            configuration[f"delta.constraints.{cname}"] = cexpr
        configuration.update(ict_confs)
        meta_json = json.dumps(
            {"schema": schema_out, "parts": part_cols,
             "conf": configuration}, sort_keys=True)
        if meta_json != last_meta_json:
            actions.append({"metaData": {
                "id": table_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema_out),
                "partitionColumns": part_cols,
                "configuration": configuration,
                "createdTime": int(doc.get("ts", time.time()) * 1000),
            }})
            last_meta_json = meta_json
        for rel in doc["adds"]:
            pvals = {
                col: (None if raw == _HIVE_NULL
                      else _unescape_partition(raw))
                for col, raw in _partition_segs(rel)}
            for f in _files_of(table, rel):
                absf = os.path.join(table.path, f)
                add = {
                    "path": _quote_path(f),
                    "partitionValues": pvals,
                    "size": os.path.getsize(absf),
                    "modificationTime": ts_ms,
                    "dataChange": doc.get("meta", {}).get(
                        "operation") != "compact",
                }
                st = _file_stats(absf)
                if st is not None:
                    add["stats"] = st
                actions.append({"add": add})
        # DV commits (inline_dvs): each dir-level mask change becomes
        # the remove(previous descriptor) + add(new descriptor) pair
        # real DV writers emit — the remove references the file's
        # PRIOR incarnation (its old descriptor, or none) so a foreign
        # reader's (path, dvId)-keyed reconciliation never sees two
        # live instances of one path. Files untouched by both the old
        # and new mask emit nothing. Small masks ride INLINE in the
        # action; masks past ``dv_inline_threshold`` serialized bytes
        # batch into ONE on-disk ``u``-storage sidecar per commit
        # under ``_delta_dvs/`` (outside the txn vacuum's sweep
        # roots) — a million-row mask inflating every log read by MBs
        # of z85 is the exact case the spec's sidecar storage exists
        # for.
        dv_changes: list[tuple[str, dict | None, list | None,
                               dict]] = []
        for d, ref in sorted(doc_dvs.items()):
            pvals = {
                col: (None if raw == _HIVE_NULL
                      else _unescape_partition(raw))
                for col, raw in _partition_segs(d)}
            by_file = (_dv_positions_by_file(table, ref)
                       if ref is not None else {})
            if by_file is None:
                by_file = {}  # vacuumed historical mask: era exports
                # un-deleted (docstring caveat)
            for f in _files_of(table, d):
                old = exp_dvs.pop(f, None)
                pos = by_file.get(f)
                if old is None and pos is None:
                    continue
                dv_changes.append((f, old, pos, pvals))
        descs: dict[int, dict] = {
            i: encode_inline(pos)
            for i, (_, _, pos, _) in enumerate(dv_changes)
            if pos is not None}
        big = sorted(i for i, dsc in descs.items()
                     if dsc["sizeInBytes"] > dv_inline_threshold)
        if big:
            from .dvcodec import write_dv_file
            udescs = write_dv_file(
                table.path, [dv_changes[i][2] for i in big],
                prefix="_delta_dvs")
            descs.update(zip(big, udescs))
        for i, (f, old, pos, pvals) in enumerate(dv_changes):
            rm = {"path": _quote_path(f),
                  "deletionTimestamp": ts_ms, "dataChange": True}
            if old is not None:
                rm["deletionVector"] = old
            actions.append({"remove": rm})
            absf = os.path.join(table.path, f)
            add = {"path": _quote_path(f),
                   "partitionValues": pvals,
                   "size": os.path.getsize(absf),
                   "modificationTime": ts_ms, "dataChange": True}
            st = _file_stats(absf)
            if pos is not None:
                add["deletionVector"] = descs[i]
                exp_dvs[f] = descs[i]
                if st is not None:
                    # physical footer bounds are WIDE once rows are
                    # masked (PROTOCOL.md: tightBounds)
                    stj = json.loads(st)
                    stj["tightBounds"] = False
                    st = json.dumps(stj)
            if st is not None:
                add["stats"] = st
            actions.append({"add": add})
        for rel in doc["removes"]:
            for f in _files_of(table, rel):
                rm = {
                    "path": _quote_path(f),
                    "deletionTimestamp": ts_ms,
                    "dataChange": doc.get("meta", {}).get(
                        "operation") != "compact",
                }
                old = exp_dvs.pop(f, None)
                if old is not None:
                    rm["deletionVector"] = old
                actions.append({"remove": rm})
        actions.extend(cdc_actions)
        actions.append({"commitInfo": {
            "timestamp": ts_ms,
            **({"inCommitTimestamp": ict_ms}
               if ict_ms is not None else {}),
            "operation": doc.get("meta", {}).get("operation",
                                                 "WRITE").upper(),
            "engineInfo": "samdis-txnlog-export",
        }})
        with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    if live_dvs and materialize_dvs:
        mat_ict = None
        if ict_active:
            ict_last = max(int(time.time() * 1000), ict_last + 1)
            mat_ict = ict_last
        _export_dv_materialization(table, spark, log_dir, live_dvs,
                                   ict_ms=mat_ict)
    with open(sidecar, "w") as fh:
        json.dump({"table_id": table_id, "last_version": latest,
                   "carried": {"meta_json": last_meta_json,
                               "part_cols": part_cols,
                               "cm_ids": cm_ids,
                               "cm_active": cm_active,
                               "dv_active": dv_active,
                               "cdf_active": cdf_active,
                               "exp_dvs": exp_dvs,
                               "ict_active": ict_active,
                               "ict_last": ict_last,
                               "ict_confs": ict_confs,
                               "v2cp_active": v2cp_active}}, fh)
    return log_dir


def _export_dv_materialization(table: TxnTable, spark: SparkSession,
                               log_dir: str, dvs: dict,
                               ict_ms: int | None = None) -> None:
    """One SYNTHETIC final commit (txn latest + 1) in the exported log:
    for each DV'd live dir, rewrite its masked rows into an
    export-only parquet under ``_delta_export/`` (outside the txn
    vacuum's sweep roots, so retention can't eat the exported table's
    files) and swap the add — exactly what Delta records when OPTIMIZE
    materializes DVs, flagged dataChange=false. The txn table itself
    is untouched: its DVs stay live, its version count unchanged; only
    the exported view gains the commit. Re-exports clear the previous
    materialization dir."""
    import shutil as _shutil
    import time as _time

    exp_root = os.path.join(table.path, "_delta_export")
    _shutil.rmtree(exp_root, ignore_errors=True)
    v = table.latest_version() + 1
    ts_ms = int(_time.time() * 1000)
    actions: list[dict] = []
    for d in sorted(dvs):
        ref = dvs[d]
        segs = _partition_segs(d)
        pvals = {col: (None if raw == _HIVE_NULL
                       else _unescape_partition(raw))
                 for col, raw in segs}
        df = table._scan(spark, [d], dvs={d: ref})  # noqa: SLF001
        if segs:  # partition cols live in the path, not the files
            df = df.drop(*[c for c, _ in segs])
        rel = os.path.join("_delta_export", _uuid.uuid4().hex)
        df.write.parquet(os.path.join(table.path, rel))
        for f in _files_of(table, rel):
            actions.append({"add": {
                "path": _quote_path(f),
                "partitionValues": pvals,
                "size": os.path.getsize(os.path.join(table.path, f)),
                "modificationTime": ts_ms,
                "dataChange": False,
            }})
        for f in _files_of(table, d):
            actions.append({"remove": {
                "path": _quote_path(f),
                "deletionTimestamp": ts_ms,
                "dataChange": False,
            }})
    actions.append({"commitInfo": {
        "timestamp": ts_ms,
        **({"inCommitTimestamp": ict_ms}
           if ict_ms is not None else {}),
        "operation": "OPTIMIZE",
        "engineInfo": "samdis-txnlog-export (DV materialization)",
    }})
    with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


def _export_schema(table: TxnTable, v: int) -> dict:
    """The Delta schema json of commit ``v``: the table schema the txn
    log records for it (:meth:`TxnTable.table_schema`, LOGICAL names,
    partition keys included as the trailing fields — a legacy commit's
    is derived there)."""
    sch = table.table_schema(v)
    if sch is None:
        raise ValueError(
            f"export_delta_log: commit {v} has no schema (the table "
            "never held data) — cannot author a valid metaData action")
    return sch.jsonValue()


def _with_gen_metadata(schema_json: dict, cfg: dict) -> dict:
    """Schema json with Delta generated/identity field metadata
    attached (no-op when the table declares neither)."""
    if not cfg or not (cfg.get("generated") or cfg.get("identity")):
        return schema_json
    out = {**schema_json,
           "fields": [dict(f) for f in schema_json.get("fields", [])]}
    for f in out["fields"]:
        md = _gen_field_metadata(cfg, f["name"])
        if md:
            f["metadata"] = {**f.get("metadata", {}), **md}
    return out


def _with_cm_metadata(schema_json: dict, mapping: dict,
                      ids: dict[str, int]) -> dict:
    """Schema json with ``delta.columnMapping`` field metadata for a
    name-mode era: each logical field carries its physical name and a
    field id STABLE per physical column across the whole exported
    history (``ids`` accumulates across eras — Delta's contract that a
    rename keeps the id)."""
    out = {**schema_json,
           "fields": [dict(f) for f in schema_json.get("fields", [])]}
    for f in out["fields"]:
        phys = mapping.get(f["name"], f["name"])
        fid = ids.setdefault(phys, max(ids.values(), default=0) + 1)
        f["metadata"] = {**f.get("metadata", {}),
                         "delta.columnMapping.id": fid,
                         "delta.columnMapping.physicalName": phys}
    return out


# --------------------------------------------------------------------------
# Reader


def _log_versions(log_dir: str) -> list[int]:
    return sorted(
        int(f[:-5]) for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-5].isdigit() and len(f) == 25)


_MULTIPART_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")

#: V2 ("uuid-named") checkpoints — PROTOCOL.md: V2 Checkpoint Spec.
#: The manifest (parquet or JSON format, both spec-legal) may carry
#: ``sidecar`` actions pointing at add/remove files under
#: ``_delta_log/_sidecars/``.
_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.[A-Za-z0-9][A-Za-z0-9-]*"
    r"\.(?:parquet|json)$")


def _checkpoint_parts(log_dir: str,
                      ceiling: int | None
                      ) -> tuple[int, list[str]] | None:
    """(version, ordered absolute part paths) of the newest COMPLETE
    parquet checkpoint at/below ``ceiling`` — single-part
    ``<v>.checkpoint.parquet`` or multi-part
    ``<v>.checkpoint.<i>.<n>.parquet`` (r14: real Delta writers emit
    multi-part checkpoints at exactly the table sizes this reader
    targets; reading one is a union over its parts). An INCOMPLETE
    multi-part set (a killed writer's partial upload) is skipped in
    favor of an older checkpoint or pure JSON replay — never a partial
    (silently file-dropping) read."""
    singles: dict[int, str] = {}
    multis: dict[int, dict[int, dict[int, str]]] = {}
    v2s: dict[int, str] = {}
    for f in os.listdir(log_dir):
        if f.endswith(".checkpoint.parquet"):
            head = f.split(".")[0]
            if head.isdigit():
                singles[int(head)] = f
            continue
        m = _MULTIPART_RE.match(f)
        if m:
            v, i, n = int(m.group(1)), int(m.group(2)), int(m.group(3))
            multis.setdefault(v, {}).setdefault(n, {})[i] = f
            continue
        m2 = _V2_RE.match(f)
        if m2:
            v2s[int(m2.group(1))] = f  # any one manifest per version
    for v in sorted(set(singles) | set(multis) | set(v2s),
                    reverse=True):
        if ceiling is not None and v > ceiling:
            continue
        if v in singles:
            return v, [os.path.join(log_dir, singles[v])]
        if v in v2s:
            return v, [os.path.join(log_dir, v2s[v])]
        for n, parts in sorted(multis.get(v, {}).items()):
            if len(parts) == n:
                return v, [os.path.join(log_dir, parts[i])
                           for i in sorted(parts)]
    return None


#: Log-compaction files (PROTOCOL.md: Log Compaction Files):
#: ``<x>.<y>.compacted.json`` holds the action-reconciliation result of
#: commits [x, y] — readers may substitute it for the individual
#: commit files when constructing the log segment.
_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")


def _compaction_files(log_dir: str) -> list[tuple[int, int, str]]:
    """Sorted (start, end, filename) of every log-compaction file."""
    out = []
    for f in os.listdir(log_dir):
        m = _COMPACTED_RE.match(f)
        if m:
            out.append((int(m.group(1)), int(m.group(2)), f))
    return sorted(out)


def _tail_units(log_dir: str, floor: int | None,
                ceiling: int | None) -> list[tuple]:
    """Ordered replay units covering versions (floor, target] — each
    ``("json", v)`` or ``("compacted", x, y, filename)``. Compaction
    files substitute for their covered range (PREFERRING the longest
    usable span — fewer files listed and opened), which also lets a
    log whose per-commit JSONs were retention-cleaned remain readable
    as long as a compaction spans them. A version that is neither
    present as JSON nor covered by a usable compaction is a LOUD
    error — the old json-only listing silently replayed around such a
    gap, which reconstructs a wrong (file-dropping) snapshot."""
    jsons = set(_log_versions(log_dir))
    comps = _compaction_files(log_dir)
    lo = -1 if floor is None else floor
    candidates = [v for v in jsons if v > lo] + \
        [y for _x, y, _f in comps if y > lo]
    known_max = max(candidates, default=lo)
    if ceiling is not None:
        candidates = [v for v in candidates if v <= ceiling]
    target = max(candidates, default=lo)
    if ceiling is not None and lo < ceiling <= known_max \
            and target < ceiling:
        # the requested version EXISTED (the log records versions past
        # it) but its per-commit granularity is gone — compacted at a
        # coarser span or retention-cleaned; falling back to `target`
        # would silently time-travel to an older snapshot
        raise ValueError(
            f"cannot reconstruct version {ceiling} of {log_dir}: "
            f"commits in ({target}, {ceiling}] are missing — "
            "log-compacted at a coarser span or retention-cleaned")
    if not candidates:
        return []
    units: list[tuple] = []
    v = lo + 1
    while v <= target:
        # a compaction whose range STRADDLES v (x <= v) is usable even
        # when x is below the replay position: it carries the NET
        # state of [x, y], so batch-applying it over an already-
        # applied sub-prefix is idempotent — every path it touches
        # lands on its state-at-y, untouched paths keep prior state
        spans = [(x, y, f) for x, y, f in comps
                 if x <= v <= y and y <= target]
        if spans:
            x, y, f = max(spans, key=lambda s: (s[1], -s[0]))
            units.append(("compacted", x, y, f))
            v = y + 1
        elif v in jsons:
            units.append(("json", v))
            v += 1
        else:
            raise ValueError(
                f"log gap at version {v} in {log_dir}: commit JSON "
                "missing and no log-compaction file covers it — "
                "refusing a silently file-dropping replay")
    return units


def _tail_replay(log_dir: str, units: list
                 ) -> tuple[dict, dict, dict | None, dict | None, dict]:
    """(live adds, dead removes, last metaData, last protocol, latest
    txn version per appId) from the JSON tail — ``units`` as
    :func:`_tail_units` produces them (plain ints are accepted as
    ``("json", v)``); keyed by DECODED path, each action keeping its
    original encoded ``path_enc``. Driver-side and O(tail) BY DESIGN:
    the tail is the commits past the newest checkpoint, bounded by
    checkpoint cadence regardless of table size (the checkpoint side
    of reconstruction stays distributed — see :func:`_snapshot_state`).

    Actions within one version reconcile ORDER-INDEPENDENTLY, the way
    the spec keys them: a deletion-vector update commit legally carries
    BOTH a remove (the file's previous DV incarnation) and an add (the
    new descriptor) for the same path — the add wins for that path, the
    remove only tombstones when the path is not re-added in the same
    version. A path-sequential replay would have made the outcome
    depend on the writer's line order. A log-compaction unit replays
    the same way as one batch: the file already holds its range's
    reconciled net state."""
    live: dict[str, dict] = {}
    dead: dict[str, dict] = {}
    meta: dict | None = None
    proto: dict | None = None
    txns: dict[str, dict] = {}
    for unit in units:
        if isinstance(unit, int):
            unit = ("json", unit)
        fname = f"{unit[1]:020d}.json" if unit[0] == "json" \
            else unit[3]
        vadds: dict[str, dict] = {}
        vrems: dict[str, dict] = {}
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    proto = action["protocol"]
                elif "txn" in action:
                    t = action["txn"]
                    prev = txns.get(t.get("appId", ""))
                    if prev is None or t.get("version", 0) >= \
                            prev.get("version", 0):
                        txns[t.get("appId", "")] = t
                elif "add" in action:
                    a = action["add"]
                    p = _urlunquote(a["path"])
                    dv = a.get("deletionVector")
                    vadds[p] = {**a, "path": p, "path_enc": a["path"],
                                "dv": (json.dumps(dv)
                                       if dv is not None else None)}
                elif "remove" in action:
                    r = action["remove"]
                    p = _urlunquote(r["path"])
                    vrems[p] = {**r, "path": p, "path_enc": r["path"]}
        for p, r in vrems.items():
            if p not in vadds:
                live.pop(p, None)
                dead[p] = r
        for p, a in vadds.items():
            live[p] = a
            dead.pop(p, None)
    return live, dead, meta, proto, txns


def _adds_frame(spark: SparkSession, actions) -> DataFrame:
    """Small (tail-bounded) adds DataFrame in the replay shape."""
    rows = [(a["path"], a["path_enc"],
             {k: v for k, v in (a.get("partitionValues") or {}).items()},
             a.get("size"), a.get("modificationTime"),
             bool(a.get("dataChange", True)), a.get("stats"),
             a.get("dv"))
            for a in actions]
    return spark.createDataFrame(rows, _ADDS_DDL)


def _checkpoint_frame(spark: SparkSession, parts: list[str]
                      ) -> tuple[DataFrame, dict | None, dict | None,
                                 dict]:
    """(adds frame, metaData, protocol, txns-by-appId) from a parquet
    checkpoint, DISTRIBUTED:
    the checkpoint reads as a DataFrame and stays one — no driver-side
    add-action dict, however many million files the snapshot holds
    (VERDICT r13 #1). Handles both spec-shaped map-typed
    ``partitionValues`` and struct-typed ones (JSON-schema-inferred
    checkpoints); refuses DV-bearing adds the same way the JSON path
    does."""
    from itertools import chain

    from pyspark.sql.types import MapType, StructType

    # a v2 manifest may be JSON-format; spark.read.json yields the
    # same action-frame shape (struct-typed partitionValues included,
    # which _adds_of_actions already normalizes)
    if parts[0].endswith(".json"):
        cpdf = spark.read.json(parts)
    else:
        cpdf = spark.read.parquet(*parts)
    cols = cpdf.columns
    meta = None
    proto = None
    if "metaData" in cols:
        m = cpdf.filter("metaData IS NOT NULL") \
            .select("metaData").collect()
        if m:
            meta = m[-1]["metaData"].asDict(recursive=True)
    if "protocol" in cols:
        pr = cpdf.filter("protocol IS NOT NULL") \
            .select("protocol").collect()
        if pr:
            proto = {k: v for k, v in
                     pr[-1]["protocol"].asDict(recursive=True).items()
                     if v is not None}
    txns: dict[str, dict] = {}
    if "txn" in cols:
        for r in cpdf.filter("txn IS NOT NULL").select("txn").collect():
            t = r["txn"].asDict(recursive=True)
            prev = txns.get(t.get("appId", ""))
            if prev is None or (t.get("version") or 0) >= \
                    (prev.get("version") or 0):
                txns[t.get("appId", "")] = t
    # V2 checkpoints: the manifest's ``sidecar`` actions point at
    # add/remove files under ``_delta_log/_sidecars/`` — the modern
    # delta-spark layout. Resolve and union their adds with the
    # manifest's own (classic checkpoints simply have no sidecar
    # column).
    sidecar_paths: list[str] = []
    if "sidecar" in cols:
        log_dir = os.path.dirname(parts[0])
        for r in cpdf.filter("sidecar IS NOT NULL") \
                .select("sidecar.path").collect():
            sp = r["path"]
            if "://" in sp or os.path.isabs(sp):
                sidecar_paths.append(sp)
            else:
                sidecar_paths.append(
                    os.path.join(log_dir, "_sidecars", sp))
    adds = (_adds_of_actions(cpdf) if "add" in cols
            else _adds_frame(spark, []))
    if sidecar_paths:
        sdf = spark.read.parquet(*sidecar_paths)
        if "add" in sdf.columns:  # remove-only sidecars contribute none
            adds = adds.unionByName(_adds_of_actions(sdf))
    return adds, meta, proto, txns


def _adds_of_actions(cpdf: DataFrame) -> DataFrame:
    """The replay-shaped adds frame out of one action frame (a classic
    checkpoint, a v2 manifest, or a v2 sidecar file). Handles both
    spec-shaped map-typed ``partitionValues`` and struct-typed ones
    (JSON-schema-inferred checkpoints); deletionVector descriptors
    ride along as JSON."""
    from itertools import chain

    from pyspark.sql.types import MapType, StructType

    add_t = cpdf.schema["add"].dataType
    names = set(add_t.fieldNames())

    def sub(name: str, ddl: str):
        if name in names:
            return F.col(f"add.{name}").cast(ddl)
        return F.lit(None).cast(ddl)

    if "deletionVector" in names:
        dv = F.when(F.col("add.deletionVector").isNotNull(),
                    F.to_json("add.deletionVector",
                              {"ignoreNullFields": "true"}))
    else:
        dv = F.lit(None).cast("string")

    if "partitionValues" not in names:
        pv = F.lit(None).cast("map<string,string>")
    else:
        pv_t = add_t["partitionValues"].dataType
        if isinstance(pv_t, MapType):
            pv = F.col("add.partitionValues").cast("map<string,string>")
        elif isinstance(pv_t, StructType):
            pv = F.create_map(*chain.from_iterable(
                (F.lit(f.name),
                 F.col(f"add.partitionValues.`{f.name}`").cast("string"))
                for f in pv_t.fields))
        else:
            pv = F.lit(None).cast("map<string,string>")
    return (cpdf.filter("add IS NOT NULL").select(
        _decode_path_col(F.col("add.path")).alias("path"),
        F.col("add.path").alias("path_enc"),
        pv.alias("partitionValues"),
        sub("size", "bigint").alias("size"),
        sub("modificationTime", "bigint").alias("modificationTime"),
        sub("dataChange", "boolean").alias("dataChange"),
        sub("stats", "string").alias("stats"),
        dv.alias("dv")))


def _snapshot_state(spark: SparkSession, log_dir: str,
                    version: int | None
                    ) -> tuple[DataFrame, dict | None, dict,
                               dict | None, dict]:
    """(live adds frame, last metaData, dead tombstones, last
    protocol, latest txn per appId) at
    ``version``. The checkpoint contributes DISTRIBUTED state; the
    JSON tail applies over it as ONE broadcast anti-join (its removed
    + superseded paths) plus a union of its own adds — reconstruction
    cost grows with the TAIL, not the table. Tolerates log retention:
    JSON commits at/below the checkpoint may be deleted (Delta's
    logRetentionDuration cleanup) since the checkpoint carries their
    state."""
    cp = _checkpoint_parts(log_dir, version)
    units = _tail_units(log_dir, None if cp is None else cp[0],
                        version)
    if cp is None and not units:
        raise ValueError(
            f"no commits{'' if version is None else f' at or below version {version}'} in {log_dir}")
    live, dead, tmeta, tproto, ttxns = _tail_replay(log_dir, units)
    if cp is None:
        return (_adds_frame(spark, live.values()), tmeta, dead,
                tproto, ttxns)
    cp_adds, cmeta, cproto, ctxns = _checkpoint_frame(spark, cp[1])
    meta = tmeta or cmeta
    proto = tproto or cproto
    txns = {**ctxns, **ttxns}  # tail wins per appId
    drop = sorted(set(dead) | set(live))
    adds = cp_adds
    if drop:
        adds = adds.join(
            F.broadcast(spark.createDataFrame(
                [(p,) for p in drop], "path string")),
            "path", "left_anti")
    if live:
        adds = adds.unionByName(_adds_frame(spark, live.values()))
    return adds, meta, dead, proto, txns


# checkpoint action schema per PROTOCOL.md (Checkpoint Schema): the
# explicit spec shape — map-typed partitionValues, remove tombstones —
# so a FOREIGN reader plans from it, not just this module's (ADVICE
# r13: JSON-schema inference produced struct-typed partitionValues)
_CP_DDL = (
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>, "
    "metaData struct<id:string,name:string,description:string,"
    "format:struct<provider:string,options:map<string,string>>,"
    "schemaString:string,partitionColumns:array<string>,"
    "configuration:map<string,string>,createdTime:bigint>, "
    "add struct<path:string,partitionValues:map<string,string>,"
    "size:bigint,modificationTime:bigint,dataChange:boolean,"
    f"stats:string,deletionVector:{_DV_DDL}>, "
    "remove struct<path:string,deletionTimestamp:bigint,"
    "dataChange:boolean>, "
    "txn struct<appId:string,version:bigint,lastUpdated:bigint>")


#: reader features this module can honor. PROTOCOL.md's reader
#: contract: a reader MUST refuse tables whose readerFeatures it does
#: not implement — an unknown feature means the bytes on disk need
#: semantics this reader lacks, and reading anyway returns wrong rows
#: silently (resurrected deletes, stale columns, missed clustering).
_SUPPORTED_READER_FEATURES = {
    "deletionVectors",       # dvcodec decode + row_index anti-join
    "columnMapping",         # name + id modes
    "v2Checkpoint",          # uuid manifests + sidecars
    "timestampNtz",          # Spark-native TIMESTAMP_NTZ
    "typeWidening",          # declared-schema scan; Spark 4 parquet
    "typeWidening-preview",  # type promotion upcasts narrow files
    "vacuumProtocolCheck",   # imposes no read-time behavior
}


def _check_reader_features(proto: dict | None, where: str) -> None:
    """Refuse tables this reader cannot faithfully read — Delta's
    reader-version/feature contract, enforced where a generic reader
    would otherwise produce silently wrong rows."""
    if not proto:
        return
    rv = proto.get("minReaderVersion", 1)
    if rv > 3:
        raise ValueError(
            f"{where}: table requires reader protocol version {rv}, "
            "above the highest this reader implements (3) — refusing "
            "a potentially wrong read")
    unknown = sorted(set(proto.get("readerFeatures") or [])
                     - _SUPPORTED_READER_FEATURES)
    if unknown:
        raise ValueError(
            f"{where}: table requires reader feature(s) {unknown} "
            "this reader does not implement — refusing a potentially "
            "wrong read (PROTOCOL.md reader contract)")


def _checkpoint_removes(spark: SparkSession,
                        parts: list[str]) -> DataFrame:
    """(path, deletionTimestamp, dataChange) tombstones of a prior
    checkpoint — classic parquet parts, JSON-format v2 manifests, and
    sidecar-carried removes all read. The re-checkpoint writer carries
    these FORWARD (a v2 prior whose removes live in sidecars would
    otherwise silently lose its tombstones one checkpoint early)."""
    cpdf = (spark.read.json(parts) if parts[0].endswith(".json")
            else spark.read.parquet(*parts))

    def _rems(df: DataFrame) -> DataFrame:
        return df.filter("remove IS NOT NULL").select(
            F.col("remove.path").cast("string").alias("path"),
            F.col("remove.deletionTimestamp").cast("bigint")
            .alias("deletionTimestamp"),
            F.col("remove.dataChange").cast("boolean")
            .alias("dataChange"))

    out = spark.createDataFrame(
        [], "path string, deletionTimestamp bigint, "
            "dataChange boolean")
    if "remove" in cpdf.columns:
        out = out.unionByName(_rems(cpdf))
    if "sidecar" in cpdf.columns:
        log_dir = os.path.dirname(parts[0])
        sps = []
        for r in cpdf.filter("sidecar IS NOT NULL") \
                .select("sidecar.path").collect():
            sp = r["path"]
            sps.append(sp if ("://" in sp or os.path.isabs(sp))
                       else os.path.join(log_dir, "_sidecars", sp))
        if sps:
            sdf = spark.read.parquet(*sps)
            if "remove" in sdf.columns:
                out = out.unionByName(_rems(sdf))
    return out


def export_delta_checkpoint(spark: SparkSession, path: str,
                            parts: int = 1,
                            format: str = "classic") -> str:
    """Write a parquet CHECKPOINT of the latest exported state plus
    ``_last_checkpoint`` — after this, a Delta reader (this module's or
    a real one) plans from the checkpoint + the JSON tail instead of
    replaying every commit, and JSON commits at or below the
    checkpoint become ELIGIBLE for log-retention cleanup (Delta's
    logRetentionDuration). The checkpoint frame carries the EXPLICIT
    spec schema (map-typed ``partitionValues``, remove tombstones for
    the replay's dead set — ADVICE r13) and builds DISTRIBUTED from
    the replayed adds frame — no driver-side action materialization.
    ``parts > 1`` emits a MULTI-PART checkpoint
    (``<v>.checkpoint.<i>.<n>.parquet``, ``_last_checkpoint`` carries
    ``parts``) — the shape real writers emit at scale. Run after
    :func:`export_delta_log`; re-run after each re-export. The
    O(commits) log walk becomes O(tail) — the 2,880-commits-per-day
    streaming-table shape.

    ``format="v2"`` (r14 session 5) writes the V2 layout modern
    delta-spark emits: a uuid-named parquet MANIFEST
    (``<v>.checkpoint.<uuid>.parquet`` — protocol, metaData, txn,
    ``checkpointMetadata``, and ``sidecar`` pointer actions) with the
    add/remove actions in ``parts`` sidecar parquet files under
    ``_delta_log/_sidecars/``. Requires the table's protocol to
    declare the ``v2Checkpoint`` reader feature — export the log with
    ``export_delta_log(..., v2_checkpoints=True)`` first (readers
    unaware of the feature must refuse such tables, so the
    declaration is mandatory, PROTOCOL.md: V2 Checkpoint Table
    Feature)."""
    import glob as _glob
    import shutil as _shutil
    import tempfile

    log_dir = os.path.join(path, "_delta_log")
    versions = _log_versions(log_dir)
    prior0 = _checkpoint_parts(log_dir, None)
    v = max(versions[-1] if versions else -1,
            prior0[0] if prior0 is not None else -1,
            max([y for _x, y, _f in _compaction_files(log_dir)],
                default=-1))
    if v < 0:
        raise ValueError(f"no commits to checkpoint in {log_dir}")
    adds, meta, dead, proto, txns = _snapshot_state(spark, log_dir,
                                                    None)
    if meta is None:
        raise ValueError(f"no metaData action found in {log_dir}")

    prot_t = ("struct<minReaderVersion:int,minWriterVersion:int,"
              "readerFeatures:array<string>,"
              "writerFeatures:array<string>>")
    meta_t = ("struct<id:string,name:string,description:string,"
              "format:struct<provider:string,"
              "options:map<string,string>>,schemaString:string,"
              "partitionColumns:array<string>,"
              "configuration:map<string,string>,createdTime:bigint>")
    add_t = ("struct<path:string,partitionValues:map<string,string>,"
             "size:bigint,modificationTime:bigint,dataChange:boolean,"
             f"stats:string,deletionVector:{_DV_DDL}>")
    rem_t = ("struct<path:string,deletionTimestamp:bigint,"
             "dataChange:boolean>")
    txn_t = "struct<appId:string,version:bigint,lastUpdated:bigint>"

    fmt = meta.get("format") or {}
    meta_row = (meta.get("id"), meta.get("name"),
                meta.get("description"),
                (fmt.get("provider", "parquet"),
                 {k: str(val) for k, val in
                  (fmt.get("options") or {}).items()}),
                meta["schemaString"],
                list(meta.get("partitionColumns") or []),
                {k: str(val) for k, val in
                 (meta.get("configuration") or {}).items()},
                meta.get("createdTime"))
    # the checkpoint must carry the table's ACTUAL protocol — a
    # DV-bearing or column-mapped snapshot checkpointed as (1, 2)
    # would have a real reader plan features it cannot honor
    proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
    proto_row = (proto.get("minReaderVersion", 1),
                 proto.get("minWriterVersion", 2),
                 proto.get("readerFeatures"),
                 proto.get("writerFeatures"))
    # latest SetTransaction per appId survives log retention through
    # the checkpoint (PROTOCOL.md: checkpoints contain the newest txn
    # action of every application id) — a foreign exactly-once writer
    # keyed on the appId keeps its idempotence watermark
    txn_rows = [(None, None, None, None,
                 (t.get("appId", ""), t.get("version"),
                  t.get("lastUpdated")))
                for _, t in sorted(txns.items())]
    local = spark.createDataFrame(
        [(proto_row, None, None, None, None),
         (None, meta_row, None, None, None)] + txn_rows,
        _CP_DDL)

    # remove TOMBSTONES carry FORWARD across re-checkpoints: the
    # spec's reason checkpoints hold them (VACUUM/foreign-reader
    # coordination for not-yet-expired removed files) — the tail's
    # dead set alone would silently drop the PREVIOUS checkpoint's
    # tombstones one checkpoint early. Kept distributed; a tombstone
    # whose path is live again (re-added) drops.
    tomb = spark.createDataFrame(
        [(dead[p]["path_enc"], dead[p].get("deletionTimestamp"),
          bool(dead[p].get("dataChange", True)))
         for p in sorted(dead)],
        "path string, deletionTimestamp bigint, dataChange boolean")
    prior = _checkpoint_parts(log_dir, None)
    if prior is not None:
        tomb = tomb.unionByName(_checkpoint_removes(spark, prior[1]))
    tomb = (tomb.groupBy("path")
            .agg(F.max("deletionTimestamp").alias("deletionTimestamp"),
                 F.max("dataChange").alias("dataChange"))
            .join(adds.select(F.col("path_enc").alias("path")),
                  "path", "left_anti"))

    add_rows = adds.select(
        F.lit(None).cast(prot_t).alias("protocol"),
        F.lit(None).cast(meta_t).alias("metaData"),
        F.struct(
            F.col("path_enc").alias("path"),
            F.col("partitionValues"),
            F.col("size"),
            F.col("modificationTime"),
            F.col("dataChange"),
            F.col("stats"),
            F.from_json("dv", _DV_DDL).alias("deletionVector"))
        .alias("add"),
        F.lit(None).cast(rem_t).alias("remove"),
        F.lit(None).cast(txn_t).alias("txn"))
    rem_rows = tomb.select(
        F.lit(None).cast(prot_t).alias("protocol"),
        F.lit(None).cast(meta_t).alias("metaData"),
        F.lit(None).cast(add_t).alias("add"),
        F.struct("path", "deletionTimestamp", "dataChange")
        .alias("remove"),
        F.lit(None).cast(txn_t).alias("txn"))
    cp_df = local.unionByName(add_rows).unionByName(rem_rows)

    if format == "v2":
        import pyarrow.parquet as _papq
        if "v2Checkpoint" not in (proto.get("readerFeatures") or []):
            raise ValueError(
                "export_delta_checkpoint(format='v2'): the table's "
                "protocol does not declare the v2Checkpoint reader "
                "feature — re-export the log with export_delta_log("
                "..., v2_checkpoints=True) first (readers unaware of "
                "the feature must refuse v2-checkpointed tables, so "
                "the declaration is mandatory)")
        side_df = (add_rows.select("add", "remove")
                   .unionByName(rem_rows.select("add", "remove")))
        tmp = tempfile.mkdtemp(prefix="samdis_delta_v2cp_")
        out = os.path.join(tmp, "sc")
        (side_df.repartition(max(1, parts)) if parts > 1
         else side_df.coalesce(1)).write.parquet(out)
        os.makedirs(os.path.join(log_dir, "_sidecars"), exist_ok=True)
        side_actions: list[tuple] = []
        n_actions = 0
        for src in sorted(_glob.glob(os.path.join(out,
                                                  "part-*.parquet"))):
            name = f"{_uuid.uuid4().hex}.parquet"
            dst = os.path.join(log_dir, "_sidecars", name)
            _shutil.copy(src, dst)
            n_actions += _papq.ParquetFile(dst).metadata.num_rows
            side_actions.append(
                (name, os.path.getsize(dst),
                 int(os.path.getmtime(dst) * 1000)))
        man_ddl = (_CP_DDL
                   + ", checkpointMetadata struct<version:bigint>"
                   ", sidecar struct<path:string,sizeInBytes:bigint,"
                   "modificationTime:bigint>")
        base5 = [(proto_row, None, None, None, None),
                 (None, meta_row, None, None, None)] + txn_rows
        man_rows = [r + (None, None) for r in base5]
        man_rows.append((None,) * 5 + ((v,), None))
        man_rows.extend((None,) * 5 + (None, s) for s in side_actions)
        man_out = os.path.join(tmp, "man")
        spark.createDataFrame(man_rows, man_ddl) \
            .coalesce(1).write.parquet(man_out)
        man_name = f"{v:020d}.checkpoint.{_uuid.uuid4().hex}.parquet"
        _shutil.copy(
            sorted(_glob.glob(os.path.join(man_out,
                                           "part-*.parquet")))[0],
            os.path.join(log_dir, man_name))
        with open(os.path.join(log_dir, "_last_checkpoint"),
                  "w") as fh:
            json.dump({"version": v,
                       "size": n_actions + len(man_rows)}, fh)
        _shutil.rmtree(tmp, ignore_errors=True)
        return os.path.join(log_dir, man_name)
    if format != "classic":
        raise ValueError(
            f"unknown checkpoint format {format!r} — 'classic' or "
            "'v2'")

    tmp = tempfile.mkdtemp(prefix="samdis_delta_cp_")
    out = os.path.join(tmp, "cp")
    (cp_df.repartition(max(1, parts)) if parts > 1
     else cp_df.coalesce(1)).write.parquet(out)
    files = sorted(_glob.glob(os.path.join(out, "part-*.parquet")))
    n = len(files)
    if n == 1:
        names = [f"{v:020d}.checkpoint.parquet"]
    else:
        names = [f"{v:020d}.checkpoint.{i + 1:010d}.{n:010d}.parquet"
                 for i in range(n)]
    # action count from the WRITTEN footers (driver-side metadata) —
    # a separate count() would re-execute the whole reconstruction
    import pyarrow.parquet as _papq

    n_actions = sum(_papq.ParquetFile(f).metadata.num_rows
                    for f in files)
    for src, name in zip(files, names):
        _shutil.copy(src, os.path.join(log_dir, name))
    last: dict = {"version": v, "size": n_actions}
    if n > 1:
        last["parts"] = n
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump(last, fh)
    _shutil.rmtree(tmp, ignore_errors=True)
    return os.path.join(log_dir, names[0])


def _version_at_timestamp(log_dir: str, ts: float) -> int:
    """Largest retained version whose commit timestamp is at/below
    ``ts`` (epoch seconds) — Delta's ``timestampAsOf``. Timestamps
    come from each retained JSON commit's ``commitInfo`` (falling back
    to the commit file's mtime when a foreign log omits it, the same
    fallback delta-spark applies); versions cleaned by log retention
    cannot be timestamp-addressed, matching delta-spark's contract.
    O(retained versions) driver-side, bounded by retention."""
    ts_ms = ts * 1000.0
    best = None
    versions = _log_versions(log_dir)
    for v in versions:
        p = os.path.join(log_dir, f"{v:020d}.json")
        t = None
        with open(p) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    ci = action["commitInfo"]
                    # inCommitTimestamp wins when present (the ICT
                    # table feature — the spec's authoritative commit
                    # clock, monotonic where file times are not)
                    t = ci.get("inCommitTimestamp",
                               ci.get("timestamp"))
        if t is None:
            t = os.path.getmtime(p) * 1000.0
        if t <= ts_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no retained commit at or before timestamp {ts} in "
            f"{log_dir} (earliest retained versions: {versions[:3]})")
    return best


def export_delta_checkpoint_if_needed(spark: SparkSession, path: str,
                                      interval: int = 10,
                                      parts: int = 1,
                                      format: str = "classic"
                                      ) -> str | None:
    """Checkpoint cadence (Delta's ``checkpointInterval``): write a
    checkpoint only when at least ``interval`` JSON commits have
    accumulated past the newest complete one — the policy that keeps
    :func:`_snapshot_state`'s tail bounded on a continuously-written
    table (2,880 commits/day at a 10-commit cadence is a ≤10-commit
    replay walk, whatever the table size). Returns the checkpoint
    path, or None when under cadence."""
    log_dir = os.path.join(path, "_delta_log")
    versions = _log_versions(log_dir)
    if not versions:
        return None
    cp = _checkpoint_parts(log_dir, None)
    floor = -1 if cp is None else cp[0]
    if versions[-1] - floor < interval:
        return None
    return export_delta_checkpoint(spark, path, parts=parts,
                                   format=format)


def compact_delta_log_if_needed(path: str, span: int = 10,
                                ) -> str | None:
    """Log-compaction CADENCE (the maintenance twin of
    :func:`export_delta_checkpoint_if_needed`): when at least ``span``
    consecutive JSON commits have accumulated past both the newest
    complete checkpoint and the newest compaction, compact the oldest
    such full span into one ``.compacted.json``. A continuously-
    written table maintained this way keeps its tail segment at
    O(tail / span) replay units between checkpoints — cheaper than
    checkpointing every ``span`` commits (a compaction is a bounded
    JSON rewrite, never a full-state parquet dump). Returns the
    compaction path, or None when under cadence."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"not a Delta table (no _delta_log): {path}")
    versions = _log_versions(log_dir)
    if not versions:
        return None
    cp = _checkpoint_parts(log_dir, None)
    floor = -1 if cp is None else cp[0]
    comp_end = max([y for _x, y, _f in _compaction_files(log_dir)],
                   default=-1)
    lo = max(floor, comp_end) + 1
    have = set(versions)
    # oldest contiguous full span past the floor
    while lo + span - 1 <= versions[-1]:
        window = list(range(lo, lo + span))
        if all(v in have for v in window):
            return compact_delta_log(path, lo, lo + span - 1)
        # a hole below means those commits are gone (retention);
        # restart the span search past it
        missing = [v for v in window if v not in have]
        lo = missing[-1] + 1
    return None


def compact_delta_log(path: str, start: int, end: int) -> str:
    """Write a LOG-COMPACTION file ``<start>.<end>.compacted.json``
    (PROTOCOL.md: Log Compaction Files) holding the action-
    reconciliation of commits [start, end]: net live adds, remove
    tombstones, the range's latest ``metaData``/``protocol``, and the
    newest ``txn`` per appId — actions re-emitted with their ORIGINAL
    encoded paths so the compaction is byte-compatible with what a
    real writer's reconciliation would keep. Readers (this module's
    :func:`_tail_units` and spec-following foreign ones) substitute
    the file for the covered commits, so a high-cadence streaming
    table's tail replay opens O(tail / compaction-span) files; it also
    keeps a log readable after the covered per-commit JSONs are
    retention-cleaned without forcing a full checkpoint.

    Every version in [start, end] must exist as a JSON commit (a
    compaction is built FROM commits; compacting over a gap would bake
    the gap's absence in silently). Atomic: temp-file + rename."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        log_dir = path if os.path.basename(path) == "_delta_log" \
            else log_dir
    if start > end or start < 0:
        raise ValueError(f"invalid compaction range [{start}, {end}]")
    have = set(_log_versions(log_dir))
    missing = [v for v in range(start, end + 1) if v not in have]
    if missing:
        raise ValueError(
            f"cannot compact [{start}, {end}] in {log_dir}: commit "
            f"JSON missing for version(s) {missing[:5]}")
    live, dead, meta, proto, txns = _tail_replay(
        log_dir, list(range(start, end + 1)))

    def _raw(action: dict) -> dict:
        out = {k: v for k, v in action.items()
               if k not in ("path", "path_enc", "dv")}
        out["path"] = action["path_enc"]
        return out

    lines: list[str] = []
    if proto is not None:
        lines.append(json.dumps({"protocol": proto}))
    if meta is not None:
        lines.append(json.dumps({"metaData": meta}))
    for app in sorted(txns):
        lines.append(json.dumps({"txn": txns[app]}))
    for p in sorted(dead):
        lines.append(json.dumps({"remove": _raw(dead[p])}))
    for p in sorted(live):
        lines.append(json.dumps({"add": _raw(live[p])}))
    name = f"{start:020d}.{end:020d}.compacted.json"
    tmp = os.path.join(log_dir, f".tmp-{_uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(log_dir, name))
    return os.path.join(log_dir, name)


def read_delta_dir(spark: SparkSession, path: str,
                   version: int | None = None,
                   verify: bool = True,
                   where: str | None = None,
                   timestamp: float | None = None,
                   range_filter: tuple | None = None) -> DataFrame:
    """Read a Delta-format directory (real delta-spark output or
    :func:`export_delta_log`'s) with plain Spark: reconstruct the
    snapshot DISTRIBUTED (checkpoint DataFrame + JSON-tail anti-join,
    :func:`_snapshot_state`), then ONE parquet scan whose path list is
    the MANIFEST'S PARENT DIRECTORIES (bounded by partition count —
    never a million-file argument list), with partition columns joined
    back from ``partitionValues`` on the decoded
    ``_metadata.file_path``.

    ``verify=True`` (default) lists each manifest directory driver-side
    before the scan: a logged file missing on disk (vacuumed data, a
    path-encoding drift) raises with the missing names instead of
    silently dropping rows, stray non-manifest files route their
    directory to an explicit-file scan, and the partition-attach join
    carries an in-plan ``raise_error`` guard against a join-key
    mismatch. The listing costs O(live files) driver-side stat calls —
    a 100 TB object-store deployment passes ``verify=False`` and keeps
    only the bounded directory collect (strays are then filtered by an
    inner manifest join instead).

    ``where`` (r14) is a PARTITION-predicate pushdown — SQL over the
    table's partition columns only, evaluated TYPED against each add
    action's ``partitionValues`` on the distributed manifest BEFORE
    any listing or scanning (Delta's partition pruning): a
    ``year >= '2024'`` read of a decade-deep foreign table plans only
    the matching files' directories, exactly what the engine's own
    :meth:`~.txnlog.TxnTable.read_partitions_where` does for txn
    tables. Predicates needing data columns refuse loudly.

    ``timestamp`` (epoch seconds, r14) is Delta's ``timestampAsOf``:
    the snapshot at the largest retained version whose commit
    timestamp is at/below it (mutually exclusive with ``version``).

    ``range_filter=(col, lo, hi)`` (r14) is Delta DATA SKIPPING: files
    whose per-file ``stats`` bounds prove no row can satisfy
    ``lo <= col <= hi`` (either bound may be None) drop from the
    manifest before listing/scanning, and the exact residual filter
    applies after the scan — equals ``read().filter(lo <= col <= hi)``
    whatever the stats coverage (a file without stats is always
    scanned; bounds are conservative). The column is a LOGICAL name;
    stats keys are physical under column mapping."""
    from pyspark.sql.types import StructType

    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"not a Delta table (no _delta_log): {path}")
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "read_delta_dir: pass version OR timestamp, not both")
        version = _version_at_timestamp(log_dir, timestamp)
    adds, meta, _, proto_, _ = _snapshot_state(spark, log_dir,
                                               version)
    if meta is None:
        raise ValueError(f"no metaData action found in {log_dir}")
    _check_reader_features(proto_, "read_delta_dir")
    cm_mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none") or "none"
    if cm_mode not in ("none", "name", "id"):
        raise ValueError(
            f"read_delta_dir: unknown column mapping mode {cm_mode!r}"
            " — read via delta-spark")

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    # 'name' mode: files store PHYSICAL column names (Delta's rename/
    # drop indirection); the schema's field metadata carries the
    # logical->physical map. Read by physical name, rename back, and
    # look partitionValues up by physical key (the spec keys them
    # physically; exports from pre-mapping writers key logically, so
    # fall back). 'id' mode (r14 session 3) resolves by PARQUET FIELD
    # ID instead: Spark's native reader does exactly that when the
    # requested schema carries ``parquet.field.id`` metadata and
    # ``spark.sql.parquet.fieldId.read.enabled`` is on, so the scan
    # requests the LOGICAL names directly with each field's
    # ``delta.columnMapping.id`` attached — no rename pass, and a file
    # whose footer names drifted from physicalName still resolves
    # (that is id mode's whole point). partitionValues stay keyed by
    # physical name in both modes.
    phys = {f.name: (f.metadata or {}).get(
        "delta.columnMapping.physicalName", f.name)
        for f in schema.fields} if cm_mode in ("name", "id") else {
        f.name: f.name for f in schema.fields}
    if cm_mode == "id":
        missing_ids = [
            f.name for f in schema.fields if f.name not in part_cols
            and (f.metadata or {}).get("delta.columnMapping.id") is None]
        if missing_ids:
            raise ValueError(
                "read_delta_dir: column mapping mode 'id' but fields "
                f"{missing_ids!r} carry no delta.columnMapping.id — "
                "corrupt metaData")
        data_schema = StructType(
            [f.__class__(
                f.name, f.dataType, f.nullable,
                {"parquet.field.id":
                 int(f.metadata["delta.columnMapping.id"])})
             for f in schema.fields if f.name not in part_cols])
        # session-level toggle (there is no per-scan option); harmless
        # to leave on — schemas without parquet.field.id metadata are
        # resolved by name exactly as before, and a field-id-less file
        # under an id-requesting schema fails loudly (ignoreMissing
        # stays false)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
                       "true")
    else:
        data_schema = StructType(
            [f.__class__(phys[f.name], f.dataType, f.nullable)
             for f in schema.fields if f.name not in part_cols])

    if where is not None:
        # partition pruning on the DISTRIBUTED manifest: type each
        # partitionValues entry per the schema and filter the adds
        # frame itself — files outside the predicate never reach the
        # listing, the dir collect, or the scan (Delta's partition
        # filter semantics; the predicate must resolve over the
        # partition columns alone)
        from pyspark.errors import AnalysisException

        if not part_cols:
            raise ValueError(
                f"read_delta_dir(where={where!r}) on an unpartitioned "
                "table — filter the returned DataFrame instead")
        pv0 = F.col("partitionValues")
        typed_cols = [
            F.coalesce(pv0[phys[f.name]], pv0[f.name])
            .cast(f.dataType).alias(f.name)
            for f in schema.fields if f.name in part_cols]
        # VALIDATE the predicate against a LINEAGE-FREE empty frame of
        # the partition columns alone before evaluating: Spark's
        # missing-reference resolution lets df.select(keys).filter(x)
        # reach THROUGH the select into the child plan, so a predicate
        # naming a manifest column (a data column called 'size', a
        # typo'd 'path') would resolve silently against FILE metadata
        # and return a wrong subset — the detached probe has no child
        # to fall back to and refuses like any data column.
        from pyspark.sql.types import StructType as _ST

        probe = spark.createDataFrame([], _ST(
            [f for f in schema.fields if f.name in part_cols]))
        try:
            probe.filter(F.expr(where))
        except AnalysisException as e:
            raise ValueError(
                f"read_delta_dir: where={where!r} must range over the "
                f"partition columns {part_cols!r} alone — row-level "
                "filters belong on the returned DataFrame") from e
        flt = (adds.select(F.col("path").alias("__mfp"), *typed_cols)
               .filter(F.expr(where))
               .select(F.col("__mfp").alias("path")))
        adds = adds.join(flt, "path", "left_semi")

    if range_filter is not None:
        rcol, rlo, rhi = range_filter
        rfld = next((f for f in schema.fields if f.name == rcol), None)
        if rfld is None:
            raise ValueError(
                f"range_filter column {rcol!r} is not in the table "
                f"schema {[f.name for f in schema.fields]}")
        if rcol in part_cols:
            raise ValueError(
                f"range_filter column {rcol!r} is a partition key — "
                "use where= (metadata pruning) instead")
        # file skipping on the DISTRIBUTED manifest: drop files whose
        # stats bounds prove emptiness; missing stats scan (bounds are
        # conservative, the residual filter below keeps it exact)
        pcol = phys[rcol]
        smin = F.get_json_object(
            "stats", f"$.minValues.{pcol}").cast(rfld.dataType)
        smax = F.get_json_object(
            "stats", f"$.maxValues.{pcol}").cast(rfld.dataType)
        mask = F.lit(True)
        if rlo is not None:
            mask = mask & (smax.isNull() | (smax >= F.lit(rlo)))
        if rhi is not None:
            mask = mask & (smin.isNull() | (smin <= F.lit(rhi)))
        adds = adds.filter(mask)

    def _residual(out_df: DataFrame) -> DataFrame:
        if range_filter is None:
            return out_df
        c, lo, hi = range_filter
        if lo is not None:
            out_df = out_df.filter(F.col(c) >= lo)
        if hi is not None:
            out_df = out_df.filter(F.col(c) <= hi)
        return out_df

    root = os.path.abspath(path)
    dirred = adds.withColumn(
        "__dir", F.when(F.instr("path", "/") > 0, F.regexp_replace(
            "path", "/[^/]*$", "")).otherwise(F.lit("")))
    # bounded collect: one row per live parent DIRECTORY (the
    # partition-count-shaped manifest); file NAMES ride along only
    # under verify (the listing comparison needs them) — the
    # verify=False path collects just the distinct dirs. The same
    # single job also counts DV-bearing adds and sums their descriptor
    # cardinalities (what the anti-join below sizes its broadcast
    # decision on) — no extra pass over the manifest.
    dv_agg = [
        F.sum(F.when(F.col("dv").isNotNull(), 1).otherwise(0))
        .alias("dvn"),
        F.sum(F.coalesce(F.get_json_object("dv", "$.cardinality")
                         .cast("bigint"), F.lit(0))).alias("dvc")]
    if verify:
        rows = dirred.groupBy("__dir").agg(
            F.collect_list(F.regexp_replace(
                "path", "^.*/", "")).alias("fs"), *dv_agg).collect()
        per_dir: dict[str, list[str]] = {r["__dir"]: r["fs"]
                                         for r in rows}
        n_files = sum(len(v) for v in per_dir.values())
    else:
        rows = dirred.groupBy("__dir").agg(
            F.count("*").alias("n"), *dv_agg).collect()
        per_dir = {r["__dir"]: [] for r in rows}
        n_files = sum(r["n"] for r in rows)
    n_dv_files = sum(r["dvn"] for r in rows)
    dv_cardinality = sum(r["dvc"] for r in rows)
    if not per_dir:
        return spark.createDataFrame([], schema)
    dirs = sorted(per_dir)
    # dirs needing an explicit-file scan instead of a dir scan: the
    # table root (a recursive root scan would swallow _delta_log), a
    # dir that path-prefixes another manifest dir (a recursive scan
    # would double-read the nested one's files), and under verify any
    # dir holding stray files or subdirectories
    problem = {d for d in dirs if d == ""}
    from bisect import bisect_left
    for d in dirs:
        if not d:
            continue
        # a dir that path-prefixes ANY other manifest dir (not just
        # the lexicographic neighbor — 'data-old' sorts between
        # 'data' and 'data/part') must scan file-explicit, or its
        # recursive scan double-reads the nested dir's files
        i = bisect_left(dirs, d + "/")
        if i < len(dirs) and dirs[i].startswith(d + "/"):
            problem.add(d)
    if verify:
        for d in dirs:
            absd = os.path.join(root, d) if d else root
            want = set(per_dir[d])
            if not os.path.isdir(absd):
                raise ValueError(
                    f"read_delta_dir: logged directory missing on "
                    f"disk: {absd} (vacuumed data files or a "
                    "path-encoding drift between the log and the "
                    "filesystem)")
            on_disk = set()
            stray = False
            for entry in os.listdir(absd):
                if os.path.isdir(os.path.join(absd, entry)):
                    stray = True  # nested dirs: recursive scan would
                    # swallow their files
                elif entry in want:
                    on_disk.add(entry)
                elif entry[:1] not in ("_", "."):
                    # ANY non-hidden non-manifest file is a stray —
                    # not just dead parquet: a tool-dropped notes.txt
                    # would fail a whole-directory parquet scan
                    # (Spark's path filter skips only _ and . names)
                    stray = True
            missing = want - on_disk
            if missing:
                raise ValueError(
                    f"read_delta_dir: {len(missing)} logged file(s) "
                    f"missing under {absd}: "
                    f"{sorted(missing)[:3]}… — vacuumed data files "
                    "or a path-encoding drift between the log and "
                    "the filesystem")
            if d and stray:
                problem.add(d)
    scan_paths = [os.path.join(root, d) for d in dirs
                  if d not in problem]
    if problem:
        scan_paths += [
            os.path.join(root, r["path"]) for r in
            dirred.filter(F.col("__dir").isin(sorted(problem)))
            .select("path").collect()]
    df = (spark.read.schema(data_schema)
          .option("recursiveFileLookup", "true")
          .parquet(*scan_paths)
          .withColumn("__fp", _decode_path_col(F.regexp_replace(
              F.col("_metadata.file_path"),
              "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/"))))
    if cm_mode == "name":  # id mode already scanned by logical name
        for fld in schema.fields:
            if fld.name not in part_cols and phys[fld.name] != fld.name:
                df = df.withColumnRenamed(phys[fld.name], fld.name)
    if n_dv_files:
        # deletion vectors: anti-join the masked (file, row_index)
        # pairs out of the scan — the exact shape txnlog._apply_dvs
        # uses for the engine's own DVs. The positions side is sized
        # by the descriptors' summed cardinality (known from the
        # manifest collect above): broadcast while it fits an
        # executor's hash side comfortably, else a shuffled join.
        positions = _dv_positions_frame(spark, adds, root)
        if dv_cardinality <= 2_000_000:
            positions = F.broadcast(positions)
        df = (df.withColumn("__ri", F.col("_metadata.row_index"))
              .join(positions, ["__fp", "__ri"], "left_anti")
              .drop("__ri"))
    keep = [f.name for f in schema.fields]
    need_liveness = not verify  # verified dirs scan exactly the manifest
    if not part_cols and not need_liveness:
        return _residual(df.drop("__fp").select(*keep))

    # file -> partition values mapping, built FROM the distributed adds
    # frame (never a driver-side row list); physical partitionValues
    # keys take precedence, logical keys are the pre-mapping fallback
    pv = F.col("partitionValues")
    mapping = adds.select(
        F.concat(F.lit(root + "/"), F.col("path")).alias("__fp"),
        F.lit(True).alias("__live"),
        *[F.coalesce(pv[phys[c]], pv[c]).alias(c) for c in part_cols])
    for fld in schema.fields:
        if fld.name in part_cols:
            mapping = mapping.withColumn(
                fld.name, F.col(fld.name).cast(fld.dataType))
    # the mapping frame is bounded by live-file count (known from the
    # dir manifest — no extra job); broadcast while broadcast-sized,
    # else let AQE pick the join strategy
    mapping = F.broadcast(mapping) if n_files <= 200_000 else mapping
    if need_liveness and not part_cols:
        return _residual(
            df.join(mapping.select("__fp"), "__fp", "left_semi")
            .drop("__fp").select(*keep))
    if need_liveness:
        out = df.join(mapping, "__fp")
    else:
        # verified scan == manifest: a left join plus an in-plan
        # raise_error guard turns any join-key normalization mismatch
        # into a loud failure instead of silently dropped rows
        out = df.join(mapping, "__fp", "left")
        guard = F.when(
            F.col("__live").isNull(),
            F.raise_error(F.concat(
                F.lit("read_delta_dir: scanned file failed to match "
                      "the manifest join key (path normalization "
                      "drift): "), F.col("__fp"))))
        out = out.select(
            *[c for c in out.columns if c not in part_cols],
            *[F.coalesce(F.col(c), guard.cast(
                dict((f.name, f.dataType) for f in
                     schema.fields)[c])).alias(c)
              for c in part_cols])
    return _residual(out.select(*keep))


def _cdf_empty(spark: SparkSession, schema) -> DataFrame:
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return spark.createDataFrame([], StructType(
        list(schema.fields)
        + [StructField("_change_type", StringType(), True),
           StructField("_commit_version", LongType(), True),
           StructField("_commit_timestamp", LongType(), True)]))


def read_delta_changes(spark: SparkSession, path: str,
                       since_version: int,
                       upto: int | None = None) -> DataFrame:
    """Delta CHANGE DATA FEED read over a Delta-format directory (real
    delta-spark output or :func:`export_delta_log`'s) with plain
    Spark: every row changed by commits AFTER ``since_version``
    (through ``upto`` inclusive when given), with ``_change_type``,
    ``_commit_version``, and ``_commit_timestamp`` — the same contract
    as ``table_changes`` / ``readChangeFeed``.

    Per-commit semantics follow the spec exactly: when a commit
    carries ``cdc`` actions, they are the COMPLETE row-level record
    for that commit (its add/remove actions are ignored for CDF);
    otherwise the feed DERIVES — every ``dataChange=true`` add's rows
    are inserts and every ``dataChange=true`` remove's rows are
    deletes (the remove's file must still exist — tombstoned data
    files are only reclaimed by vacuum after the retention window,
    which is exactly the window CDF reads are valid in; a vacuumed
    file raises rather than silently dropping deletes). A derive-mode
    commit whose adds carry deletion vectors raises (its row-level
    delta exists only as bitmaps) — resync from a snapshot, Delta's
    own behavior for DV writes without CDC.

    Partition columns attach from each action's ``partitionValues``
    when the file doesn't carry them (real Delta CDC files never do;
    this module's verbatim-exported change files do — both shapes
    read). The driver-side walk is bounded by the requested version
    RANGE — the shape every CDF consumer has — never table size."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"not a Delta table (no _delta_log): {path}")
    from pyspark.sql.types import StructType

    anchor = upto
    _, meta, _, proto_, _ = _snapshot_state(spark, log_dir, anchor)
    if meta is None:
        raise ValueError(f"no metaData action found in {log_dir}")
    _check_reader_features(proto_, "read_delta_changes")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    # physicalName metadata is the rename key under EITHER mapping
    # mode (id-mode cdc files are physical-named too)
    phys = {f.name: (f.metadata or {}).get(
        "delta.columnMapping.physicalName", f.name)
        for f in schema.fields}
    root = os.path.abspath(path)
    jsons = set(_log_versions(log_dir))
    known_max = max([*jsons, since_version,
                     *[y for _x, y, _f in _compaction_files(log_dir)]])
    hi = known_max if upto is None else min(upto, known_max)
    missing = [v for v in range(since_version + 1, hi + 1)
               if v not in jsons]
    if missing:
        # CDF needs PER-COMMIT granularity: a commit JSON gone to log
        # compaction or retention cleanup cannot be derived from the
        # net state — silently skipping it would drop its changes
        raise ValueError(
            f"change feed for ({since_version}, {hi}] in {log_dir}: "
            f"commit JSON missing for version(s) {missing[:5]} "
            "(log-compacted or retention-cleaned) — resync from a "
            "snapshot at or after the missing range")
    versions = [v for v in jsons
                if v > since_version and (upto is None or v <= upto)]

    def _attach(df: DataFrame, entries: list[tuple[str, dict]],
                ctype: str | None) -> DataFrame:
        """Rename physical columns back, attach partition columns
        from partitionValues where the files don't carry them, and
        project to the table schema (+_change_type)."""
        for fld in schema.fields:
            p = phys[fld.name]
            if p != fld.name and p in df.columns \
                    and fld.name not in df.columns:
                df = df.withColumnRenamed(p, fld.name)
        missing = [c for c in part_cols if c not in df.columns]
        if missing:
            pmap = spark.createDataFrame(
                [(root + "/" + e, {k: v for k, v in (pv or {}).items()})
                 for e, pv in entries],
                "__fp string, __pv map<string,string>") \
                .withColumn("__hit", F.lit(True))
            df = (df.withColumn("__fp", _decode_path_col(
                F.regexp_replace(F.col("_metadata.file_path"),
                                 "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")))
                .join(F.broadcast(pmap), "__fp", "left"))
            # a scanned change file that misses the action mapping is
            # path-normalization drift — raise in-plan, never
            # silently null partition values (ADVICE r13 join class)
            guard = F.when(
                F.col("__hit").isNull(),
                F.raise_error(F.concat(F.lit(
                    "read_delta_changes: scanned file failed to "
                    "match its action's partitionValues: "),
                    F.col("__fp"))))
            for c in missing:
                df = df.withColumn(
                    c, F.coalesce(F.col("__pv")[phys[c]],
                                  F.col("__pv")[c],
                                  guard.cast("string")))
        typed = [F.col(f.name).cast(f.dataType).alias(f.name)
                 for f in schema.fields]
        ct = (F.lit(ctype) if ctype is not None
              else F.col("_change_type"))
        return df.select(*typed, ct.alias("_change_type"))

    frames = []
    for v in versions:
        cdc: list[tuple[str, dict]] = []
        adds: list[tuple[str, dict]] = []
        rems: list[tuple[str, dict]] = []
        dv_add = False
        ts = None
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "cdc" in action:
                    a = action["cdc"]
                    cdc.append((_urlunquote(a["path"]),
                                a.get("partitionValues")))
                elif "add" in action:
                    a = action["add"]
                    if a.get("dataChange", True):
                        adds.append((_urlunquote(a["path"]),
                                     a.get("partitionValues")))
                        dv_add = dv_add or bool(a.get("deletionVector"))
                elif "remove" in action:
                    r = action["remove"]
                    if r.get("dataChange", True):
                        rems.append((_urlunquote(r["path"]),
                                     r.get("partitionValues")))
                elif "commitInfo" in action:
                    _ci = action["commitInfo"]
                    ts = _ci.get("inCommitTimestamp",
                                 _ci.get("timestamp"))
        if ts is None:
            ts = int(os.path.getmtime(
                os.path.join(log_dir, f"{v:020d}.json")) * 1000)

        def _scan(entries):
            missing = [e for e, _ in entries if not os.path.isfile(
                os.path.join(root, e))]
            if missing:
                raise ValueError(
                    f"read_delta_changes: version {v} references "
                    f"file(s) gone from disk (vacuumed?): "
                    f"{missing[:3]}… — the change window exceeds the "
                    "retention window; resync from a snapshot read")
            return (spark.read.option("mergeSchema", "true")
                    .parquet(*[os.path.join(root, e)
                               for e, _ in entries]))

        if cdc:
            frames.append(_attach(_scan(cdc), cdc, None)
                          .withColumn("_commit_version", F.lit(v))
                          .withColumn("_commit_timestamp", F.lit(ts)))
            continue
        if dv_add:
            raise ValueError(
                f"read_delta_changes: version {v} is a deletion-"
                "vector write with no cdc actions — its row-level "
                "delta exists only as bitmaps; resync from a "
                "snapshot read")
        for entries, ctype in ((adds, "insert"), (rems, "delete")):
            if entries:
                frames.append(
                    _attach(_scan(entries), entries, ctype)
                    .withColumn("_commit_version", F.lit(v))
                    .withColumn("_commit_timestamp", F.lit(ts)))
    if not frames:
        return _cdf_empty(spark, schema)
    from functools import reduce

    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        frames)


def read_delta_txn_versions(spark: SparkSession,
                            path: str) -> dict[str, int]:
    """Latest SetTransaction version per application id (Delta's
    ``txn`` actions — PROTOCOL.md: Transaction Identifiers), from the
    checkpoint + JSON tail: the idempotence watermark a foreign
    exactly-once writer checks before re-applying a micro-batch. The
    exported logs carry one per streaming-sink commit
    (stream_app_id / stream_batch_id)."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"not a Delta table (no _delta_log): {path}")
    _, _, _, _, txns = _snapshot_state(spark, log_dir, None)
    return {app: int(t["version"]) for app, t in txns.items()
            if t.get("version") is not None}
