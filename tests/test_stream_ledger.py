"""The stream-batch ledger is part of TxnTable's write contract: one
exactly-once append path for every streaming sink.

A replayed ``(stream_app_id, stream_batch_id)`` is terminal in every
append branch — plain, partition-declared and identity: no new version,
no leaked data dir, no commit retry and no backoff. Every streaming
append leg goes through ``TxnTable.append``, so neither a racing
replica nor a lost version race leaves an unreferenced data dir.
Structural checks keep the ledger lookups and hand-built stream metas
inside ``sources/txnlog.py``, append-shaped commits inside
``sources/``, ``writeStream.foreachBatch`` inside the one starter, no
Python data source anywhere, and the single-source view high-water
fold inside ``operators/mv.py``, and
every lost-race retry inside ``TxnTable._transact``, so per-sink
copies cannot come back."""

from __future__ import annotations

import ast
import os
import re

import pytest

import sport_advantages_moderne_data_infrastructure_spark as pkg
from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (
    AggMaterializedView,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnConflictError,
    TxnTable,
    _commit_root,
    _stream_meta,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming import (
    annindex,
    bm25,
    cc,
    distinct,
    quantiles,
    scd2,
    semdedup,
    sketches,
    splits,
)


def _table(tmp_path, layout: str) -> TxnTable:
    t = TxnTable(str(tmp_path / layout))
    if layout.startswith("partitioned"):
        t.set_partition_column("day")
    elif layout == "identity":
        t.set_identity_column("rid")
    return t


def _bypass_first_ledger_check(t: TxnTable, monkeypatch) -> None:
    """Make ``append``'s up-front ledger check miss once — the state of
    a replica that checked before a racer committed the same batch — so
    the refusal comes from the ledger check inside ``commit``."""
    real = t._replays
    calls = {"n": 0}

    def _replays(meta):
        calls["n"] += 1
        return False if calls["n"] == 1 else real(meta)

    monkeypatch.setattr(t, "_replays", _replays)


@pytest.mark.parametrize("race", [False, True], ids=["replay", "race"])
@pytest.mark.parametrize("layout", ["plain", "partitioned", "identity",
                                    "partitioned-0rows"])
def test_replayed_batch_is_terminal(spark, tmp_path, monkeypatch,
                                    layout, race):
    t = _table(tmp_path, layout)
    df = spark.createDataFrame([(1, 0), (2, 1)], "id int, day int")
    # the replayed frame: the same rows, or none on "-0rows" (a 0-row
    # partitioned write has no adds to publish or reclaim)
    replayed = df.limit(0) if layout.endswith("-0rows") else df
    meta = _stream_meta(0, "rt", "stream_append")
    assert t.append(df, meta) == 0
    data_root = os.path.join(t.path, "data")
    dirs = set(os.listdir(data_root))

    calls = {"commit": 0, "backoff": 0}
    real_commit = t.commit

    def counting_commit(*a, **k):
        calls["commit"] += 1
        return real_commit(*a, **k)

    def counting_backoff(attempt):
        calls["backoff"] += 1

    monkeypatch.setattr(t, "commit", counting_commit)
    monkeypatch.setattr(t, "_conflict_backoff", counting_backoff)
    if race:
        _bypass_first_ledger_check(t, monkeypatch)

    assert t.append(replayed, dict(meta)) is None
    assert t.latest_version() == 0
    assert set(os.listdir(data_root)) == dirs
    assert calls["commit"] == (1 if race else 0)
    assert calls["backoff"] == 0
    assert t.read(spark).count() == 2
    # the next batch commits normally
    assert t.append(df, _stream_meta(1, "rt", "stream_append")) == 1


# -- every streaming append leg: no orphaned data dir ----------------------

_CENTROIDS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
_CODEBOOKS = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.0], [0.0, 1.0]]]


def _vals(spark):
    return spark.createDataFrame(
        [(i % 3, i) for i in range(12)], "g int, v long")


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"streamed document {i % 3} about lakehouse sinks, copy {i}")
         for i in range(6)], "doc_id long, text string")


def _vecs(spark):
    return spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0, 0.2] if i % 2 else [0.1 * i, 1.0, 0.3, 0.0])
         for i in range(8)], "vec_id long, embedding array<double>")


def _scd2(spark, root, delivery):
    src = os.path.join(root, "src")
    schema = "k long, attr string, ts long, tie long"
    if not os.path.exists(src):
        spark.createDataFrame([(i % 3, f"a{i % 2}", i, i) for i in range(6)],
                              schema).write.parquet(src)
    # a fresh checkpoint per delivery: the second run replays batch 0
    q = scd2.write_stream_scd2(
        spark.readStream.schema(schema).parquet(src),
        os.path.join(root, "raw"), os.path.join(root, "dim"),
        os.path.join(root, f"ck{delivery}"), "k", "attr", "ts", "tie",
        n_buckets=4, app_id="orph")
    q.awaitTermination(120)


def _distinct(spark, root, _):
    distinct.ingest_batch(*distinct._tables(root), _vals(spark), 0, "v",
                          app_id="orph", group_col="g")


def _mg(spark, root, _):
    sketches.ingest_batch(*sketches._tables(root), _vals(spark), 0, "v", 4,
                          "orph")


def _mg_grouped(spark, root, _):
    sketches.ingest_batch_grouped(*sketches._tables(root), _vals(spark), 0,
                                  "g", "v", 4, "orph")


def _quantiles(spark, root, _):
    quantiles.ingest_batch(*quantiles._tables(root), _vals(spark), 0, "v",
                           0.0, 12.0, 4, "orph")


def _bm25(spark, root, _):
    bm25.ingest_batch(TxnTable(os.path.join(root, "postings")),
                      bm25.make_df_view(root, 4), _docs(spark), 0, "orph")


def _splits(spark, root, _):
    splits.ingest_batch(root, _docs(spark), 0, "orph")


def _cc(spark, root, _):
    batch = spark.createDataFrame([(1, None), (2, None), (3, None), (2, 1)],
                                  "doc_id long, nbr long")
    cc.ingest_batch(*cc._tables(root), batch, 0, "orph")


def _ivf(spark, root, _):
    annindex.ingest_batch(TxnTable(os.path.join(root, "index")),
                          _vecs(spark), _CENTROIDS, 0, "orph")


def _ivfpq(spark, root, _):
    annindex.ingest_batch_pq(TxnTable(os.path.join(root, "index")),
                             _vecs(spark), _CENTROIDS, _CODEBOOKS, 0, "orph")


def _semdedup(spark, root, _):
    semdedup.ingest_batch(root, _vecs(spark), _CENTROIDS, 0, "orph")


def _agg_init(spark, root, _):
    src = TxnTable(os.path.join(root, "src"))
    if src.latest_version() is None:
        src.append(_vals(spark))
    AggMaterializedView(os.path.join(root, "view"), "g", "v").initialize_empty(
        spark, src, _stream_meta(0, "orph", "final_pipe_agg_init"))


_LEGS = {
    "scd2_raw": (_scd2, "raw"),
    "distinct_events": (_distinct, "events"),
    "mg_events": (_mg, "events"),
    "mg_grouped_events": (_mg_grouped, "events"),
    "quantiles_vals": (_quantiles, "vals"),
    "bm25_postings": (_bm25, "postings"),
    "splits_postings": (_splits, "postings"),
    "splits_bands": (_splits, "bands"),
    "cc_assign": (_cc, "assign"),
    "cc_remap": (_cc, "remap"),
    "ivf_index": (_ivf, "index"),
    "ivfpq_index": (_ivfpq, "index"),
    "semdedup_index": (_semdedup, "index"),
    "semdedup_pruned": (_semdedup, "pruned"),
    "agg_view_init": (_agg_init, "view"),
}


@pytest.mark.parametrize("leg", sorted(_LEGS))
def test_append_leg_leaves_no_orphan_dirs(spark, tmp_path, monkeypatch,
                                          leg):
    """The first delivery of a batch loses one version race on the leg's
    table; a replica of the same batch then races it (its up-front
    ledger check reads stale, so the refusal comes from ``commit``).
    Afterwards every dir under the table's ``data/`` is a commit root
    the log references."""
    run, table = _LEGS[leg]
    root = str(tmp_path / "root")
    target = os.path.abspath(os.path.join(root, table))
    real_commit, real_replays = TxnTable.commit, TxnTable._replays
    lose, stale = {"n": 1}, {"n": 0}

    def _ours(t, meta):
        return (os.path.abspath(t.path) == target
                and (meta or {}).get("stream_batch_id") is not None)

    def _commit(self, adds, removes, meta=None, *a, **k):
        if _ours(self, meta) and lose["n"]:
            lose["n"] -= 1
            raise TxnConflictError("injected lost version race")
        return real_commit(self, adds, removes, meta, *a, **k)

    def _replays(self, meta):
        if _ours(self, meta) and stale["n"]:
            stale["n"] -= 1
            return False
        return real_replays(self, meta)

    monkeypatch.setattr(TxnTable, "commit", _commit)
    monkeypatch.setattr(TxnTable, "_replays", _replays)
    run(spark, root, 0)
    assert lose["n"] == 0
    t = TxnTable(target)
    v = t.latest_version()
    stale["n"] = 1
    run(spark, root, 1)
    # initialize_empty returns before any ledger check once the view
    # exists, so its replica never writes
    assert stale["n"] == (1 if leg == "agg_view_init" else 0)
    assert t.latest_version() == v
    referenced = {_commit_root(a) for n in range(v + 1)
                  for a in t._doc(n)["adds"]}
    on_disk = {os.path.join("data", d)
               for d in os.listdir(os.path.join(target, "data"))}
    assert on_disk <= referenced, sorted(on_disk - referenced)


_PKG_ROOT = os.path.dirname(pkg.__file__)
_LEDGER_HOME = os.path.join("sources", "txnlog.py")
_FORBIDDEN = {
    "ledger lookup": re.compile(r"\.max_stream_batch_id\("),
    "hand-built stream meta": re.compile(
        r"""["']stream_batch_id["']\s*:"""
        r"""|\[\s*["']stream_batch_id["']\s*\]\s*=[^=]"""
        r"""|\bdict\([^)]*\bstream_batch_id\s*="""),
}


def _package_modules():
    """(path relative to the package root, source) of every module."""
    for root, _, files in os.walk(_PKG_ROOT):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    yield os.path.relpath(path, _PKG_ROOT), fh.read()


def _calls(tree, attr: str):
    return [n for n in ast.walk(tree) if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute) and n.func.attr == attr]


#: the formats the package's retired Python data sources registered
_PYTHON_FORMATS = {"txnlog", "delta_dir", "txnversions"}


def _python_source_hits(rel: str, tree) -> list[str]:
    """Where ``tree`` imports ``pyspark.sql.datasource``, subclasses a
    ``DataSource*`` class or reads/writes a Python data source format."""
    hits = []
    for n in ast.walk(tree):
        mods = ([f"{n.module}.{a.name}" for a in n.names]
                if isinstance(n, ast.ImportFrom)
                else [a.name for a in n.names]
                if isinstance(n, ast.Import) else [])
        if any(m.startswith("pyspark.sql.datasource") for m in mods):
            hits.append(f"{rel}:{n.lineno}: imports pyspark.sql.datasource")
        elif isinstance(n, ast.ClassDef) and any(
                "DataSource" in str(getattr(b, "id", getattr(b, "attr", "")))
                for b in n.bases):
            hits.append(f"{rel}:{n.lineno}: DataSource subclass {n.name}")
    hits += [f"{rel}:{c.lineno}: format({c.args[0].value!r})"
             for c in _calls(tree, "format")
             if c.args and getattr(c.args[0], "value", None)
             in _PYTHON_FORMATS]
    return hits


def test_one_append_path_and_one_starter():
    """Outside ``sources/`` no code makes an append-shaped
    ``commit(adds, [], ...)`` or ``_Txn(adds, [], ...)`` or calls
    ``_commit_blind`` (append legs call ``TxnTable.append``), no
    ``_guarded_commit`` leg appends, only
    ``pipeline._start_foreach_batch`` calls ``writeStream.foreachBatch``,
    and no module of the package, nor ``bench.py``, imports
    ``pyspark.sql.datasource``, subclasses a ``DataSource`` or calls
    ``.format("txnlog")``/``.format("delta_dir")``: every
    transactional-table stream reads and writes through Spark's own
    sources (``TxnTable.append``/``read_changes``,
    ``pipeline._start_change_feed``). Parsed, so docstring usage
    examples do not count."""
    bench = os.path.join(os.path.dirname(_PKG_ROOT), "bench.py")
    with open(bench) as fh:
        hits = _python_source_hits("bench.py", ast.parse(fh.read()))
    for rel, src in _package_modules():
        tree = ast.parse(src)
        hits += _python_source_hits(rel, tree)
        starter = {id(c) for f in ast.walk(tree)
                   if isinstance(f, ast.FunctionDef)
                   and f.name == "_start_foreach_batch"
                   and rel == os.path.join("streaming", "pipeline.py")
                   for c in _calls(f, "foreachBatch")}
        for c in _calls(tree, "foreachBatch"):
            if (isinstance(c.func.value, ast.Attribute)
                    and c.func.value.attr == "writeStream"
                    and id(c) not in starter):
                hits.append(f"{rel}:{c.lineno}: writeStream.foreachBatch "
                            "outside _start_foreach_batch")
        if rel.startswith("sources" + os.sep):
            continue
        txns = [c for c in ast.walk(tree) if isinstance(c, ast.Call)
                and isinstance(c.func, ast.Name) and c.func.id == "_Txn"]
        for c in _calls(tree, "commit") + txns:
            if (len(c.args) >= 2 and isinstance(c.args[1], ast.List)
                    and not c.args[1].elts):
                hits.append(f"{rel}:{c.lineno}: append-shaped commit")
        defs = {f.name: f for f in ast.walk(tree)
                if isinstance(f, ast.FunctionDef)}
        for c in ast.walk(tree):
            if not (isinstance(c, ast.Call)
                    and isinstance(c.func, ast.Name)
                    and c.func.id == "_guarded_commit"
                    and len(c.args) == 4):
                continue
            leg = c.args[3]
            if isinstance(leg, ast.Name):
                leg = defs.get(leg.id)
            # TxnTable.append(df, meta): two arguments; list.append: one
            if leg is not None and any(len(a.args) >= 2
                                       for a in _calls(leg, "append")):
                hits.append(f"{rel}:{c.lineno}: _guarded_commit leg "
                            "appends")
        hits += [f"{rel}:{c.lineno}: _commit_blind"
                 for c in _calls(tree, "_commit_blind")]
    assert not hits, "\n".join(hits)


def test_ledger_stays_in_txnlog():
    """Only sources/txnlog.py reads the ledger or builds a stream meta;
    every sink goes through ``TxnTable.append``/``_guarded_commit`` and
    ``_stream_meta``."""
    hits = []
    for rel, src in _package_modules():
        if rel == _LEDGER_HOME:
            continue
        for n, line in enumerate(src.splitlines(), 1):
            for what, rx in _FORBIDDEN.items():
                if rx.search(line):
                    hits.append(f"{rel}:{n}: {what}: {line.strip()}")
    assert not hits, "\n".join(hits)


_MV_HOME = os.path.join("operators", "mv.py")
_SINGLE_SOURCE_VIEWS = {"MapMaterializedView", "AggMaterializedView",
                        "ChunkPostingsView"}


def _meta_keys(node) -> list:
    """The keys ``node`` puts into a dict: a ``{...}`` literal, a
    ``d[k] = ...`` store or a ``dict(k=...)`` call."""
    if isinstance(node, ast.Dict):
        return [k.value for k in node.keys if isinstance(k, ast.Constant)]
    if (isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Store)
            and isinstance(node.slice, ast.Constant)):
        return [node.slice.value]
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == "dict"):
        return [k.arg for k in node.keywords]
    return []


def test_one_high_water_fold():
    """Only operators/mv.py builds a meta with ``mv_source_version``
    (every single-source view leg goes through the one high-water
    fold), and no single-source view class defines its own
    ``refresh``."""
    hits = []
    for rel, src in _package_modules():
        tree = ast.parse(src)
        for n in ast.walk(tree):
            if rel != _MV_HOME and "mv_source_version" in _meta_keys(n):
                hits.append(f"{rel}:{n.lineno}: mv_source_version meta")
            if (isinstance(n, ast.ClassDef)
                    and n.name in _SINGLE_SOURCE_VIEWS):
                hits += [f"{rel}:{f.lineno}: {n.name} defines refresh"
                         for f in n.body
                         if isinstance(f, ast.FunctionDef)
                         and f.name == "refresh"]
    assert not hits, "\n".join(hits)


def test_meta_with_finds_the_newest_carrying_commit(spark, tmp_path):
    """``TxnTable.meta_with`` returns the newest commit at or before
    the bound whose meta carries the key: a compaction between two
    carrying commits is skipped, the ``version`` bound is honoured,
    and an absent key (or an empty table) gives ``({}, None)``."""
    t = TxnTable(str(tmp_path / "hw"))
    assert t.meta_with("hw") == ({}, None)
    df = spark.range(3)
    t.append(df, {"operation": "fold", "hw": 10})   # v0
    t.append(df, {"operation": "plain"})            # v1
    t.append(df, {"operation": "fold", "hw": 20})   # v2
    assert t.compact(spark) == 3                    # v3: layout only
    t.append(df, {"operation": "fold", "hw": 40})   # v4

    meta, v = t.meta_with("hw")
    assert (meta["hw"], v) == (40, 4)
    meta, v = t.meta_with("hw", version=3)          # skips the compaction
    assert (meta["hw"], v) == (20, 2)
    meta, v = t.meta_with("hw", version=1)          # skips the plain append
    assert (meta["hw"], v) == (10, 0)
    assert t.meta_with("hw", version=0)[1] == 0
    assert t.meta_with("absent") == ({}, None)
    assert t.meta_with("absent", version=2) == ({}, None)


_FEED_READERS = {
    # the shared single-source fold and the two-source join view's legs
    os.path.join("operators", "mv.py"): {"fold_changes",
                                         "JoinMaterializedView"},
    # reads the ranges pinned in the checkpoint's version records
    os.path.join("streaming", "pipeline.py"): {"_start_change_feed"},
}


def _enclosing(tree) -> dict:
    """id(node) -> names of the defs and classes enclosing it."""
    out: dict = {}

    def _visit(node, names):
        for child in ast.iter_child_nodes(node):
            inner = names
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                inner = names | {child.name}
            out[id(child)] = inner
            _visit(child, inner)

    _visit(tree, frozenset())
    return out


def test_commit_meta_lookups_go_through_txntable():
    """No module under ``streaming/`` or ``operators/`` walks commit
    docs itself (``._doc(`` inside a ``for``/``while`` loop): the
    newest-commit-carrying-a-key lookup is ``TxnTable.meta_with`` and
    live row counts are ``TxnTable._live_rows``. And there, only the
    shared fold (``operators/mv.fold_changes``), the two-source
    ``JoinMaterializedView`` and the change-feed starter call
    ``read_changes``: every other derived-state leg folds through the
    one high-water fold."""
    hits = []
    for rel, src in _package_modules():
        if not rel.startswith(("streaming" + os.sep,
                               "operators" + os.sep)):
            continue
        tree = ast.parse(src)
        loops = [n for n in ast.walk(tree)
                 if isinstance(n, (ast.For, ast.While))]
        lines = sorted({c.lineno for loop in loops
                        for c in _calls(loop, "_doc")})
        hits += [f"{rel}:{n}: _doc() inside a loop" for n in lines]
        scope = _enclosing(tree)
        allowed = _FEED_READERS.get(rel, set())
        hits += [f"{rel}:{c.lineno}: read_changes outside the shared fold"
                 for c in _calls(tree, "read_changes")
                 if not scope[id(c)] & allowed]
    assert not hits, "\n".join(hits)


_COMMIT_LOOP = (os.path.join("sources", "txnlog.py"), "_transact")


def _exc_names(node) -> set:
    """Names an ``except`` clause catches (``except (A, m.B)``)."""
    return {n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node) if isinstance(n, (ast.Name,
                                                      ast.Attribute))}


def test_one_optimistic_commit_loop():
    """Every lost commit race is handled by ``TxnTable._transact``:
    nowhere else in the package does an ``except TxnConflictError``
    sit inside a ``for``/``while`` loop (a hand-written retry loop
    with its own budget, backoff and cleanup), and no module under
    ``streaming/`` or ``operators/`` calls ``.commit(`` with
    ``expected_version=`` (a write-then-commit copy that leaks its
    files on a lost race)."""
    hits = []
    for rel, src in _package_modules():
        tree = ast.parse(src)
        scope = _enclosing(tree)
        loops = [n for n in ast.walk(tree)
                 if isinstance(n, (ast.For, ast.While))]
        lines = sorted({
            h.lineno for loop in loops for h in ast.walk(loop)
            if isinstance(h, ast.ExceptHandler) and h.type is not None
            and "TxnConflictError" in _exc_names(h.type)
            and not (rel == _COMMIT_LOOP[0]
                     and _COMMIT_LOOP[1] in scope[id(h)])})
        hits += [f"{rel}:{n}: except TxnConflictError in a loop"
                 for n in lines]
        if rel.startswith(("streaming" + os.sep, "operators" + os.sep)):
            hits += [f"{rel}:{c.lineno}: commit(expected_version=...)"
                     for c in _calls(tree, "commit")
                     if any(k.arg == "expected_version"
                            for k in c.keywords)]
    assert not hits, "\n".join(hits)


#: the one row-level rewrite and the helpers only it may call
_REWRITE_CORE = (_LEDGER_HOME, "_rewrite_rows")
_CORE_ONLY = ("_candidate_obs", "_sizes_prepass")
_CORE_SCAN = ("_scan", ("tagged", "positions"))  # the tagged scan
_RETIRED_ROW_PATHS = ("_delete_where_partitioned",
                      "_update_where_partitioned", "compact_clustered")


def test_one_row_level_rewrite():
    """DELETE, UPDATE and the DV delete run through one core,
    ``TxnTable._rewrite_rows``: nothing else in the package calls the
    tagged candidate scan (``_scan(tagged=…/positions=…)``) or the
    sizing helpers, ``delete_where`` and
    ``update_where`` do not commit through ``_transact`` themselves,
    and the partition-layout forks and ``compact_clustered`` (one
    column of ``compact_zorder``) are gone. Parsed, so docstrings do
    not count."""
    hits = []
    for rel, src in _package_modules():
        tree = ast.parse(src)
        scope = _enclosing(tree)
        in_core = [c for c in _calls(tree, _CORE_SCAN[0])
                   if any(k.arg in _CORE_SCAN[1] for k in c.keywords)]
        for name in _CORE_ONLY:
            in_core += _calls(tree, name)
        hits += [f"{rel}:{c.lineno}: {c.func.attr} outside the core"
                 for c in in_core
                 if not (rel == _REWRITE_CORE[0]
                         and _REWRITE_CORE[1] in scope[id(c)])]
        for f in ast.walk(tree):
            if not isinstance(f, ast.FunctionDef):
                continue
            if f.name in _RETIRED_ROW_PATHS:
                hits.append(f"{rel}:{f.lineno}: def {f.name}")
            if f.name in ("delete_where", "update_where"):
                hits += [f"{rel}:{c.lineno}: {f.name} calls _transact"
                         for c in _calls(f, "_transact")]
    assert not hits, "\n".join(hits)


#: the legacy schema derivation, the one place a scan may infer
_DERIVATION = (_LEDGER_HOME, "_derived_schema")
_RETIRED_SCHEMA_PATHS = ("_read_dirs", "_record_partition_types")
_EXPORTER = (os.path.join("sources", "deltainterop.py"),
             ("_footer_struct", "_partition_type_lut"))


def _chain(node) -> list[str]:
    """The names along a method chain, outermost first:
    ``spark.read.schema(s).parquet`` gives parquet, schema, read,
    spark."""
    out = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            node = node.func
        else:
            out.append(node.attr)
            node = node.value
    if isinstance(node, ast.Name):
        out.append(node.id)
    return out


def test_one_explicit_schema_scan():
    """Every scan ``sources/txnlog.py`` plans names its schema: no
    ``.parquet(`` on a reader without ``.schema(`` outside the legacy
    derivation (``TxnTable._derived_schema``) and no ``mergeSchema``
    option; ``_read_dirs`` and ``_record_partition_types`` are gone
    from the package; and the Delta exporter
    (``sources/deltainterop.py``) takes its schema from
    ``TxnTable.table_schema``, calling neither ``_footer_struct`` nor
    ``_partition_type_lut``. Parsed, so docstrings do not count."""
    hits = []
    for rel, src in _package_modules():
        tree = ast.parse(src)
        hits += [f"{rel}:{f.lineno}: def {f.name}" for f in ast.walk(tree)
                 if isinstance(f, ast.FunctionDef)
                 and f.name in _RETIRED_SCHEMA_PATHS]
        for name in _RETIRED_SCHEMA_PATHS + (
                _EXPORTER[1] if rel == _EXPORTER[0] else ()):
            hits += [f"{rel}:{c.lineno}: {name}" for c in _calls(tree, name)]
        if rel != _DERIVATION[0]:
            continue
        scope = _enclosing(tree)
        for c in _calls(tree, "parquet"):
            chain = _chain(c.func.value)
            if not ({"write", "schema"} & set(chain)
                    or _DERIVATION[1] in scope[id(c)]):
                hits.append(f"{rel}:{c.lineno}: .parquet( on a reader "
                            "without .schema(")
        hits += [f"{rel}:{c.lineno}: mergeSchema" for c in ast.walk(tree)
                 if isinstance(c, ast.Call) and (
                     any(isinstance(a, ast.Constant)
                         and a.value == "mergeSchema" for a in c.args)
                     or any(k.arg == "mergeSchema" for k in c.keywords))]
    assert not hits, "\n".join(hits)
