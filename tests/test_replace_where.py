"""txnlog.replace_where (r14, VERDICT r13 #2): atomic predicate-scoped
replace over partition keys — Delta's replaceWhere shapes that
overwrite_partitions' full-tuple/leading-prefix granularity cannot
express. Reference anchor: the reference's Delta overwrite sink
(spark/SaveDelta.scala:157-163) exposes replaceWhere as the
idempotent-reload knob."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
    _partition_segs,
)


def _orders(spark, n=200):
    return (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
            .select("o_orderkey", "o_totalprice", "o_orderdate",
                    "o_orderstatus")
            .orderBy("o_orderkey").limit(n))


def _mk(spark, tmp_path, name="t"):
    o = _orders(spark)
    t = TxnTable(str(tmp_path / name))
    t.set_generated_column("order_year",
                           "DATE_FORMAT(o_orderdate, 'yyyy')")
    t.set_partition_column(["order_year", "o_orderstatus"])
    t.append(o)
    return t, o


def test_trailing_key_replace_is_one_atomic_commit(spark, tmp_path):
    """'status F across all years' — the trailing-key shape — lands as
    ONE commit whose removes are exactly the live F dirs and whose
    result equals the relational recomputation."""
    t, o = _mk(spark, tmp_path)
    v0 = t.latest_version()
    exp = sorted(d for d in t.snapshot_dirs()
                 if dict(_partition_segs(d)).get("o_orderstatus") == "F")
    v = t.replace_where(
        spark,
        o.filter("o_orderstatus = 'F'")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2),
        "o_orderstatus = 'F'")
    assert v == v0 + 1  # atomic: exactly one commit
    assert sorted(t._doc(v)["removes"]) == exp  # noqa: SLF001
    got = {(r["o_orderkey"], r["cents"]) for r in t.read(spark).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("cents")).collect()}
    want = {(r["o_orderkey"], r["cents"]) for r in o.select(
        "o_orderkey",
        F.round(F.when(F.col("o_orderstatus") == "F",
                       F.col("o_totalprice") * 2)
                .otherwise(F.col("o_totalprice")) * 100)
        .cast("bigint").alias("cents")).collect()}
    assert got == want


def test_range_predicate_and_empty_source_delete(spark, tmp_path):
    """A range × key conjunction replaces only matching dirs; an empty
    source frame under a predicate is a partition DELETE in one
    commit (no adds)."""
    t, o = _mk(spark, tmp_path)
    yr = F.date_format("o_orderdate", "yyyy")
    v = t.replace_where(
        spark,
        o.filter((F.col("o_orderstatus") == "O")
                 & yr.between("1996", "1997"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 3),
        "order_year BETWEEN '1996' AND '1997' AND o_orderstatus = 'O'")
    for d in t._doc(v)["removes"]:  # noqa: SLF001
        segs = dict(_partition_segs(d))
        assert segs["o_orderstatus"] == "O"
        assert "1996" <= segs["order_year"] <= "1997"
    n_before = t.read(spark).count()
    n_victims = t.read(spark).filter(
        "o_orderstatus = 'P' AND order_year = '1995'").count()
    assert n_victims > 0
    v2 = t.replace_where(spark, o.filter(F.lit(False)),
                         "order_year = '1995' AND o_orderstatus = 'P'")
    doc = t._doc(v2)  # noqa: SLF001
    assert not doc["adds"] and doc["removes"]
    assert t.read(spark).count() == n_before - n_victims


def test_source_rows_must_satisfy_predicate(spark, tmp_path):
    """Delta's replaceWhere contract: a source row outside the
    predicate (or NULL-evaluating) raises and NOTHING commits — no new
    version, snapshot unchanged, no orphan partition dirs in the
    log."""
    t, o = _mk(spark, tmp_path)
    v0 = t.latest_version()
    n0 = t.read(spark).count()
    with pytest.raises(ValueError, match="violate"):
        t.replace_where(spark, o,  # carries every status, not just F
                        "o_orderstatus = 'F'")
    assert t.latest_version() == v0
    assert t.read(spark).count() == n0


def test_refusals_are_loud(spark, tmp_path):
    """Nondeterministic predicates, data-column predicates,
    identity-key predicates, and unpartitioned tables all refuse with
    remedial messages instead of guessing semantics."""
    t, o = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="nondeterministic"):
        t.replace_where(spark, o.limit(0), "rand() < 0.5")
    with pytest.raises(ValueError, match="partition keys"):
        t.replace_where(spark, o.limit(0), "o_totalprice > 100")
    flat = TxnTable(str(tmp_path / "flat"))
    flat.append(o)
    with pytest.raises(ValueError, match="unpartitioned"):
        flat.replace_where(spark, o.limit(0), "o_orderstatus = 'F'")

    ident = TxnTable(str(tmp_path / "ident"))
    ident.set_identity_column("rid")
    ident.set_partition_column("o_orderstatus")
    ident.append(o)
    with pytest.raises(ValueError, match="IDENTITY"):
        ident.replace_where(spark, o.limit(0), "rid = 5")


def test_identity_table_allocates_fresh_ids(spark, tmp_path):
    """replace_where on an identity × partitioned table: replaced
    rows' ids retire, incoming rows allocate past the high water in
    the SAME commit, and ids stay globally unique."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "idp"))
    t.set_identity_column("rid")
    t.set_partition_column("o_orderstatus")
    t.append(o)
    hw0 = max(r["rid"] for r in t.read(spark).select("rid").collect())
    t.replace_where(
        spark,
        o.filter("o_orderstatus = 'F'")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2),
        "o_orderstatus = 'F'")
    rows = t.read(spark).select("rid", "o_orderstatus").collect()
    rids = [r["rid"] for r in rows]
    assert len(rids) == len(set(rids))  # never reused
    new_ids = [r["rid"] for r in rows if r["o_orderstatus"] == "F"]
    assert new_ids and min(new_ids) > hw0  # fresh block past the HW


def test_arbitrary_row_predicate_replace(spark, tmp_path):
    """allow_row_predicates=True (Delta's arbitrary replaceWhere): a
    data-column predicate deletes exactly the matching ROWS and
    inserts the source in the SAME atomic commit — non-matching rows
    of the touched partitions survive the rewrite, partitions with no
    matches keep their original files, and without the flag the
    predicate refuses."""
    t, o = _mk(spark, tmp_path)
    v0 = t.latest_version()
    with pytest.raises(ValueError, match="allow_row_predicates"):
        t.replace_where(spark, o.limit(0), "o_totalprice > 150000")
    # a high cut so the match set is sparse across partitions
    cut = float(o.approxQuantile("o_totalprice", [0.93], 0.0)[0])
    exp_pairs = {
        (r["y"], r["s"]) for r in
        o.filter(F.col("o_totalprice") > cut).select(
            F.date_format("o_orderdate", "yyyy").alias("y"),
            F.col("o_orderstatus").alias("s")).distinct().collect()}
    new_rows = (o.filter(F.col("o_totalprice") > cut).limit(5)
                .withColumn("o_totalprice", F.lit(cut + 1.0))
                .withColumn("o_orderkey",
                            F.col("o_orderkey") + 10_000_000))
    v = t.replace_where(spark, new_rows, f"o_totalprice > {cut}",
                        allow_row_predicates=True)
    assert v == v0 + 1  # one atomic commit
    doc = t._doc(v)  # noqa: SLF001
    # removes are EXACTLY the partitions that actually held matches
    # (the sizing scan's contract) — not every live dir
    got_pairs = {(dict(_partition_segs(d))["order_year"],
                  dict(_partition_segs(d))["o_orderstatus"])
                 for d in doc["removes"]}
    assert got_pairs == exp_pairs
    assert len(doc["removes"]) < len(t.snapshot_dirs(v0))
    got = t.read(spark)
    # every original over-cut row is gone; the 5 inserts are present;
    # survivors of the touched partitions kept
    assert got.filter((F.col("o_totalprice") > cut)
                      & (F.col("o_orderkey") < 10_000_000)).count() == 0
    assert got.filter("o_orderkey >= 10000000").count() == 5
    want_survivors = o.filter(F.col("o_totalprice") <= cut).count()
    assert got.filter("o_orderkey < 10000000").count() == want_survivors


def test_row_predicate_containment_still_enforced(spark, tmp_path):
    """Even in arbitrary mode, source rows must satisfy the predicate
    — a violating insert raises before any write."""
    t, o = _mk(spark, tmp_path)
    v0 = t.latest_version()
    with pytest.raises(ValueError, match="violate"):
        t.replace_where(spark, o.limit(10), "o_totalprice > 1e12",
                        allow_row_predicates=True)
    assert t.latest_version() == v0


def test_row_predicate_identity_survivors_keep_ids(spark, tmp_path):
    """Identity x arbitrary replaceWhere: survivors keep their baked
    ids through the rewrite; inserts allocate past the high water in
    the same commit; global uniqueness holds."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "idrow"))
    t.set_identity_column("rid")
    t.set_partition_column("o_orderstatus")
    t.append(o)
    before = {r["o_orderkey"]: r["rid"]
              for r in t.read(spark).select("o_orderkey", "rid")
              .collect()}
    hw0 = max(before.values())
    cut = 150000.0
    inserts = (o.filter(F.col("o_totalprice") > cut).limit(3)
               .withColumn("o_orderkey",
                           F.col("o_orderkey") + 10_000_000))
    t.replace_where(spark, inserts, f"o_totalprice > {cut}",
                    allow_row_predicates=True)
    rows = t.read(spark).select("o_orderkey", "rid").collect()
    rids = [r["rid"] for r in rows]
    assert len(rids) == len(set(rids))
    for r in rows:
        if r["o_orderkey"] < 10_000_000:
            assert r["rid"] == before[r["o_orderkey"]]  # survivor id
        else:
            assert r["rid"] > hw0  # fresh allocation


# --- property: replace_where == (partition delete + append) composed ------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PREDS = st.sampled_from([
    "o_orderstatus = 'F'",
    "o_orderstatus IN ('O', 'P')",
    "order_year >= '1997'",
    "order_year BETWEEN '1996' AND '1998' AND o_orderstatus = 'P'",
    "order_year < '1996' OR o_orderstatus = 'F'",
    "order_year = '2999'",  # empty match set
])


@given(pred=_PREDS, frac=st.sampled_from([0, 3, 7]))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_replace_where_equals_delete_plus_append(spark,
                                                 tmp_path_factory,
                                                 pred, frac):
    """For ANY partition-key predicate, one replace_where commit must
    equal the two-commit composition: drop every row of the matching
    partitions, then append the source — same final rows, and the
    source rows (filtered to the predicate) all land."""
    tmp = tmp_path_factory.mktemp("rw_prop")
    o = _orders(spark, 120)
    src = (o.filter(F.expr(pred.replace(
        "order_year", "DATE_FORMAT(o_orderdate, 'yyyy')")))
           .limit(40 if frac else 0)
           .withColumn("o_totalprice", F.col("o_totalprice") + frac))

    a = TxnTable(str(tmp / "a"))
    b = TxnTable(str(tmp / "b"))
    for t in (a, b):
        t.set_generated_column("order_year",
                               "DATE_FORMAT(o_orderdate, 'yyyy')")
        t.set_partition_column(["order_year", "o_orderstatus"])
        t.append(o)
    a.replace_where(spark, src, pred)
    # composition on b: partition-scoped delete (via empty replace),
    # then plain append of the same source
    b.replace_where(spark, o.filter(F.lit(False)), pred)
    if src.count():
        b.append(src)
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    ra = {tuple(r) for r in a.read(spark).select(*cols).collect()}
    rb = {tuple(r) for r in b.read(spark).select(*cols).collect()}
    assert ra == rb


def test_mixed_predicate_sizing_scan_is_partition_bounded(spark,
                                                          tmp_path,
                                                          monkeypatch):
    """Conjunct splitting (Delta's replaceWhere optimization): a mixed
    predicate "order_year = '1997' AND o_totalprice > x" bounds the
    arbitrary-mode SIZING SCAN to the 1997 partitions — observed by
    spying on the dirs the scan actually reads — while the answer
    stays row-exact."""
    t, o = _mk(spark, tmp_path)
    scanned: list[list[str]] = []
    real = TxnTable._scan

    def spy(self, spark_, rel_dirs, *a, **k):
        scanned.append(list(rel_dirs))
        return real(self, spark_, rel_dirs, *a, **k)

    monkeypatch.setattr(TxnTable, "_scan", spy)
    cut = 100000.0
    pred = f"order_year = '1997' AND o_totalprice > {cut}"
    src = (o.filter(
        (F.date_format("o_orderdate", "yyyy") == "1997")
        & (F.col("o_totalprice") > cut)).limit(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000))
    t.replace_where(spark, src, pred, allow_row_predicates=True)
    sized = [ds for ds in scanned if ds]
    assert sized, "expected a sizing scan"
    for ds in sized:
        for d in ds:
            assert dict(_partition_segs(d))["order_year"] == "1997", d
    got = t.read(spark)
    # matching original rows gone, inserts present, others intact
    assert got.filter(
        (F.col("order_year") == "1997")
        & (F.col("o_totalprice") > cut)
        & (F.col("o_orderkey") < 10_000_000)).count() == 0
    assert got.filter("o_orderkey >= 10000000").count() == 3
    assert got.filter("order_year != '1997'").count() == \
        o.filter(F.date_format("o_orderdate", "yyyy") != "1997").count()


def test_split_top_and_tokenizer():
    """The conjunct splitter respects quotes, '' escapes, and paren
    depth — and anything unsplittable returns whole (correct, just
    unoptimized)."""
    s = TxnTable._split_top_and
    assert s("a = 1 AND b = 2") == ["a = 1", "b = 2"]
    assert s("a = 'x AND y' AND b = 2") == ["a = 'x AND y'", "b = 2"]
    assert s("(a = 1 AND b = 2) OR c = 3") \
        == ["(a = 1 AND b = 2) OR c = 3"]
    assert s("a = 'it''s AND more' AND b = 2") \
        == ["a = 'it''s AND more'", "b = 2"]
    assert s("a BETWEEN 1 AND 5 AND b = 2") \
        == ["a BETWEEN 1", "5", "b = 2"]  # BETWEEN splits "wrong" —
    # harmless: the fragments fail to resolve and drop out of the
    # prune (never out of the full predicate)


# --- replace_where under commit races (r14, seeded r15 candidate) ---------
# Delta's optimistic-concurrency classification: disjoint racers are
# ABSORBED by a metadata-only rebase (the written files are reused and
# the remove set re-resolves against the winner's snapshot, serializing
# the replace AFTER the racer); stale-snapshot cases (row-predicate
# survivors, interleaved identity allocation) redo from the new base;
# concurrent schema/layout changes are genuine TxnConflictErrors.

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (  # noqa: E402
    TxnConflictError,
)


def _racing_commit(monkeypatch, racer_fn, times=1):
    """Patch TxnTable.commit so the first ``times`` replace_where
    commits fire ``racer_fn()`` FIRST (a racing writer landing between
    this writer's file write and its log link) and then attempt the
    real commit — which loses the put-if-absent race deterministically."""
    real = TxnTable.commit
    state = {"left": times}

    def patched(self, adds, removes, meta=None, **kw):
        if (meta or {}).get("operation") == "replace_where" \
                and state["left"] > 0:
            state["left"] -= 1
            racer_fn()
        return real(self, adds, removes, meta, **kw)

    monkeypatch.setattr(TxnTable, "commit", patched)
    return state


def test_disjoint_racer_is_rebased_not_conflicted(
        spark, tmp_path, monkeypatch):
    """An append landing in NON-matching partitions between the
    replace's write and its commit is absorbed: the written files are
    reused, the remove set is re-resolved (unchanged here), and the
    replace lands one version later — no error, no data rewrite."""
    t, o = _mk(spark, tmp_path)
    v0 = t.latest_version()
    racer = TxnTable(t.path)
    extra = (o.filter("o_orderstatus = 'O'").limit(20)
             .withColumn("o_orderkey",
                         F.col("o_orderkey") + 20_000_000))
    state = _racing_commit(monkeypatch, lambda: racer.append(extra))
    exp_removes = sorted(
        d for d in t.snapshot_dirs(v0)
        if dict(_partition_segs(d)).get("o_orderstatus") == "F")
    src = (o.filter("o_orderstatus = 'F'")
           .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    v = t.replace_where(spark, src, "o_orderstatus = 'F'")
    assert state["left"] == 0  # the race actually fired
    assert v == v0 + 2  # racer took v0+1; the rebase landed after it
    assert sorted(t._doc(v)["removes"]) == exp_removes  # noqa: SLF001
    got = t.read(spark)
    # racer rows survived (disjoint), replaced content landed
    assert got.filter("o_orderkey >= 20000000").count() == 20
    assert got.filter("o_orderstatus = 'F'").count() == \
        o.filter("o_orderstatus = 'F'").count()
    doubled = {r["o_orderkey"] for r in o.filter("o_orderstatus = 'F'")
               .collect()}
    chk = got.filter("o_orderstatus = 'F'") \
        .join(o.filter("o_orderstatus = 'F'")
              .select("o_orderkey",
                      (F.col("o_totalprice") * 2).alias("want")),
              "o_orderkey")
    assert chk.filter(
        F.abs(F.col("o_totalprice") - F.col("want")) > 1e-6).count() == 0
    assert len(doubled) == chk.count()


def test_matching_racer_serializes_before_the_replace(
        spark, tmp_path, monkeypatch):
    """A racer appending rows INTO a matching partition is also
    absorbed — by serializing the replace AFTER it: the re-resolved
    remove set picks up the racer's new dir, so its rows are replaced
    exactly as if the replace had been issued later."""
    t, o = _mk(spark, tmp_path)
    v0 = t.latest_version()
    racer = TxnTable(t.path)
    extra = (o.filter("o_orderstatus = 'F'").limit(10)
             .withColumn("o_orderkey",
                         F.col("o_orderkey") + 20_000_000))
    state = _racing_commit(monkeypatch, lambda: racer.append(extra))
    src = (o.filter("o_orderstatus = 'F'")
           .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    v = t.replace_where(spark, src, "o_orderstatus = 'F'")
    assert state["left"] == 0
    doc = t._doc(v)  # noqa: SLF001
    # the racer's F dirs are in the re-resolved remove set
    racer_dirs = set(t._doc(v0 + 1)["adds"])  # noqa: SLF001
    f_racer = {d for d in racer_dirs
               if dict(_partition_segs(d)).get("o_orderstatus") == "F"}
    assert f_racer and f_racer <= set(doc["removes"])
    got = t.read(spark)
    # the racer's matching rows were REPLACED (serialize-after), and
    # the final F content is exactly the source
    assert got.filter("o_orderkey >= 20000000").count() == 0
    assert got.filter("o_orderstatus = 'F'").count() == src.count()


def test_concurrent_schema_change_is_a_genuine_conflict(
        spark, tmp_path, monkeypatch):
    """A racing schema evolution makes the written files embody a
    stale shape — that is Delta's metadata-changed class and must
    surface as TxnConflictError, never be absorbed."""
    t, o = _mk(spark, tmp_path)
    racer = TxnTable(t.path)

    def evolve():
        racer.overwrite(o.withColumn("extra", F.lit(1)))

    _racing_commit(monkeypatch, evolve)
    with pytest.raises(TxnConflictError, match="schema"):
        t.replace_where(
            spark,
            o.filter("o_orderstatus = 'F'"),
            "o_orderstatus = 'F'")


def test_interleaved_identity_allocation_redoes_with_fresh_ids(
        spark, tmp_path, monkeypatch):
    """A racer that ALLOCATES identity ids between the replace's
    assign and its commit invalidates the baked ids — the attempt is
    scrapped and redone from the new high water; ids stay globally
    unique and the replace still lands."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "idrace"))
    t.set_identity_column("rid")
    t.set_partition_column("o_orderstatus")
    t.append(o)
    racer = TxnTable(t.path)
    extra = (o.filter("o_orderstatus = 'O'").limit(15)
             .withColumn("o_orderkey",
                         F.col("o_orderkey") + 20_000_000))
    state = _racing_commit(monkeypatch, lambda: racer.append(extra))
    src = (o.filter("o_orderstatus = 'F'")
           .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    t.replace_where(spark, src, "o_orderstatus = 'F'")
    assert state["left"] == 0
    rows = t.read(spark).select("rid", "o_orderkey").collect()
    rids = [r["rid"] for r in rows]
    assert len(rids) == len(set(rids))  # no id collision with racer
    assert len(rows) == o.count() + 15
    # no orphan data dirs from the scrapped attempt: everything on
    # disk is either live or a TOMBSTONED remove (time-travel keeps
    # removed dirs until vacuum — those are not orphans)
    live = set(t.snapshot_dirs())
    tombstoned = {d for v in range(t.latest_version() + 1)
                  for d in t._doc(v)["removes"]}  # noqa: SLF001
    import os as _os
    on_disk = set()
    for root, _dirs, files in _os.walk(t.path):
        if any(f.endswith(".parquet") for f in files):
            rel = _os.path.relpath(root, t.path)
            if not rel.startswith("_"):
                on_disk.add(rel)
    assert on_disk <= live | tombstoned
    assert live <= on_disk


def test_row_predicate_racer_forces_full_redo(
        spark, tmp_path, monkeypatch):
    """Row-predicate mode: survivors were computed from the stale
    snapshot, so a racer append forces a full redo — the redo's
    sizing scan sees the racer's rows, replaced content matches a
    relational recompute over the POST-racer table."""
    t, o = _mk(spark, tmp_path)
    racer = TxnTable(t.path)
    cut = 150000.0
    extra = (o.limit(12)
             .withColumn("o_orderkey",
                         F.col("o_orderkey") + 20_000_000))
    state = _racing_commit(monkeypatch, lambda: racer.append(extra))
    inserts = (o.filter(F.col("o_totalprice") > cut).limit(3)
               .withColumn("o_orderkey",
                           F.col("o_orderkey") + 30_000_000))
    t.replace_where(spark, inserts, f"o_totalprice > {cut}",
                    allow_row_predicates=True)
    assert state["left"] == 0
    got = t.read(spark)
    post = o.unionByName(extra)  # the post-racer table
    # every over-cut row (racer's included) is gone; inserts present;
    # all under-cut rows (racer's included) survive
    assert got.filter((F.col("o_totalprice") > cut)
                      & (F.col("o_orderkey") < 30_000_000)).count() == 0
    assert got.filter("o_orderkey >= 30000000").count() == 3
    assert got.filter("o_orderkey < 30000000").count() == \
        post.filter(F.col("o_totalprice") <= cut).count()


def test_conflict_budget_is_bounded_and_scraps_files(
        spark, tmp_path, monkeypatch):
    """Non-absorbing conflicts on EVERY attempt exhaust the bounded
    budget (never spin), surface the TxnConflictError, and leave no
    orphan data dirs behind."""
    t, o = _mk(spark, tmp_path)
    v0 = t.latest_version()
    monkeypatch.setattr(TxnTable, "_conflict_backoff",
                        staticmethod(lambda attempt: None))
    real = TxnTable.commit

    def always_conflict(self, adds, removes, meta=None, **kw):
        if (meta or {}).get("operation") == "replace_where":
            raise TxnConflictError("induced")
        return real(self, adds, removes, meta, **kw)

    monkeypatch.setattr(TxnTable, "commit", always_conflict)
    with pytest.raises(TxnConflictError):
        t.replace_where(
            spark, o.filter("o_orderstatus = 'F'"),
            "o_orderstatus = 'F'")
    assert t.latest_version() == v0  # nothing committed
    live = set(t.snapshot_dirs())
    import os as _os
    on_disk = set()
    for root, _dirs, files in _os.walk(t.path):
        if any(f.endswith(".parquet") for f in files):
            rel = _os.path.relpath(root, t.path)
            if not rel.startswith("_"):
                on_disk.add(rel)
    assert on_disk == live


def test_true_thread_race_with_appenders(spark, tmp_path):
    """REAL threads: a replace racing blind appenders lands without
    error and the final state is a legal serialization — every
    appender row outside the predicate survives, the replaced
    partition holds either pre- or post-append content replaced."""
    import threading

    t, o = _mk(spark, tmp_path)
    errs: list[Exception] = []

    def appender(w):
        try:
            tt = TxnTable(t.path)
            for i in range(3):
                tt.append(o.filter("o_orderstatus = 'O'").limit(5)
                          .withColumn(
                              "o_orderkey",
                              F.col("o_orderkey")
                              + (20_000_000 * (w + 1) + i * 1_000)))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def replacer():
        try:
            tt = TxnTable(t.path)
            tt.replace_where(
                spark,
                o.filter("o_orderstatus = 'F'")
                .withColumn("o_totalprice", F.col("o_totalprice") * 2),
                "o_orderstatus = 'F'")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ths = [threading.Thread(target=appender, args=(w,))
           for w in range(2)] + [threading.Thread(target=replacer)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errs, errs
    got = t.read(spark)
    # all 2*3*5 appended O rows survived; F content fully replaced
    assert got.filter("o_orderkey >= 20000000").count() == 30
    assert got.filter("o_orderstatus = 'F'").count() == \
        o.filter("o_orderstatus = 'F'").count()


def test_empty_table_racing_first_append(spark, tmp_path, monkeypatch):
    """replace_where based on an EMPTY table racing a first append:
    the race must not be absorbed by commit-time base resolution (the
    racer's dirs may match the predicate) — the attempt redoes from
    the racer's snapshot and the matching rows are replaced."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "e"))
    t.set_partition_column("o_orderstatus")
    racer = TxnTable(t.path)
    extra = o.limit(40)  # racer's first commit: every status
    state = _racing_commit(monkeypatch, lambda: racer.append(extra))
    src = (o.filter("o_orderstatus = 'F'").limit(10)
           .withColumn("o_orderkey",
                       F.col("o_orderkey") + 30_000_000))
    v = t.replace_where(spark, src, "o_orderstatus = 'F'")
    assert state["left"] == 0
    doc = t._doc(v)  # noqa: SLF001
    # the racer's F dir is in the remove set (serialize-after)
    assert any(dict(_partition_segs(d)).get("o_orderstatus") == "F"
               for d in doc["removes"])
    got = t.read(spark)
    assert got.filter("o_orderstatus = 'F' AND o_orderkey < 30000000")\
        .count() == 0
    assert got.filter("o_orderkey >= 30000000").count() == 10
    # the racer's non-matching rows survive
    assert got.filter("o_orderstatus != 'F'").count() == \
        extra.filter("o_orderstatus != 'F'").count()


# --- property: races serialize the replace AFTER every racer --------------

_RACER_OPS = st.lists(
    st.sampled_from(["append_O", "append_F", "append_P", "delete_O"]),
    min_size=1, max_size=3)


@given(pred=_PREDS, ops=_RACER_OPS)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_race_property_serializes_after_racers(
        spark, tmp_path_factory, monkeypatch, pred, ops):
    """For ANY partition predicate and ANY bounded sequence of racer
    commits landing between the replace's write and its commit, the
    final table equals the RELATIONAL recompute of: racers applied
    first, then the replace — Delta's serialize-after outcome. Covers
    rebase chains (multiple racers -> multiple commit losses)."""
    tmp_path = tmp_path_factory.mktemp("rwrace")
    t, o = _mk(spark, tmp_path)
    racer = TxnTable(t.path)
    # each delete position gets its own modulus: a repeated "delete
    # everything matching %11" racer is a NO-OP (no commit, so no
    # commit-loss to rebase past) — distinct slices keep every scripted
    # op an actual commit, which fire() asserts below
    del_mods = (11, 13, 17)
    seq = list(enumerate(ops))

    def fire():
        i, op = seq.pop(0)
        pre = racer.latest_version()
        if op == "delete_O":
            racer.delete_where(spark, "o_orderstatus = 'O' "
                               f"AND o_orderkey % {del_mods[i]} = 0")
        else:
            status = op[-1]
            racer.append(
                o.filter(f"o_orderstatus = '{status}'").limit(7)
                .withColumn("o_orderkey",
                            F.col("o_orderkey") + 40_000_000))
        assert racer.latest_version() == pre + 1, \
            f"racer op {op}@{i} did not commit"

    real = TxnTable.commit
    state = {"left": len(seq)}

    def patched(self, adds, removes, meta=None, **kw):
        if (meta or {}).get("operation") == "replace_where" \
                and state["left"] > 0:
            state["left"] -= 1
            fire()
        return real(self, adds, removes, meta, **kw)

    monkeypatch.setattr(TxnTable, "commit", patched)
    src = (o.filter(F.expr(pred.replace(
        "order_year", "DATE_FORMAT(o_orderdate, 'yyyy')")))
        .withColumn("o_totalprice", F.col("o_totalprice") + 5))
    t.replace_where(spark, src, pred)
    monkeypatch.setattr(TxnTable, "commit", real)
    assert state["left"] == 0
    # model: racers first, then replace over the post-racer table
    base = o
    for i, op in enumerate(ops):
        if op == "delete_O":
            base = base.filter(~((F.col("o_orderstatus") == "O")
                                 & (F.col("o_orderkey")
                                    % del_mods[i] == 0)))
        else:
            status = op[-1]
            base = base.unionByName(
                o.filter(f"o_orderstatus = '{status}'").limit(7)
                .withColumn("o_orderkey",
                            F.col("o_orderkey") + 40_000_000))
    cond = F.expr(pred.replace("order_year",
                               "DATE_FORMAT(o_orderdate, 'yyyy')"))
    want_df = base.filter(~F.coalesce(cond, F.lit(False))) \
        .unionByName(src)
    got = {(r["o_orderkey"], r["cents"]) for r in t.read(spark).select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100)
        .cast("bigint").alias("cents")).collect()}
    want = {(r["o_orderkey"], r["cents"]) for r in want_df.select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100)
        .cast("bigint").alias("cents")).collect()}
    assert got == want
