"""Model check of the one row-level rewrite (``TxnTable._rewrite_rows``)
behind ``delete_where``, ``update_where`` and the DV delete.

Every case runs one op on a small table copied from a prebuilt base
and checks it against a DataFrame model:

- the snapshot equals the model (DELETE keeps every row whose
  condition is not TRUE, NULL included; UPDATE applies its SET to the
  TRUE rows only);
- the change rows equal ``read(v) - read(v-1)`` as multisets;
- the op makes exactly one commit;
- no dir under ``data/``, ``changes/`` or ``dv/`` is left that no
  commit references.

The grid is layout (flat, single-key partitioned, multi-key, a
generated timestamp key whose Hive-escaped path segments a SET moves
rows across, column-mapped, live deletion vectors) x op x change
capture x sizing (the Observation rider, or the prepass forced by
``_OBS_RIDER_MAX = 0``)."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)

# TRUE on a partial slice of two dirs, every row of the third, none of
# the fourth; NULL (x IS NULL and id % 10 != 1) on ids 3, 35
COND = "x > 50 OR id % 10 = 1"
LAYOUTS = ["flat", "single_key", "multi_key", "generated", "mapped",
           "dv_live"]


def _batch(spark, ids, x):
    return spark.createDataFrame(
        [(i, i % 3, "a" if i < 20 else "b", f"v{i}", x(i)) for i in ids],
        "id int, day int, grp string, val string, x int").withColumn(
        "ts", F.expr("TIMESTAMP'2024-01-01 00:00:00' "
                     "+ make_interval(0, 0, 0, id * 3)"))


def _batches(spark):
    return [
        _batch(spark, range(0, 10), lambda i: None if i == 3 else i * 2),
        _batch(spark, range(10, 20), lambda i: i * 2),
        _batch(spark, range(20, 30), lambda i: 60 + i),
        _batch(spark, range(32, 40), lambda i: None if i == 35 else i - 30),
    ]


def _build(spark, path, layout):
    t = TxnTable(path)
    if layout == "single_key":
        t.set_partition_column("day")
    elif layout == "multi_key":
        t.set_partition_column(["day", "grp"])
    elif layout == "generated":
        t.set_generated_column("month_ts", "DATE_TRUNC('month', ts)")
        t.set_partition_column("month_ts")
    for b in _batches(spark):
        t.append(b)
    if layout == "mapped":
        t.rename_column("val", "label")
    elif layout == "dv_live":
        t.delete_where(spark, "id IN (5, 12)", use_dv=True)
    return t


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("row_rewrite_bases")
    return {lay: _build(spark, str(root / lay), lay).path
            for lay in LAYOUTS}


def _copy(bases, layout, tmp_path) -> TxnTable:
    dst = str(tmp_path / layout)
    shutil.copytree(bases[layout], dst)
    return TxnTable(dst)


def _set_exprs(layout):
    sets = {"x": "coalesce(x, 0) + 1000"}
    if layout == "generated":
        sets["ts"] = "ts + INTERVAL 40 DAYS"  # moves rows across months
    return sets


def _bag(df, cols):
    return Counter(tuple(r) for r in df.select(*cols).collect())


def _orphans(t: TxnTable) -> dict:
    """Dirs under data/, changes/ and dv/ that no commit references."""
    ref = {"data": set(), "changes": set(), "dv": set()}
    for v in t.versions():
        doc = t._doc(v)  # noqa: SLF001
        ref["data"] |= {a.split("/")[1] for a in doc["adds"]}
        if doc.get("changes"):
            ref["changes"].add(doc["changes"].split("/")[1])
        ref["dv"] |= {r["path"].split("/")[1]
                      for r in (doc.get("dvs") or {}).values() if r}
    out = {}
    for kind, names in ref.items():
        d = os.path.join(t.path, kind)
        disk = {n for n in os.listdir(d) if not n.startswith(".")} \
            if os.path.isdir(d) else set()
        if disk - names:
            out[kind] = sorted(disk - names)
    return out


def _check(spark, t, v0, op, capture, layout):
    v1 = t.latest_version()
    assert v1 == v0 + 1, f"{v1 - v0} commits"
    before, after = t.read(spark, version=v0), t.read(spark, version=v1)
    cols = before.columns
    hit = F.coalesce(F.expr(COND), F.lit(False))
    if op == "update":
        sets = _set_exprs(layout)
        model = before.select(*[
            F.when(hit, F.expr(sets[c]).cast(before.schema[c].dataType))
            .otherwise(F.col(c)).alias(c) if c in sets else F.col(c)
            for c in cols])
        if layout == "generated":  # the key recomputes from the new ts
            model = model.withColumn("month_ts",
                                     F.expr("DATE_TRUNC('month', ts)"))
    else:
        model = before.filter(~hit)
    assert _bag(after, cols) == _bag(model, cols)
    gone = _bag(before, cols) - _bag(after, cols)
    new = _bag(after, cols) - _bag(before, cols)
    assert gone, "the op matched nothing"
    doc = t._doc(v1)  # noqa: SLF001
    if not capture:
        assert not doc.get("changes")
    else:
        ch = t.read_changes(spark, since_version=v0, upto=v1)
        kinds = {k: _bag(ch.filter(F.col("_change_type") == k), cols)
                 for k in ("delete", "update_preimage", "update_postimage",
                           "insert")}
        if op == "update":
            assert kinds["update_preimage"] == gone
            assert kinds["update_postimage"] == new
            assert not kinds["delete"] and not kinds["insert"]
        else:
            assert kinds["delete"] == gone
            assert not kinds["update_preimage"] and not kinds["insert"]
    assert not _orphans(t)


@pytest.mark.parametrize("sizing", ["rider", "prepass"])
@pytest.mark.parametrize("capture", [True, False],
                         ids=["capture", "nocapture"])
@pytest.mark.parametrize("op", ["delete", "update"])
@pytest.mark.parametrize("layout", LAYOUTS)
def test_row_rewrite_matches_model(spark, bases, tmp_path, monkeypatch,
                                   layout, op, capture, sizing):
    if sizing == "prepass":
        monkeypatch.setattr(TxnTable, "_OBS_RIDER_MAX", 0)
    t = _copy(bases, layout, tmp_path)
    v0 = t.latest_version()
    if op == "update":
        t.update_where(spark, COND, _set_exprs(layout),
                       capture_changes=capture)
    else:
        t.delete_where(spark, COND, capture_changes=capture)
    _check(spark, t, v0, op, capture, layout)


@pytest.mark.parametrize("capture", [True, False],
                         ids=["capture", "nocapture"])
@pytest.mark.parametrize("layout", LAYOUTS)
def test_dv_delete_matches_model(spark, bases, tmp_path, layout, capture):
    """The DV delete masks exactly the TRUE rows on every layout —
    escaped partition segments included — and rewrites no data."""
    t = _copy(bases, layout, tmp_path)
    v0 = t.latest_version()
    live = t.snapshot_dirs()
    t.delete_where(spark, COND, capture_changes=capture, use_dv=True)
    assert t.snapshot_dirs() == live
    _check(spark, t, v0, "delete", capture, layout)
    # a second DV delete over the same dirs carries the first's
    # positions forward and re-masks nothing
    v1 = t.latest_version()
    assert t.delete_where(spark, COND, use_dv=True) == v1


@pytest.mark.parametrize("layout", ["flat", "single_key", "dv_live"])
@pytest.mark.parametrize("call", ["delete", "update", "delete_dv"])
def test_nondeterministic_condition_refused_on_every_layout(
        spark, bases, tmp_path, layout, call):
    """A rand() condition would be evaluated once to size or capture
    and again to rewrite, deleting one set of rows and recording
    another: every layout and op refuses it the same way, before any
    file is written."""
    t = _copy(bases, layout, tmp_path)
    v0 = t.latest_version()
    with pytest.raises(ValueError, match="nondeterministic condition"):
        if call == "update":
            t.update_where(spark, "rand() < 0.5", {"x": "0"})
        else:
            t.delete_where(spark, "rand() < 0.5",
                           use_dv=call == "delete_dv")
    assert t.latest_version() == v0
    assert not _orphans(t)
