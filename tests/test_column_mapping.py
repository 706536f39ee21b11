"""Column mapping (r11, VERDICT r10 #2): RENAME/DROP COLUMN as
metadata-only commits — files keep PHYSICAL names, reads alias to each
version's logical view. These pin the era-correct time travel, the
CDF-across-rename contract, the re-add-never-resurrects invariant, the
DV/evolution interactions, protocol gating, and the compaction sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources import (
    txnlog as TL,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)


def _t(spark, tmp_path, name="t"):
    t = TxnTable(str(tmp_path / name))
    t.append(spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)],
        "id int, val string, score double"))
    return t


def test_rename_is_metadata_only_and_era_correct(spark, tmp_path):
    t = _t(spark, tmp_path)
    v0 = t.latest_version()
    t.rename_column("val", "name")
    doc = t._doc(t.latest_version())  # noqa: SLF001
    assert doc["adds"] == [] and doc["removes"] == []  # zero data I/O
    assert t.read(spark).columns == ["id", "name", "score"]
    assert t.read(spark, version=v0).columns == ["id", "val", "score"]
    got = {(r["id"], r["name"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "b")}
    # appends keep working, frames use the NEW logical name
    t.append(spark.createDataFrame([(3, "c", 3.0)],
                                   "id int, name string, score double"))
    assert t.read(spark).count() == 3
    # the old name is rejected now
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.append(spark.createDataFrame(
            [(4, "d", 4.0)], "id int, val string, score double"))


def test_drop_is_metadata_only_and_swept_by_compaction(spark, tmp_path):
    import glob
    import os

    import pyarrow.parquet as pq

    t = _t(spark, tmp_path)
    t.drop_column("score")
    assert t.read(spark).columns == ["id", "val"]
    assert t.read(spark, version=0).columns == ["id", "val", "score"]
    # the physical column still sits in the v0 files (metadata-only)
    d0 = t._doc(0)["adds"][0]  # noqa: SLF001
    f0 = glob.glob(os.path.join(t.path, d0, "*.parquet"))[0]
    assert "score" in pq.read_schema(f0).names
    # compaction reads the logical view and rewrites: physically gone
    t.compact(spark)
    dn = t._doc(t.latest_version())["adds"][0]  # noqa: SLF001
    fn = glob.glob(os.path.join(t.path, dn, "*.parquet"))[0]
    assert "score" not in pq.read_schema(fn).names
    assert t.read(spark).columns == ["id", "val"]
    # time travel BELOW the compaction still shows the dropped era...
    assert t.read(spark, version=0).columns == ["id", "val", "score"]


def test_readd_never_resurrects_orphaned_data(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.rename_column("score", "rating")   # physical 'score' now = rating
    t.drop_column("rating")              # orphaned
    # re-adding 'score' must NOT alias onto the orphaned physical col
    t.append(spark.createDataFrame(
        [(3, "c", 9.9)], "id int, val string, score double"),
        merge_schema=True)
    got = {(r["id"], r["score"]) for r in t.read(spark).collect()}
    assert got == {(1, None), (2, None), (3, 9.9)}
    mapping = t.column_mapping(None)
    assert mapping["score"] != "score"  # fresh physical name assigned


def test_cdf_across_rename_returns_anchor_names(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.rename_column("val", "name")
    t.append(spark.createDataFrame([(3, "c", 3.0)],
                                   "id int, name string, score double"))
    ch = t.read_changes(spark, since_version=-1)
    assert set(ch.columns) == {"id", "name", "score",
                               "_change_type", "_commit_version"}
    got = {(r["id"], r["name"], r["_commit_version"])
           for r in ch.collect()}
    assert got == {(1, "a", 0), (2, "b", 0), (3, "c", 2)}
    # a window anchored BEFORE the rename (upto) shows era names
    era = t.read_changes(spark, since_version=-1, upto=0)
    assert "val" in era.columns and "name" not in era.columns


def test_merge_and_dv_delete_on_renamed_column(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.rename_column("val", "name")
    # MERGE upserts by key with the logical names
    t.merge(spark, spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0)],
        "id int, name string, score double"), "id")
    got = {(r["id"], r["name"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # the merge's change feed reads back under logical names
    ch = t.read_changes(spark, since_version=1)
    assert {(r["id"], r["_change_type"]) for r in ch.collect()} == {
        (3, "insert"), (2, "update_preimage"), (2, "update_postimage")}
    # DV delete with a predicate on the RENAMED column: metadata-only
    base = t.latest_version()
    t.delete_where(spark, "name = 'B'", use_dv=True)
    doc = t._doc(t.latest_version())  # noqa: SLF001
    assert doc["adds"] == [] and doc["removes"] == [] and doc["dvs"]
    got = {r["id"] for r in t.read(spark).collect()}
    assert got == {1, 3}
    assert t.read(spark, version=base).count() == 3  # time travel


def test_restore_across_mapping_boundary(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.rename_column("val", "name")
    t.drop_column("score")
    t.restore(0)
    assert t.read(spark).columns == ["id", "val", "score"]
    assert t.column_mapping(None) is None  # era mapping (identity)
    # physical_used stays cumulative: a later evolution can't reuse
    assert "score" in t._physical_used(None)  # noqa: SLF001


def test_clone_carries_mapping_and_protocol(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.rename_column("val", "name")
    c = t.clone(str(tmp_path / "c"))
    assert c.read(spark).columns == ["id", "name", "score"]
    assert c.column_mapping(None) == t.column_mapping(None)
    import json
    import os

    proto = json.load(open(os.path.join(c.log_dir, "protocol.json")))
    assert proto["min_reader_version"] >= TL.CM_READER_VERSION


def test_premapping_reader_refuses(spark, tmp_path, monkeypatch):
    t = _t(spark, tmp_path)
    t.rename_column("val", "name")
    t2 = TxnTable(t.path)  # fresh instance: no cached protocol
    monkeypatch.setattr(TL, "_READER_CAPABILITY", 2)
    with pytest.raises(TL.TxnProtocolError, match="protocol >= 3"):
        t2.read(spark)


def test_stats_pruning_translates_renamed_column(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, float(i)) for i in range(10)],
                                   "id int, v double"))
    t.append(spark.createDataFrame(
        [(i, float(i)) for i in range(100, 110)], "id int, v double"))
    t.rename_column("v", "value")
    assert t.stats_minmax("value") == (0.0, 109.0)
    assert len(t.pruned_dirs("value", lo=100.0)) == 1
    got = {r["id"] for r in
           t.read_range(spark, "value", lo=100.0).collect()}
    assert got == set(range(100, 110))


def test_zorder_compaction_on_mapped_table(spark, tmp_path):
    """The Z-order rewrite bypasses _write_data's chokepoint — it must
    still write PHYSICAL names on a mapped table, and the range-pruned
    read on the renamed column must stay exact through the rewrite."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(i, float(i % 7)) for i in range(200)], "id int, v double"))
    t.rename_column("v", "value")
    t.compact_zorder(spark, ["id", "value"], target_dirs=4)
    got = {r["id"] for r in
           t.read_range(spark, "id", lo=150).collect()}
    assert got == set(range(150, 200))
    assert t.read(spark).columns == ["id", "value"]
    # the rewritten files carry the PHYSICAL name
    import glob
    import os

    import pyarrow.parquet as pq

    dn = t._doc(t.latest_version())["adds"][0]  # noqa: SLF001
    f = glob.glob(os.path.join(t.path, dn, "*.parquet"))[0]
    assert "v" in pq.read_schema(f).names
    assert "value" not in pq.read_schema(f).names


def test_reads_mapped_table(spark, tmp_path, feed_to_parquet):
    t = _t(spark, tmp_path)
    t.rename_column("val", "name")
    t.drop_column("score")
    t.append(spark.createDataFrame([(3, "c")], "id int, name string"))
    df = t.read(spark)
    assert df.columns == ["id", "name"]
    assert {(r["id"], r["name"]) for r in df.collect()} == {
        (1, "a"), (2, "b"), (3, "c")}
    # time travel shows era names
    old = t.read(spark, version=0)
    assert old.columns == ["id", "val", "score"]
    # the change feed surfaces logical names
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    feed_to_parquet(t.path, out, ck)
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["id", "name"]
    assert got.count() == 3


def test_streaming_cdf_across_rename(spark, tmp_path, feed_to_parquet):
    """The streaming change feed across a rename boundary: pre- and
    post-rename commits stream under the CURRENT logical names (the
    physical names are the stable era join key), with
    _change_type/_commit_version attached."""
    t = _t(spark, tmp_path)
    t.rename_column("val", "name")
    t.merge(spark, spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0)],
        "id int, name string, score double"), "id")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    feed_to_parquet(t.path, out, ck, cdf=True)
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["_change_type", "_commit_version",
                                   "id", "name", "score"]
    rows = {(r["id"], r["name"], r["_change_type"])
            for r in got.collect()}
    assert rows == {(1, "a", "insert"), (2, "b", "insert"),
                    (3, "c", "insert"), (2, "b", "update_preimage"),
                    (2, "B", "update_postimage")}


def test_evolution_across_rename(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.rename_column("val", "name")
    # mergeSchema append of a NEW column on the mapped table
    t.append(spark.createDataFrame(
        [(3, "c", 3.0, "en")],
        "id int, name string, score double, lang string"),
        merge_schema=True)
    got = {(r["id"], r["lang"]) for r in t.read(spark).collect()}
    assert got == {(1, None), (2, None), (3, "en")}
    # autoMerge MERGE adding another column
    t.merge(spark, spark.createDataFrame(
        [(1, "A", 1.0, "fr", "x")],
        "id int, name string, score double, lang string, src string"),
        "id", auto_merge=True)
    cur = t.read(spark)
    assert cur.columns == ["id", "name", "score", "lang", "src"]
    got = {(r["id"], r["name"], r["src"]) for r in cur.collect()}
    assert got == {(1, "A", "x"), (2, "b", None), (3, "c", None)}
    # rename one of the EVOLVED columns and read back
    t.rename_column("lang", "language")
    got = {(r["id"], r["language"]) for r in t.read(spark).collect()}
    assert got == {(1, "fr"), (2, None), (3, "en")}
