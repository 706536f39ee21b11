"""_delta_log interop (r13, VERDICT r12 missing #3): export a txn
table's history as a Delta-protocol JSON log and read Delta-format
directories with plain Spark (no delta jars). Reference anchor: the
reference's Delta sink/consumer pair (spark/SaveDelta.scala:157-163,
airflow/config/read_delta.py:219-222) — this is the boundary a real
deployment swaps at."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
    export_delta_log,
    read_delta_dir,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)


def _orders(spark, n=120):
    return (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .orderBy("o_orderkey").limit(n))


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_export_roundtrip_plain_table(spark, tmp_path):
    """append → delete (rewrite) → overwrite history exports one JSON
    commit per txn version; the pure-Spark reader reproduces every
    version's snapshot (Delta version numbers == txn versions)."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "t"))
    t.append(o.limit(80))
    t.append(o.offset(80))
    t.delete_where(spark, "o_orderkey % 7 = 0")  # rewrite mode (no DV)
    log_dir = export_delta_log(t)
    names = sorted(f for f in os.listdir(log_dir)
                   if f[:1].isdigit())  # Delta version files only —
    # the _samdis_export sidecar (incremental-export state) is
    # invisible to the Delta version regex
    assert names == [f"{v:020d}.json" for v in range(3)]
    # commit 0 carries protocol + metaData
    with open(os.path.join(log_dir, names[0])) as fh:
        kinds = [next(iter(json.loads(ln))) for ln in fh if ln.strip()]
    assert kinds[0] == "protocol" and "metaData" in kinds
    got = read_delta_dir(spark, t.path)
    assert _rows(got.select("o_orderkey", "o_totalprice")) == _rows(
        t.read(spark).select("o_orderkey", "o_totalprice"))
    # time travel through the exported log matches txn time travel
    for v in (0, 1, 2):
        assert read_delta_dir(spark, t.path, version=v).count() \
            == t.read(spark, version=v).count()


def test_export_roundtrip_partitioned_generated(spark, tmp_path):
    """Partition-by-generated layout: add actions carry decoded
    partitionValues, metaData carries partitionColumns + the generated
    expression in field metadata, and the reader re-attaches the key
    from the log via one broadcast mapping (values match the engine's
    own read bit-for-bit)."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "p"))
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    t.append(o)
    t.overwrite_partitions(
        o.limit(30).withColumn("o_totalprice",
                               F.col("o_totalprice") * 2),
        "order_month")
    log_dir = export_delta_log(t)
    meta = None
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        for ln in fh:
            a = json.loads(ln)
            if "metaData" in a:
                meta = a["metaData"]
            if "add" in a:
                assert set(a["add"]["partitionValues"]) == {
                    "order_month"}
    assert meta is not None
    assert meta["partitionColumns"] == ["order_month"]
    fields = {f["name"]: f
              for f in json.loads(meta["schemaString"])["fields"]}
    assert "order_month" in fields
    assert fields["order_month"]["type"] == "string"  # recorded type
    assert (fields["order_month"].get("metadata", {})
            .get("delta.generationExpression")
            == "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    got = read_delta_dir(spark, t.path)
    want = t.read(spark)
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(got.select(*cols)) == _rows(want.select(*cols))
    assert _rows(got.select(
        "o_orderkey", F.col("order_month").cast("string"))) == _rows(
        want.select("o_orderkey", F.col("order_month").cast("string")))


def test_export_refusals_are_loud(spark, tmp_path):
    """DV-bearing and column-mapped snapshots refuse to export with a
    remedial hint — silently dropping the mask or the mapping would
    corrupt the foreign reader's view."""
    o = _orders(spark, 40)
    t = TxnTable(str(tmp_path / "dv"))
    t.append(o)
    t.delete_where(spark, "o_orderkey % 3 = 0", use_dv=True)
    with pytest.raises(ValueError, match="deletion vectors"):
        export_delta_log(t)
    # materialize_dvs: ONE export-only OPTIMIZE commit swaps the
    # masked dirs — the txn table keeps its DVs and version count
    v_txn = t.latest_version()
    export_delta_log(t, spark, materialize_dvs=True)
    got = read_delta_dir(spark, t.path)
    assert got.filter("o_orderkey % 3 = 0").count() == 0
    assert got.count() == t.read(spark).count()
    assert t.latest_version() == v_txn          # txn untouched
    assert t.snapshot_dvs()                     # DVs still live
    # pre-materialization version through the exported log: unmasked
    # (the documented DV-era caveat)
    assert read_delta_dir(spark, t.path, version=v_txn).count() == 40
    # a full compact still works as the alternative
    t.compact(spark)
    export_delta_log(t)
    got2 = read_delta_dir(spark, t.path)
    assert got2.count() == t.read(spark).count()
    assert got2.filter("o_orderkey % 3 = 0").count() == 0

def test_export_name_mapped_table_roundtrip(spark, tmp_path):
    """Column-mapped (name mode) tables EXPORT now (r14, VERDICT r13
    #5): physical parquet names stay in the files, the metaData's
    logical schema carries delta.columnMapping.physicalName/.id field
    metadata with ids stable across the history, the activating commit
    emits the protocol upgrade, and the foreign reader renames back —
    byte-equal to the engine's own read."""
    o = _orders(spark, 60)
    m = TxnTable(str(tmp_path / "cm"))
    m.append(o)
    m.rename_column("o_totalprice", "price")
    m.append(o.offset(60).limit(0).withColumnRenamed(
        "o_totalprice", "price"))  # post-rename era commit
    log_dir = export_delta_log(m)
    # activation-era commit carries the protocol upgrade + mapped meta
    v_act = 1
    kinds, meta = [], None
    with open(os.path.join(log_dir, f"{v_act:020d}.json")) as fh:
        for ln in fh:
            a = json.loads(ln)
            kinds.append(next(iter(a)))
            if "metaData" in a:
                meta = a["metaData"]
    assert "protocol" in kinds
    assert meta is not None
    assert meta["configuration"]["delta.columnMapping.mode"] == "name"
    fields = {f["name"]: f
              for f in json.loads(meta["schemaString"])["fields"]}
    assert fields["price"]["metadata"][
        "delta.columnMapping.physicalName"] == "o_totalprice"
    assert isinstance(
        fields["price"]["metadata"]["delta.columnMapping.id"], int)
    got = read_delta_dir(spark, m.path)
    want = m.read(spark)
    assert set(got.columns) == set(want.columns)
    assert _rows(got.select("o_orderkey", "price")) == _rows(
        want.select("o_orderkey", "price"))
    # pre-activation version still reads with its era's plain schema
    v0 = read_delta_dir(spark, m.path, version=0)
    assert "o_totalprice" in v0.columns and v0.count() == 60


def test_reader_handles_foreign_log_and_checkpoint(spark, tmp_path):
    """A hand-built Delta dir shaped like real delta-spark output —
    hive-style paths, a single-part parquet CHECKPOINT, JSON commits
    after it, an add superseded by a remove — reads correctly: the
    checkpoint supplies the base state, the JSON tail replays over it,
    and the partition column comes back typed from partitionValues."""
    from pyspark.sql.types import StructType

    root = str(tmp_path / "foreign")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    schema = StructType.fromJson(json.loads(
        '{"type":"struct","fields":['
        '{"name":"id","type":"long","nullable":true,"metadata":{}},'
        '{"name":"v","type":"double","nullable":true,"metadata":{}},'
        '{"name":"day","type":"integer","nullable":true,"metadata":{}}'
        ']}'))
    meta = {"id": "x", "format": {"provider": "parquet"},
            "schemaString": json.dumps(schema.jsonValue()),
            "partitionColumns": ["day"],
            "configuration": {"delta.appendOnly": "false"}}

    def write_part(name, rows):
        d = os.path.join(root, os.path.dirname(name))
        os.makedirs(d, exist_ok=True)
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table({"id": pa.array(
            [r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.float64())}),
            os.path.join(root, name))
        return name

    f0 = write_part("day=1/part-000.parquet", [(1, 1.0), (2, 2.0)])
    f1 = write_part("day=2/part-001.parquet", [(3, 3.0)])
    f2 = write_part("day=2/part-002.parquet", [(4, 4.0)])
    f3 = write_part("day=3/part-003.parquet", [(5, 5.0)])

    def add(p, day):
        return {"add": {"path": p, "partitionValues": {"day": str(day)},
                        "size": os.path.getsize(os.path.join(root, p)),
                        "modificationTime": 0, "dataChange": True}}

    # v0: metaData + f0,f1   v1 (CHECKPOINTED): + f2
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps(add(f0, 1)) + "\n")
        fh.write(json.dumps(add(f1, 2)) + "\n")
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps(add(f2, 2)) + "\n")
    # checkpoint at v1: the v0+v1 action state as plain parquet — built
    # the way real writers build it (actions as one struct-typed frame)
    cpdf = spark.read.json([os.path.join(log, f"{0:020d}.json"),
                            os.path.join(log, f"{1:020d}.json")])
    cpdf.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "cp"))
    import glob as g
    import shutil
    shutil.copy(
        g.glob(str(tmp_path / "cp" / "part-*.parquet"))[0],
        os.path.join(log, f"{1:020d}.checkpoint.parquet"))
    # v2 (JSON tail past the checkpoint): remove f1, add f3
    with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"remove": {
            "path": f1, "deletionTimestamp": 0,
            "dataChange": True}}) + "\n")
        fh.write(json.dumps(add(f3, 3)) + "\n")

    got = read_delta_dir(spark, root)
    assert dict(got.dtypes)["day"] == "int"
    assert _rows(got) == {(1, 1.0, 1), (2, 2.0, 1), (4, 4.0, 2),
                          (5, 5.0, 3)}
    # version param: at v1 f1 is still live, f3 absent
    assert _rows(read_delta_dir(spark, root, version=1)) == {
        (1, 1.0, 1), (2, 2.0, 1), (3, 3.0, 2), (4, 4.0, 2)}
    # DV-bearing adds now APPLY (r14 session 3): a foreign inline
    # descriptor masks exactly its row indexes out of the scan
    from sport_advantages_moderne_data_infrastructure_spark.sources.dvcodec import (
        encode_inline,
    )

    with open(os.path.join(log, f"{3:020d}.json"), "w") as fh:
        a = add(f3, 3)
        a["add"]["deletionVector"] = encode_inline([0])  # mask id=5
        fh.write(json.dumps(a) + "\n")
        fh.write(json.dumps({"remove": {
            "path": f3, "deletionTimestamp": 3,
            "dataChange": True}}) + "\n")
    assert _rows(read_delta_dir(spark, root)) == {
        (1, 1.0, 1), (2, 2.0, 1), (4, 4.0, 2)}
    # a MALFORMED descriptor fails loudly at materialization, never a
    # silent wrong mask
    with open(os.path.join(log, f"{4:020d}.json"), "w") as fh:
        a = add(f3, 3)
        a["add"]["deletionVector"] = {"storageType": "u"}
        fh.write(json.dumps(a) + "\n")
    with pytest.raises(Exception, match="malformed deletion vector"):
        read_delta_dir(spark, root).count()


def test_reader_empty_and_retrofit_layouts(spark, tmp_path):
    """A fully-removed log reads as an empty frame of the declared
    schema; a repartition_table retrofit exports with the LAST metaData
    carrying the new layout and the reader follows it."""
    o = _orders(spark, 50)
    t = TxnTable(str(tmp_path / "r"))
    t.append(o)
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.repartition_table(spark, "order_month")
    export_delta_log(t)
    got = read_delta_dir(spark, t.path)
    assert got.count() == 50
    assert "order_month" in got.columns
    assert _rows(got.select("o_orderkey", F.col("order_month")
                            .cast("string"))) == _rows(
        t.read(spark).select("o_orderkey", F.col("order_month")
                             .cast("string")))
    # pre-retrofit version through the exported log: plain layout
    v0 = read_delta_dir(spark, t.path, version=0)
    assert v0.count() == 50

    e = TxnTable(str(tmp_path / "e"))
    e.append(o.limit(10))
    e.delete_where(spark, "o_orderkey IS NOT NULL")  # purge everything
    export_delta_log(e)
    empty = read_delta_dir(spark, e.path)
    assert empty.count() == 0
    assert "o_orderkey" in empty.columns


def test_export_checkpoint_and_log_retention(spark, tmp_path):
    """export_delta_checkpoint writes a single-part parquet checkpoint
    + _last_checkpoint at the latest version; the reader then plans
    from it, so JSON commits at/below the checkpoint can be cleaned up
    (Delta's logRetentionDuration) without losing the snapshot."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    o = _orders(spark, 90)
    t = TxnTable(str(tmp_path / "cp"))
    t.append(o.limit(30))
    t.append(o.offset(30).limit(30))
    t.delete_where(spark, "o_orderkey % 5 = 0")
    export_delta_log(t)
    want = _rows(t.read(spark).select("o_orderkey", "o_totalprice"))

    cp = export_delta_checkpoint(spark, t.path)
    log = os.path.join(t.path, "_delta_log")
    assert os.path.basename(cp) == f"{2:020d}.checkpoint.parquet"
    last = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert last["version"] == 2
    # simulate log retention: drop every JSON commit the checkpoint
    # covers — the snapshot must survive on checkpoint state alone
    for v in range(3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = read_delta_dir(spark, t.path)
    assert _rows(got.select("o_orderkey", "o_totalprice")) == want
    # a new export tail past the checkpoint keeps composing
    t.append(o.offset(60))
    export_delta_log(t)  # rewrites the full log; v3 is the new tail
    got2 = read_delta_dir(spark, t.path)
    assert got2.count() == t.read(spark).count()


def test_export_schema_evolving_partitioned_overwrite(spark, tmp_path):
    """Schema evolution on a PARTITIONED table rides overwrite() of
    the evolved shape (merge_schema appends are refused on declared
    layouts), and a partitioned commit records no doc schema (the key
    lives in the path) — the exporter must merge the adds' footer
    struct over the carried schema so the widened column reaches
    metaData instead of being silently dropped."""
    o = _orders(spark, 60)
    t = TxnTable(str(tmp_path / "evo"))
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    t.append(o.limit(30))
    t.overwrite(o.withColumn(
        "note", F.concat(F.lit("n"), F.col("o_orderkey"))))
    export_delta_log(t)
    got = read_delta_dir(spark, t.path)
    assert "note" in got.columns
    assert got.filter("note IS NOT NULL").count() == 60
    assert got.count() == 60
    # the pre-evolution version still reads with its own (narrower)
    # metaData through the exported log
    v0 = read_delta_dir(spark, t.path, version=0)
    assert "note" not in v0.columns and v0.count() == 30


def test_reader_name_mode_column_mapping(spark, tmp_path):
    """A foreign Delta table with columnMapping.mode=name (the shape
    every renamed/dropped-column Delta table has): files carry
    PHYSICAL col-<uuid> names, partitionValues key physically, and the
    reader renames back through the schema's field metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "cmname")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    schema_json = {
        "type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName":
                              "col-aaa"}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName":
                              "col-bbb"}},
            {"name": "day", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName":
                              "col-ccc"}},
        ]}
    meta = {"id": "y", "format": {"provider": "parquet"},
            "schemaString": json.dumps(schema_json),
            "partitionColumns": ["day"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"}}

    def write_part(name, rows):
        os.makedirs(os.path.join(root, os.path.dirname(name)) or root,
                    exist_ok=True)
        pq.write_table(pa.table({
            "col-aaa": pa.array([r[0] for r in rows], pa.int64()),
            "col-bbb": pa.array([r[1] for r in rows], pa.float64())}),
            os.path.join(root, name))
        return name

    f0 = write_part("part-000.parquet", [(1, 1.0), (2, 2.0)])
    f1 = write_part("part-001.parquet", [(3, 3.0)])
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for p, d in ((f0, "7"), (f1, "8")):
            fh.write(json.dumps({"add": {
                "path": p, "partitionValues": {"col-ccc": d},
                "size": os.path.getsize(os.path.join(root, p)),
                "modificationTime": 0, "dataChange": True}}) + "\n")
    got = read_delta_dir(spark, root)
    assert set(got.columns) == {"id", "v", "day"}
    assert dict(got.dtypes)["day"] == "int"
    assert _rows(got) == {(1, 1.0, 7), (2, 2.0, 7), (3, 3.0, 8)}
    # 'id' mode is READ natively now (r14 session 3, parquet field-id
    # resolution) — but THESE files carry no field ids, so the scan
    # must fail loudly (a field-id-less file under an id-mode table is
    # corrupt) rather than silently resolve by name; an unknown future
    # mode still refuses up front
    meta2 = {**meta, "configuration": {
        "delta.columnMapping.mode": "id"}}
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta2}) + "\n")
    # NB: .collect(), not .count() — a count prunes every data column
    # out of the scan, so no field id is ever requested
    with pytest.raises(Exception, match="[Ff]ield Id|field id"):
        read_delta_dir(spark, root).collect()
    meta3 = {**meta, "configuration": {
        "delta.columnMapping.mode": "something-new"}}
    with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta3}) + "\n")
    with pytest.raises(ValueError, match="column mapping mode"):
        read_delta_dir(spark, root)


def test_materialize_dvs_on_partitioned_table(spark, tmp_path):
    """DV materialization export on a PARTITIONED table: only the
    masked subdirs rewrite (cold partitions keep their original files
    in the exported log), partitionValues survive, and the exported
    snapshot equals the engine's own DV-masked read."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        read_delta_dir as rdd,
    )

    o = _orders(spark, 100)
    t = TxnTable(str(tmp_path / "pdv"))
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    t.append(o)
    t.delete_where(spark, "o_orderkey % 4 = 0", use_dv=True)
    dv_dirs = set(t.snapshot_dvs())
    assert dv_dirs
    export_delta_log(t, spark, materialize_dvs=True)
    got = rdd(spark, t.path)
    want = t.read(spark)
    assert got.count() == want.count()
    assert got.filter("o_orderkey % 4 = 0").count() == 0
    assert _rows(got.select(
        "o_orderkey", F.col("order_month").cast("string"))) == _rows(
        want.select("o_orderkey", F.col("order_month").cast("string")))
    # cold partitions keep their ORIGINAL files in the exported view
    cold = [f for f in got.inputFiles()
            if "/data/" in f
            and not any(d in f for d in dv_dirs)]
    assert cold, "expected untouched original files for unmasked dirs"


# --- r14: distributed replay, multi-part checkpoints, path encoding ------


def test_multipart_checkpoint_roundtrip(spark, tmp_path):
    """parts>1 emits a spec-named multi-part checkpoint
    (<v>.checkpoint.<i>.<n>.parquet + parts in _last_checkpoint); the
    reader unions the parts and survives log retention on them alone.
    An INCOMPLETE part set is skipped (never a partial read): with the
    JSON log still present replay stays correct, and with the log
    cleaned the reader fails loudly instead of dropping files."""
    import glob
    import re

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    o = _orders(spark, 90)
    t = TxnTable(str(tmp_path / "mp"))
    t.append(o.limit(45))
    t.append(o.offset(45))
    t.delete_where(spark, "o_orderkey % 3 = 0")
    export_delta_log(t)
    want = _rows(t.read(spark).select("o_orderkey", "o_totalprice"))
    export_delta_checkpoint(spark, t.path, parts=3)
    log = os.path.join(t.path, "_delta_log")
    parts = sorted(glob.glob(os.path.join(
        log, "*.checkpoint.*.parquet")))
    assert len(parts) >= 2  # multi-part set landed
    pat = re.compile(r"\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
    ns = {pat.search(p).group(2) for p in parts}
    assert len(ns) == 1 and int(next(iter(ns))) == len(parts)
    last = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert last["parts"] == len(parts)
    # retention: snapshot survives on the multi-part checkpoint alone
    for v in range(t.latest_version() + 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = read_delta_dir(spark, t.path)
    assert _rows(got.select("o_orderkey", "o_totalprice")) == want
    # incomplete part set: reader must not read the remaining parts
    os.remove(parts[-1])
    with pytest.raises(ValueError, match="no commits|metaData"):
        read_delta_dir(spark, t.path)


def test_checkpoint_is_spec_shaped(spark, tmp_path):
    """The exported checkpoint carries the EXPLICIT protocol schema
    (ADVICE r13): map<string,string> partitionValues (not a
    JSON-inferred struct) and remove tombstones for the dead set —
    what a FOREIGN reader plans from."""
    from pyspark.sql.types import MapType

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    o = _orders(spark, 60)
    t = TxnTable(str(tmp_path / "shape"))
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    t.append(o)
    t.overwrite_partitions(
        o.limit(20).withColumn("o_totalprice",
                               F.col("o_totalprice") * 2),
        "order_month")
    export_delta_log(t)
    cp = export_delta_checkpoint(spark, t.path)
    cpdf = spark.read.parquet(cp)
    add_t = cpdf.schema["add"].dataType
    assert isinstance(add_t["partitionValues"].dataType, MapType)
    assert "remove" in cpdf.columns
    n_tomb = cpdf.filter("remove IS NOT NULL").count()
    assert n_tomb > 0  # the overwritten partitions' dead files
    pv = cpdf.filter("add IS NOT NULL") \
        .selectExpr("add.partitionValues['order_month'] AS m").collect()
    assert all(r["m"] for r in pv)
    # and protocol + metaData rows are present exactly once
    assert cpdf.filter("protocol IS NOT NULL").count() == 1
    assert cpdf.filter("metaData IS NOT NULL").count() == 1


def test_path_encoding_roundtrip_hostile_values(spark, tmp_path):
    """ADVICE r13 (medium): partition values containing ':', '=', '%',
    '+' and spaces Hive-escape on disk; the exported action paths are
    RFC-percent-encoded so the reader's decode recovers the on-disk
    name — the exact corruption class where a raw path resolves to a
    nonexistent file. Verified end-to-end: export -> read_delta_dir
    equals the engine's own read, and verify=True's existence check
    passes (it would raise on any drift)."""
    rows = [(1, "a:b"), (2, "c=d"), (3, "e%3Af"), (4, "g h"),
            (5, "i+j"), (6, "k%l")]
    df = spark.createDataFrame(rows, "id int, k string")
    t = TxnTable(str(tmp_path / "hostile"))
    t.set_partition_column("k")
    t.append(df)
    log_dir = export_delta_log(t)
    # the log's add paths must be percent-encoded (no raw '%XX' that
    # decodes into a different on-disk name)
    from urllib.parse import unquote
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        adds = [json.loads(ln)["add"] for ln in fh
                if ln.strip() and "add" in json.loads(ln)]
    assert adds
    for a in adds:
        decoded = unquote(a["path"])
        assert os.path.isfile(os.path.join(t.path, decoded)), decoded
    got = read_delta_dir(spark, t.path)
    assert _rows(got) == set(rows)
    # verify=False path (inner-join liveness) agrees
    assert _rows(read_delta_dir(spark, t.path, verify=False)) \
        == set(rows)


def test_verify_raises_on_missing_file(spark, tmp_path):
    """verify=True (default) proves every logged file exists before
    the scan: deleting a data file out from under the log raises with
    the missing name instead of silently returning fewer rows (ADVICE
    r13: a mapping miss must fail loudly)."""
    o = _orders(spark, 40)
    t = TxnTable(str(tmp_path / "miss"))
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    t.append(o)
    export_delta_log(t)
    victim = None
    for root, _, files in os.walk(t.path):
        if "_delta_log" in root:
            continue
        for f in files:
            if f.endswith(".parquet"):
                victim = os.path.join(root, f)
                break
        if victim:
            break
    os.remove(victim)
    with pytest.raises(ValueError, match="missing"):
        read_delta_dir(spark, t.path)


def test_reader_distributed_tail_over_checkpoint(spark, tmp_path):
    """Tail semantics over a checkpoint, applied as anti-join + union:
    a checkpointed add REMOVED in the tail disappears, a checkpointed
    add RE-ADDED in the tail takes the tail's action (no duplicate),
    and a fresh tail add appears — plus version-pinned time travel
    below the checkpoint falls back to pure JSON replay."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    o = _orders(spark, 80)
    t = TxnTable(str(tmp_path / "tail"))
    t.append(o.limit(40))
    t.append(o.offset(40).limit(20))
    export_delta_log(t)
    export_delta_checkpoint(spark, t.path)  # checkpoint at v1
    # tail past the checkpoint: a delete rewrite (removes + re-adds
    # surviving rows) and a fresh append
    t.delete_where(spark, "o_orderkey % 2 = 0")
    t.append(o.offset(60))
    export_delta_log(t)  # rewrites JSON; checkpoint at v1 still valid
    got = read_delta_dir(spark, t.path)
    want = t.read(spark)
    assert _rows(got.select("o_orderkey", "o_totalprice")) == _rows(
        want.select("o_orderkey", "o_totalprice"))
    assert got.count() == want.count()  # no dup from re-added files
    # time travel below the checkpoint (pure JSON replay)
    assert read_delta_dir(spark, t.path, version=0).count() == 40


def test_foreign_multikey_name_mapped_evolved(spark, tmp_path):
    """Composition the r13 suite tested only separately (VERDICT r13
    #5): a FOREIGN log with a MULTI-KEY partition layout under
    name-mode column mapping and an evolved (widened) schema, with a
    spec-shaped multi-part checkpoint carrying >1 physically-keyed
    partitionValues — reads back with logical names, typed keys, and
    the evolved column null-filled for pre-evolution files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "compose")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)

    def fld(name, typ, fid, phys):
        return {"name": name, "type": typ, "nullable": True,
                "metadata": {"delta.columnMapping.id": fid,
                             "delta.columnMapping.physicalName": phys}}

    schema_v0 = {"type": "struct", "fields": [
        fld("id", "long", 1, "col-i"), fld("v", "double", 2, "col-v"),
        fld("year", "integer", 3, "col-y"),
        fld("region", "string", 4, "col-r")]}
    schema_v1 = {"type": "struct",
                 "fields": schema_v0["fields"]
                 + [fld("note", "string", 5, "col-n")]}

    def meta(sjson):
        return {"id": "z", "format": {"provider": "parquet"},
                "schemaString": json.dumps(sjson),
                "partitionColumns": ["year", "region"],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "5"}}

    def write_part(name, rows, with_note=False):
        os.makedirs(os.path.join(root, os.path.dirname(name)),
                    exist_ok=True)
        cols = {"col-i": pa.array([r[0] for r in rows], pa.int64()),
                "col-v": pa.array([r[1] for r in rows], pa.float64())}
        if with_note:
            cols["col-n"] = pa.array([r[2] for r in rows],
                                     pa.string())
        pq.write_table(pa.table(cols), os.path.join(root, name))
        return name

    f0 = write_part("year=2023/region=EU/p0.parquet",
                    [(1, 1.0), (2, 2.0)])
    f1 = write_part("year=2024/region=US/p1.parquet", [(3, 3.0)])
    f2 = write_part("year=2024/region=EU/p2.parquet",
                    [(4, 4.0, "n4")], with_note=True)

    def add(p, y, r):
        return {"add": {
            "path": p,
            "partitionValues": {"col-y": str(y), "col-r": r},
            "size": os.path.getsize(os.path.join(root, p)),
            "modificationTime": 0, "dataChange": True}}

    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": meta(schema_v0)}) + "\n")
        fh.write(json.dumps(add(f0, 2023, "EU")) + "\n")
        fh.write(json.dumps(add(f1, 2024, "US")) + "\n")
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta(schema_v1)}) + "\n")
        fh.write(json.dumps(add(f2, 2024, "EU")) + "\n")

    got = read_delta_dir(spark, root)
    assert set(got.columns) == {"id", "v", "year", "region", "note"}
    assert dict(got.dtypes)["year"] == "int"
    assert _rows(got) == {
        (1, 1.0, 2023, "EU", None), (2, 2.0, 2023, "EU", None),
        (3, 3.0, 2024, "US", None), (4, 4.0, 2024, "EU", "n4")}
    # now roundtrip THROUGH this module's spec-shaped checkpoint:
    # multi-part, physically-keyed multi-key partitionValues
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )
    export_delta_checkpoint(spark, root, parts=2)
    for v in range(2):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    again = read_delta_dir(spark, root)
    assert _rows(again) == _rows(got)


def test_reader_partition_predicate_pushdown(spark, tmp_path):
    """read_delta_dir(where=...): the partition predicate filters the
    DISTRIBUTED adds manifest before any listing or scanning — the
    pruned plan's inputFiles contain only matching partition dirs, the
    rows equal the unpruned read's filtered rows, and non-partition
    predicates refuse loudly (r14 — Delta's partition pruning on the
    foreign-read path)."""
    o = _orders(spark, 120)
    t = TxnTable(str(tmp_path / "pp"))
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    t.append(o)
    export_delta_log(t)
    pruned = read_delta_dir(spark, t.path,
                            where="order_month >= '1999-01'")
    files = pruned.inputFiles()
    assert files
    for f in files:
        seg = [s for s in f.split("/")
               if s.startswith("order_month=")][0]
        assert seg.split("=", 1)[1] >= "1999-01", f
    want = read_delta_dir(spark, t.path).filter(
        "order_month >= '1999-01'")
    assert _rows(pruned.select("o_orderkey", "o_totalprice")) == _rows(
        want.select("o_orderkey", "o_totalprice"))
    assert pruned.count() == want.count() > 0
    # empty survivor set is an answer, not an error
    assert read_delta_dir(spark, t.path,
                          where="order_month >= '2999-01'").count() == 0
    with pytest.raises(ValueError, match="partition columns"):
        read_delta_dir(spark, t.path, where="o_totalprice > 10")
    flat = TxnTable(str(tmp_path / "flatpp"))
    flat.append(o)
    export_delta_log(flat)
    with pytest.raises(ValueError, match="unpartitioned"):
        read_delta_dir(spark, flat.path, where="order_month = 'x'")


def test_incremental_export_is_idempotent_and_stable(spark, tmp_path):
    """Re-export after new commits writes ONLY the new versions (r14:
    per-commit export is O(delta), not O(history)); already-exported
    JSON files are untouched byte-for-byte, the Delta table id stays
    STABLE across exports (foreign readers treat an id change as a
    different table), and a corrupted sidecar degrades to a correct
    full rewrite."""
    o = _orders(spark, 90)
    t = TxnTable(str(tmp_path / "inc"))
    t.append(o.limit(30))
    t.append(o.offset(30).limit(30))
    log_dir = export_delta_log(t)

    def read_json(v):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            return fh.read()

    def table_id_of(v=0):
        for ln in read_json(v).splitlines():
            a = json.loads(ln)
            if "metaData" in a:
                return a["metaData"]["id"]
        return None

    before = {v: read_json(v) for v in (0, 1)}
    tid = table_id_of()
    mtimes = {v: os.path.getmtime(os.path.join(
        log_dir, f"{v:020d}.json")) for v in (0, 1)}
    t.append(o.offset(60))
    t.delete_where(spark, "o_orderkey % 5 = 0")
    export_delta_log(t)
    # old commits untouched, new ones appended, id stable
    for v in (0, 1):
        assert read_json(v) == before[v]
        assert os.path.getmtime(os.path.join(
            log_dir, f"{v:020d}.json")) == mtimes[v]
    assert os.path.isfile(os.path.join(log_dir, f"{3:020d}.json"))
    assert table_id_of() == tid
    got = read_delta_dir(spark, t.path)
    assert _rows(got.select("o_orderkey", "o_totalprice")) == _rows(
        t.read(spark).select("o_orderkey", "o_totalprice"))
    # a metaData change mid-history (schema evolution) still only
    # exports the tail, carrying the fingerprint across exports
    t.overwrite(t.read(spark).withColumn(
        "flag", F.lit("x")))
    export_delta_log(t)
    assert read_json(0) == before[0]
    tail = read_json(t.latest_version())
    assert "metaData" in tail  # evolved schema re-emitted in the tail
    assert "flag" in read_delta_dir(spark, t.path).columns
    # corrupted sidecar -> full rewrite, still correct (id may rotate)
    with open(os.path.join(log_dir, "_samdis_export"), "w") as fh:
        fh.write("{broken")
    export_delta_log(t)
    got2 = read_delta_dir(spark, t.path)
    assert got2.count() == t.read(spark).count()


def test_incremental_export_survives_txn_vacuum(spark, tmp_path):
    """After txn vacuum drops old version docs/files, the incremental
    export keeps working for NEW commits — previously-exported
    versions stand as written (a full rewrite could no longer expand
    them)."""
    o = _orders(spark, 60)
    t = TxnTable(str(tmp_path / "vac"))
    t.append(o.limit(20))
    t.append(o.offset(20).limit(20))
    t.overwrite(o.limit(50))
    export_delta_log(t)
    t.vacuum(keep_versions=False)
    t.append(o.offset(50))
    export_delta_log(t)
    got = read_delta_dir(spark, t.path)
    assert _rows(got.select("o_orderkey")) == _rows(
        t.read(spark).select("o_orderkey"))


def test_reader_timestamp_as_of(spark, tmp_path):
    """timestampAsOf (r14): a foreign log with explicit commitInfo
    timestamps time-travels by epoch seconds — the largest version at
    or below the requested instant — with version/timestamp mutual
    exclusion and a loud too-early error; a log with NO commitInfo
    falls back to commit-file mtimes (delta-spark's own fallback)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "tsaof")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    meta = {"id": "ts", "format": {"provider": "parquet"},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "x", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}}

    def wfile(name, vals):
        pq.write_table(pa.table({"x": pa.array(vals, pa.int64())}),
                       os.path.join(root, name))
        return name

    t0, t1, t2 = 1_000_000_000_000, 1_000_000_600_000, 1_000_001_200_000
    for v, (ts, adds) in enumerate([
            (t0, [wfile("a.parquet", [1])]),
            (t1, [wfile("b.parquet", [2])]),
            (t2, [wfile("c.parquet", [3])])]):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            if v == 0:
                fh.write(json.dumps({"protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 2}}) + "\n")
                fh.write(json.dumps({"metaData": meta}) + "\n")
            for p in adds:
                fh.write(json.dumps({"add": {
                    "path": p,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(root, p)),
                    "modificationTime": ts,
                    "dataChange": True}}) + "\n")
            fh.write(json.dumps({"commitInfo": {
                "timestamp": ts, "operation": "WRITE"}}) + "\n")

    # between v1 and v2 -> v1's snapshot; exactly at v2 -> v2
    assert _rows(read_delta_dir(
        spark, root, timestamp=(t1 + 1000) / 1000.0)) == {(1,), (2,)}
    assert _rows(read_delta_dir(
        spark, root, timestamp=t2 / 1000.0)) == {(1,), (2,), (3,)}
    with pytest.raises(ValueError, match="at or before"):
        read_delta_dir(spark, root, timestamp=(t0 - 1000) / 1000.0)
    with pytest.raises(ValueError, match="not both"):
        read_delta_dir(spark, root, version=1, timestamp=t1 / 1000.0)
    # our own exports carry commitInfo timestamps from the txn docs —
    # latest-instant travel resolves to the live snapshot
    o = _orders(spark, 30)
    t = TxnTable(str(tmp_path / "own"))
    t.append(o)
    export_delta_log(t)
    import time as _time
    got = read_delta_dir(spark, t.path, timestamp=_time.time() + 60)
    assert got.count() == 30


def test_per_file_stats_and_data_skipping(spark, tmp_path):
    """Exported add actions carry per-file Delta stats JSON
    (numRecords/minValues/maxValues/nullCount from the parquet
    footers — what real writers record), and
    read_delta_dir(range_filter=(col, lo, hi)) skips files whose
    bounds prove emptiness while staying EXACT via the residual
    filter — including when the stats ride a checkpoint after log
    retention (r14: Delta data skipping on the foreign-read path)."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    o = _orders(spark, 90)
    t = TxnTable(str(tmp_path / "stats"))
    # three single-file commits with disjoint o_orderkey ranges
    keys = [r["o_orderkey"] for r in
            o.select("o_orderkey").orderBy("o_orderkey").collect()]
    c1, c2 = keys[29], keys[59]
    t.append(o.filter(F.col("o_orderkey") <= c1).repartition(1))
    t.append(o.filter((F.col("o_orderkey") > c1)
                      & (F.col("o_orderkey") <= c2)).repartition(1))
    t.append(o.filter(F.col("o_orderkey") > c2).repartition(1))
    log_dir = export_delta_log(t)
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        adds = [json.loads(ln)["add"] for ln in fh
                if ln.strip() and "add" in json.loads(ln)]
    st = json.loads(adds[0]["stats"])
    assert st["numRecords"] == 30
    assert st["minValues"]["o_orderkey"] == keys[0]
    assert st["maxValues"]["o_orderkey"] == c1
    assert st["nullCount"]["o_orderkey"] == 0

    lo, hi = c1 + 1, c2  # exactly the middle file's range
    pruned = read_delta_dir(spark, t.path,
                            range_filter=("o_orderkey", lo, hi))
    assert len(pruned.inputFiles()) == 1  # two files skipped by stats
    want = read_delta_dir(spark, t.path).filter(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi))
    assert _rows(pruned) == _rows(want)
    assert pruned.count() == 30
    # open bounds + exactness
    top = read_delta_dir(spark, t.path,
                         range_filter=("o_orderkey", c2 + 1, None))
    assert len(top.inputFiles()) == 1 and top.count() == 30
    # stats survive the checkpoint + log retention
    export_delta_checkpoint(spark, t.path)
    for v in range(3):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    pruned2 = read_delta_dir(spark, t.path,
                             range_filter=("o_orderkey", lo, hi))
    assert len(pruned2.inputFiles()) == 1
    assert _rows(pruned2) == _rows(want)
    # unknown column and partition-key misuse refuse loudly
    with pytest.raises(ValueError, match="not in the table"):
        read_delta_dir(spark, t.path, range_filter=("nope", 1, 2))


def test_streaming_sink_exports_delta_per_batch(spark, tmp_path):
    """write_stream_txn_append(export_delta=True): every committed
    micro-batch incrementally re-exports the Delta log (one new JSON
    per commit, early commits untouched), so a foreign Delta reader
    can tail the streamed table; a checkpointed RESTART replays
    nothing and leaves the exported view consistent."""
    from sport_advantages_moderne_data_infrastructure_spark.sources import (
        domain as D,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        pipeline as P,
    )

    root = tmp_path
    src = str(root / "src")
    target = str(root / "tgt")
    ckpt = str(root / "ckpt")
    (D.cdc_events(spark, "/root/testdata/sf0.001").limit(400)
     .repartition(6).write.parquet(src))
    stream = P.stream_cdc_from_files(spark, src,
                                     max_files_per_trigger=1)
    q = P.write_stream_txn_append(stream, target, ckpt,
                                  app_id="exp", export_delta=True)
    q.awaitTermination(300)
    t = TxnTable(target)
    assert t.latest_version() is not None and t.latest_version() >= 1
    log_dir = os.path.join(target, "_delta_log")
    sidecar = json.load(open(os.path.join(log_dir,
                                          "_samdis_export")))
    assert sidecar["last_version"] == t.latest_version()
    got = read_delta_dir(spark, target)
    want = t.read(spark)
    assert got.count() == want.count() > 0
    assert _rows(got.select("id", "sport_type")) == _rows(
        want.select("id", "sport_type"))
    # the per-batch maintenance also writes log compactions at its
    # 5-commit span (6 micro-batch commits -> one [0,4] compaction),
    # and the compacted log still reads identically
    assert t.latest_version() >= 5
    comps = [f for f in os.listdir(log_dir)
             if f.endswith(".compacted.json")]
    assert f"{0:020d}.{4:020d}.compacted.json" in comps
    mtime0 = os.path.getmtime(os.path.join(log_dir, f"{0:020d}.json"))
    # restart on the same checkpoint: no replays, export untouched
    q2 = P.write_stream_txn_append(
        P.stream_cdc_from_files(spark, src, max_files_per_trigger=1),
        target, ckpt, app_id="exp", export_delta=True)
    q2.awaitTermination(300)
    assert t.latest_version() == sidecar["last_version"]
    assert read_delta_dir(spark, target).count() == want.count()
    assert os.path.getmtime(os.path.join(
        log_dir, f"{0:020d}.json")) == mtime0


def test_where_pushdown_reserved_name_partition_key(spark, tmp_path):
    """A foreign table whose partition key collides with a manifest
    column name ('size') still prunes correctly via the detached
    evaluation frame — an in-place typed column would have clobbered
    the manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "resv")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    meta = {"id": "r", "format": {"provider": "parquet"},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "x", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "size", "type": "integer", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": ["size"], "configuration": {}}

    def wfile(name, vals):
        os.makedirs(os.path.join(root, os.path.dirname(name)),
                    exist_ok=True)
        pq.write_table(pa.table({"x": pa.array(vals, pa.int64())}),
                       os.path.join(root, name))
        return name

    f0 = wfile("size=1/a.parquet", [10])
    f1 = wfile("size=2/b.parquet", [20])
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for p, s in ((f0, "1"), (f1, "2")):
            fh.write(json.dumps({"add": {
                "path": p, "partitionValues": {"size": s},
                "size": os.path.getsize(os.path.join(root, p)),
                "modificationTime": 0, "dataChange": True}}) + "\n")
    got = read_delta_dir(spark, root, where="size = 2")
    assert _rows(got) == {(20, 2)}
    assert len(got.inputFiles()) == 1


def test_export_checkpoint_cadence(spark, tmp_path):
    """export_delta_checkpoint_if_needed: no checkpoint under the
    interval, one at/above it, and none again until the interval
    re-accumulates past the new checkpoint."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint_if_needed,
    )

    o = _orders(spark, 40)
    t = TxnTable(str(tmp_path / "cad"))
    for i in range(3):
        t.append(o.offset(10 * i).limit(10))
    export_delta_log(t)
    assert export_delta_checkpoint_if_needed(
        spark, t.path, interval=10) is None
    assert export_delta_checkpoint_if_needed(
        spark, t.path, interval=3) is not None
    # newly checkpointed: cadence resets
    assert export_delta_checkpoint_if_needed(
        spark, t.path, interval=3) is None
    t.append(o.offset(30))
    export_delta_log(t)
    assert export_delta_checkpoint_if_needed(
        spark, t.path, interval=1) is not None
    assert read_delta_dir(spark, t.path).count() == 40


def test_duckdb_independent_log_reconstruction(spark, tmp_path):
    """Foreign-ENGINE validation without delta jars (the closest this
    sandbox allows — delta-spark and DuckDB's delta extension are both
    network-blocked, probed in PLANS.md): DuckDB independently parses
    the exported JSON commits (read_json_auto) and the spec-shaped
    parquet CHECKPOINT (its own parquet reader — map-typed
    partitionValues must be standard parquet for this to work at
    all), reconstructs the live file set with its own SQL, reads the
    data files hive-blind, and must agree with the Spark reader
    byte-for-byte. A self-consistent-but-wrong assumption shared by
    export and reader (encoding, action shape, checkpoint types)
    breaks this agreement."""
    import glob

    import duckdb

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    o = _orders(spark, 100)
    t = TxnTable(str(tmp_path / "duck"))
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    t.append(o)
    t.overwrite_partitions(
        o.limit(25).withColumn("o_totalprice",
                               F.col("o_totalprice") * 2),
        "order_month")
    t.delete_where(spark, "o_orderkey % 6 = 0")
    export_delta_log(t)
    # checkpoint at v1 so BOTH the parquet-checkpoint leg and the
    # JSON-tail leg exercise in one reconstruction
    log = os.path.join(t.path, "_delta_log")
    import shutil
    keep = {f: open(os.path.join(log, f)).read()
            for f in os.listdir(log) if f.endswith(".json")
            and f[:1].isdigit() and int(f[:-5]) > 1}
    for f in list(keep):
        os.remove(os.path.join(log, f))
    export_delta_checkpoint(spark, t.path)  # covers v0..v1
    for f, body in keep.items():  # restore the tail
        with open(os.path.join(log, f), "w") as fh:
            fh.write(body)

    con = duckdb.connect()
    cp = glob.glob(os.path.join(log, "*.checkpoint.parquet"))[0]
    cp_v = int(os.path.basename(cp).split(".")[0])
    tail = sorted(f for f in os.listdir(log)
                  if f.endswith(".json") and f[:1].isdigit()
                  and int(f[:-5]) > cp_v)
    assert tail, "need a JSON tail past the checkpoint"
    # DuckDB-side reconstruction: checkpoint adds ∖ tail removes ∪
    # tail adds (percent-decoding applied in SQL; our values have no
    # escapes beyond the month key, which has none — asserted below)
    con.execute(f"""
        CREATE TABLE cp_adds AS
        SELECT add.path AS path,
               add.partitionValues['order_month'][1] AS month
        FROM read_parquet('{cp}') WHERE add IS NOT NULL""")
    tail_paths = [os.path.join(log, f) for f in tail]
    con.execute(f"""
        CREATE TABLE tail_actions AS
        SELECT * FROM read_json_auto({tail_paths!r},
                                     format='newline_delimited',
                                     union_by_name=true)""")
    cols = {r[0] for r in con.execute(
        "SELECT column_name FROM information_schema.columns "
        "WHERE table_name = 'tail_actions'").fetchall()}
    rm = ("SELECT remove.path FROM tail_actions "
          "WHERE remove IS NOT NULL") if "remove" in cols else \
         "SELECT NULL WHERE 1=0"
    ad = ("SELECT add.path AS path, "
          "add.partitionValues.order_month AS month "
          "FROM tail_actions WHERE add IS NOT NULL") \
        if "add" in cols else "SELECT NULL, NULL WHERE 1=0"
    live = con.execute(f"""
        WITH removed AS ({rm}),
             tadds AS ({ad})
        SELECT path, month FROM cp_adds
        WHERE path NOT IN (SELECT * FROM removed)
          AND path NOT IN (SELECT path FROM tadds)
        UNION ALL SELECT path, month FROM tadds
        WHERE path NOT IN (SELECT * FROM removed)""").fetchall()
    from urllib.parse import unquote as _uq
    live = [(_uq(p), m) for p, m in live]  # the spec's path decode —
    # the on-disk name recovers only through it (ADVICE r13's point)
    assert live
    files = [os.path.join(t.path, p) for p, _ in live]
    assert all(os.path.isfile(f) for f in files)
    month_of = {os.path.join(t.path, p): m for p, m in live}
    rows = con.execute(f"""
        SELECT filename, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM read_parquet({files!r}, filename=true,
                          hive_partitioning=false)""").fetchall()
    duck = {(k, c, month_of[fn]) for fn, k, c in rows}
    got = read_delta_dir(spark, t.path)
    sprk = {(r["o_orderkey"], r["cents"], r["order_month"])
            for r in got.select(
                "o_orderkey",
                F.round(F.col("o_totalprice") * 100).cast("bigint")
                .alias("cents"),
                F.col("order_month").cast("string")
                .alias("order_month")).collect()}
    assert duck == sprk
    eng = {(r["o_orderkey"], r["cents"], r["order_month"])
           for r in t.read(spark).select(
               "o_orderkey",
               F.round(F.col("o_totalprice") * 100).cast("bigint")
               .alias("cents"),
               F.col("order_month").cast("string")
               .alias("order_month")).collect()}
    assert duck == eng


def test_review_r14_reader_edge_cases(spark, tmp_path):
    """Round-14 self-review pins: (1) a where= predicate naming a DATA
    column that collides with a manifest column ('size') refuses
    instead of silently pruning on FILE size; (2) a sibling dir
    sorting between a parent and its nested manifest dir ('d-old'
    between 'd' and 'd/part') does not double-read the nested files
    under verify=False; (3) a non-parquet stray file routes its dir to
    the explicit-file scan instead of failing the whole read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "edges")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    meta = {"id": "e", "format": {"provider": "parquet"},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "x", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "size", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "day", "type": "integer", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": ["day"], "configuration": {}}

    def wfile(name, rows):
        os.makedirs(os.path.join(root, os.path.dirname(name)),
                    exist_ok=True)
        pq.write_table(pa.table({
            "x": pa.array([r[0] for r in rows], pa.int64()),
            "size": pa.array([r[1] for r in rows], pa.int64())}),
            os.path.join(root, name))
        return name

    f0 = wfile("d/a.parquet", [(1, 111)])
    f1 = wfile("d-old/b.parquet", [(2, 222)])
    f2 = wfile("d/part/c.parquet", [(3, 333)])
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for p, day in ((f0, "1"), (f1, "2"), (f2, "3")):
            fh.write(json.dumps({"add": {
                "path": p, "partitionValues": {"day": day},
                "size": os.path.getsize(os.path.join(root, p)),
                "modificationTime": 0, "dataChange": True}}) + "\n")

    want = {(1, 111, 1), (2, 222, 2), (3, 333, 3)}
    # (2) nested-sibling layout: no duplicates either mode
    assert _rows(read_delta_dir(spark, root)) == want
    assert _rows(read_delta_dir(spark, root, verify=False)) == want
    # (1) data column named like a manifest column refuses in where=
    with pytest.raises(ValueError, match="partition columns"):
        read_delta_dir(spark, root, where="size > 0")
    # still prunes fine on the real partition key
    assert _rows(read_delta_dir(spark, root, where="day >= 2")) == {
        (2, 222, 2), (3, 333, 3)}
    # (3) a non-parquet stray file must not fail the dir scan
    with open(os.path.join(root, "d-old", "notes.txt"), "w") as fh:
        fh.write("tool-dropped junk")
    assert _rows(read_delta_dir(spark, root)) == want


def test_inline_dv_export_roundtrip(spark, tmp_path):
    """Native DV export (r14 session 3): a live-DV snapshot exports as
    real inline deletion-vector descriptors — remove(old)+add(new)
    pairs, protocol upgraded to the table-features form at the first
    DV commit, delta.enableDeletionVectors declared — and the reader
    applies them as a row_index anti-join, so EVERY version including
    the DV eras time-travels exactly. No materialization rewrite, no
    synthetic commit: version numbers stay 1:1 with the txn log."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    o = _orders(spark, 100)
    t = TxnTable(str(tmp_path / "idv"))
    t.append(o)
    t.delete_where(spark, "o_orderkey % 3 = 0", use_dv=True)
    t.delete_where(spark, "o_orderkey % 5 = 0", use_dv=True)  # DV-on-DV
    assert t.snapshot_dvs()
    log_dir = export_delta_log(t, inline_dvs=True)

    # exported versions 1:1 with txn versions (no synthetic commit)
    names = sorted(f for f in os.listdir(log_dir) if f[:1].isdigit())
    assert names == [f"{v:020d}.json" for v in range(3)]

    # v1 carries the feature-protocol upgrade + DV-enabled config +
    # inline adds whose stats are re-marked wide
    with open(os.path.join(log_dir, names[1])) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    prot = [a["protocol"] for a in acts if "protocol" in a]
    assert prot and prot[0]["minReaderVersion"] == 3 \
        and prot[0]["minWriterVersion"] == 7 \
        and "deletionVectors" in prot[0]["readerFeatures"]
    conf = [a["metaData"]["configuration"] for a in acts
            if "metaData" in a]
    assert conf and conf[0]["delta.enableDeletionVectors"] == "true"
    dv_adds = [a["add"] for a in acts
               if "add" in a and a["add"].get("deletionVector")]
    assert dv_adds
    assert all(a["deletionVector"]["storageType"] == "i"
               for a in dv_adds)
    assert all(json.loads(a["stats"])["tightBounds"] is False
               for a in dv_adds if "stats" in a)
    # v2 (the second mask on the same dirs) must remove the PREVIOUS
    # DV incarnation by descriptor, or a (path, dvId)-keyed foreign
    # reconciliation sees two live instances of one path
    with open(os.path.join(log_dir, names[2])) as fh:
        acts2 = [json.loads(ln) for ln in fh if ln.strip()]
    rms2 = [a["remove"] for a in acts2 if "remove" in a]
    assert rms2 and all(r.get("deletionVector") for r in rms2)

    # snapshot + both time-travel points exact vs the engine's read
    cols = ("o_orderkey", "o_totalprice")
    assert _rows(read_delta_dir(spark, t.path).select(*cols)) == _rows(
        t.read(spark).select(*cols))
    assert read_delta_dir(spark, t.path, version=0).count() == 100
    assert _rows(read_delta_dir(
        spark, t.path, version=1).select(*cols)) == _rows(
        t.read(spark, version=1).select(*cols))

    # checkpoint carries the descriptors; retention-cleaned log reads
    # from checkpoint state alone
    export_delta_checkpoint(spark, t.path)
    for f in os.listdir(log_dir):
        if f.endswith(".json"):
            os.remove(os.path.join(log_dir, f))
    assert _rows(read_delta_dir(spark, t.path).select(*cols)) == _rows(
        t.read(spark).select(*cols))


def test_inline_dv_export_partitioned_incremental(spark, tmp_path):
    """Inline DV export composes with generated-column partition
    layouts and the incremental (sidecar-carried) export: a rewrite
    delete AFTER the DV era re-exports incrementally and the reader
    tracks the materialization."""
    o = _orders(spark, 120)
    t = TxnTable(str(tmp_path / "pdv"))
    t.set_generated_column(
        "order_month", "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    t.append(o)
    t.delete_where(spark, "o_orderkey % 4 = 1", use_dv=True)
    export_delta_log(t, inline_dvs=True)
    cols = ("o_orderkey", "o_totalprice")
    got = read_delta_dir(spark, t.path)
    assert "order_month" in got.columns
    assert _rows(got.select(*cols)) == _rows(
        t.read(spark).select(*cols))
    # rewrite-mode delete materializes the DVs; incremental re-export
    # (sidecar state: exported descriptors retire with their files)
    t.delete_where(spark, "o_orderkey % 4 = 2")
    export_delta_log(t, inline_dvs=True)
    assert _rows(read_delta_dir(spark, t.path).select(*cols)) == _rows(
        t.read(spark).select(*cols))


def test_reader_foreign_sidecar_dv(spark, tmp_path):
    """A foreign log whose DV lives in an on-disk sidecar file (the
    ``u`` storage real writers default to, random-prefix layout):
    framing, CRC, and uuid-derived file name all resolve through the
    scan's anti-join."""
    import glob as _glob
    import uuid as _u

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sport_advantages_moderne_data_infrastructure_spark.sources.dvcodec import (
        write_dv_file,
    )

    root = str(tmp_path / "udv")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    pq.write_table(pa.table({
        "k": pa.array(list(range(20)), pa.int64())}),
        os.path.join(root, "f0.parquet"))
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {}}]}
    desc = write_dv_file(root, [[0, 3, 19]], prefix="ab")[0]
    acts = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": str(_u.uuid4()),
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
        {"add": {"path": "f0.parquet", "partitionValues": {},
                 "size": os.path.getsize(
                     os.path.join(root, "f0.parquet")),
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": desc}}]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    got = sorted(r["k"] for r in read_delta_dir(spark, root).collect())
    assert got == [k for k in range(20) if k not in (0, 3, 19)]
    # corrupt the sidecar payload: the CRC must fail the read loudly
    f = _glob.glob(os.path.join(root, "ab",
                                "deletion_vector_*.bin"))[0]
    raw = bytearray(open(f, "rb").read())
    raw[7] ^= 0xFF
    open(f, "wb").write(bytes(raw))
    with pytest.raises(Exception, match="checksum|DV"):
        read_delta_dir(spark, root).collect()


def test_reader_id_mode_column_mapping(spark, tmp_path):
    """columnMapping.mode=id resolves data columns by PARQUET FIELD ID
    through Spark's native fieldId read path: one footer name is
    deliberately drifted away from physicalName metadata, so only
    id-resolution (never a name fallback) can produce these values."""
    import uuid as _u

    from pyspark.sql import functions as SF

    root = str(tmp_path / "idmode")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    df = spark.range(50).select(
        SF.col("id").cast("int").alias(
            "col-aaaa", metadata={"parquet.field.id": 7}),
        (SF.col("id") * 2.0).alias(
            "totally-drifted-name", metadata={"parquet.field.id": 3}))
    df.coalesce(1).write.parquet(os.path.join(root, "d1"))
    import glob as _glob
    f1 = os.path.relpath(_glob.glob(
        os.path.join(root, "d1", "part-*.parquet"))[0], root)
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    schema = {"type": "struct", "fields": [
        {"name": "key", "type": "integer", "nullable": True,
         "metadata": {"delta.columnMapping.id": 7,
                      "delta.columnMapping.physicalName": "col-aaaa"}},
        {"name": "val", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName":
                          "col-bbbb"}}]}
    acts = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": str(_u.uuid4()),
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "id",
                          "delta.columnMapping.maxColumnId": "7"},
                      "createdTime": 0}},
        {"add": {"path": f1, "partitionValues": {},
                 "size": os.path.getsize(os.path.join(root, f1)),
                 "modificationTime": 0, "dataChange": True}}]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    got = read_delta_dir(spark, root)
    assert got.columns == ["key", "val"]
    rows = sorted((r["key"], r["val"]) for r in got.collect())
    assert rows[:3] == [(0, 0.0), (1, 2.0), (2, 4.0)]
    assert len(rows) == 50
    # a metaData claiming id mode whose fields carry no ids is corrupt
    bad = {**acts[1]["metaData"], "schemaString": json.dumps(
        {"type": "struct", "fields": [
            {"name": "key", "type": "integer", "nullable": True,
             "metadata": {}}]})}
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": bad}) + "\n")
    with pytest.raises(ValueError, match="delta.columnMapping.id"):
        read_delta_dir(spark, root)


def test_large_dv_masks_export_as_sidecar_files(spark, tmp_path):
    """Masks past dv_inline_threshold serialized bytes batch into ONE
    ``u``-storage sidecar per commit under _delta_dvs/ (a million-row
    mask inflating every log read by MBs of z85 is what the spec's
    sidecar storage exists for); the reader resolves the uuid-derived
    path and the result is byte-identical to the engine's own read."""
    import glob as _glob

    from pyspark.sql import functions as SF

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    t = TxnTable(str(tmp_path / "bigdv"))
    src = spark.range(20_000).select(
        SF.col("id").alias("k"), (SF.col("id") % 7).alias("v"))
    t.append(src.repartition(2))
    t.delete_where(spark, "k % 3 = 1", use_dv=True)
    export_delta_log(t, inline_dvs=True, dv_inline_threshold=1024)
    side = _glob.glob(os.path.join(
        t.path, "_delta_dvs", "deletion_vector_*.bin"))
    assert len(side) == 1  # both files' masks batch into one sidecar
    log = os.path.join(t.path, "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    dvs = [a["add"]["deletionVector"] for a in acts
           if "add" in a and a["add"].get("deletionVector")]
    assert dvs and all(
        d["storageType"] == "u"
        and d["pathOrInlineDv"].startswith("_delta_dvs")
        for d in dvs)
    got = read_delta_dir(spark, t.path)
    assert _rows(got) == _rows(t.read(spark).select("k", "v"))
    # checkpoint-only read resolves the sidecar too
    export_delta_checkpoint(spark, t.path)
    for f in os.listdir(log):
        if f.endswith(".json"):
            os.remove(os.path.join(log, f))
    assert _rows(read_delta_dir(spark, t.path)) == _rows(
        t.read(spark).select("k", "v"))


def test_checkpoint_carries_true_protocol(spark, tmp_path):
    """The checkpoint's protocol row reflects the table's ACTUAL
    feature tier — a DV-bearing snapshot checkpointed as reader 1 /
    writer 2 would have a real reader plan features it cannot honor;
    a plain table stays at the legacy tier with null feature lists."""
    import glob as _glob

    from pyspark.sql import functions as SF

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    src = spark.range(500).select(
        SF.col("id").alias("k"), (SF.col("id") % 5).alias("v"))
    t = TxnTable(str(tmp_path / "dvp"))
    t.append(src)
    t.delete_where(spark, "k % 9 = 2", use_dv=True)
    export_delta_log(t, inline_dvs=True)
    export_delta_checkpoint(spark, t.path)
    cp = _glob.glob(os.path.join(
        t.path, "_delta_log", "*.checkpoint.parquet"))[0]
    pr = spark.read.parquet(cp).filter(
        "protocol IS NOT NULL").collect()[0]["protocol"]
    assert pr["minReaderVersion"] == 3 \
        and pr["minWriterVersion"] == 7 \
        and "deletionVectors" in pr["readerFeatures"]

    u = TxnTable(str(tmp_path / "plain"))
    u.append(src.limit(50))
    export_delta_log(u)
    export_delta_checkpoint(spark, u.path)
    cp2 = _glob.glob(os.path.join(
        u.path, "_delta_log", "*.checkpoint.parquet"))[0]
    pr2 = spark.read.parquet(cp2).filter(
        "protocol IS NOT NULL").collect()[0]["protocol"]
    assert pr2["minReaderVersion"] == 1 \
        and pr2["readerFeatures"] is None


def test_duckdb_parses_dv_descriptors(spark, tmp_path):
    """Cross-engine DV leg: DuckDB's OWN JSON and parquet readers
    parse the exported descriptors from both the commit log and the
    checkpoint, the codec decodes the inline payloads, and DuckDB's
    per-file parquet row counts minus the decoded masks reproduce the
    Spark reader's row count — the DV pipeline's numbers verified by
    a second engine end-to-end (delta extension itself is
    download-blocked; see PLANS.md)."""
    import duckdb
    import glob as _glob

    from pyspark.sql import functions as SF

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.dvcodec import (
        decode_descriptor,
    )

    t = TxnTable(str(tmp_path / "ddv"))
    src = spark.range(3_000).select(
        SF.col("id").alias("k"), (SF.col("id") % 11).alias("v"))
    t.append(src.repartition(2))
    t.delete_where(spark, "k % 4 = 3", use_dv=True)
    export_delta_log(t, inline_dvs=True)
    export_delta_checkpoint(spark, t.path)
    log = os.path.join(t.path, "_delta_log")
    con = duckdb.connect()

    # descriptors from the JSON commit, via DuckDB's JSON reader
    jrows = con.execute(
        "SELECT add.path AS path, add.deletionVector AS dv "
        f"FROM read_json('{os.path.join(log, '*.json')}', "
        "format='newline_delimited', union_by_name=true) "
        "WHERE add IS NOT NULL AND add.deletionVector IS NOT NULL"
    ).fetchall()
    assert len(jrows) == 2  # one DV'd add per data file
    # same descriptors out of the checkpoint parquet
    cp = _glob.glob(os.path.join(log, "*.checkpoint.parquet"))[0]
    crows = con.execute(
        "SELECT add.path AS path, add.deletionVector AS dv "
        f"FROM read_parquet('{cp}') "
        "WHERE add IS NOT NULL AND add.deletionVector IS NOT NULL"
    ).fetchall()
    jmap = {p: json.loads(d) if isinstance(d, str) else d
            for p, d in jrows}
    cmap = dict(crows)
    assert set(jmap) == set(cmap)
    masked = 0
    for p in jmap:
        jd, cd = jmap[p], cmap[p]
        for k in ("storageType", "pathOrInlineDv", "sizeInBytes",
                  "cardinality"):
            assert jd[k] == cd[k], (k, jd, cd)
        positions = decode_descriptor(t.path, jd)
        assert len(positions) == jd["cardinality"]
        # DuckDB counts the file's physical rows; the mask must fit
        n_phys = con.execute(
            "SELECT COUNT(*) FROM read_parquet(?)",
            [os.path.join(t.path, p)]).fetchone()[0]
        assert positions[-1] < n_phys
        masked += len(positions)
    n_live = read_delta_dir(spark, t.path).count()
    n_total = con.execute(
        "SELECT COUNT(*) FROM read_parquet(?)",
        [os.path.join(t.path, "data/*/*.parquet")]).fetchone()[0]
    assert n_total - masked == n_live == 2_250


def test_cdf_export_and_foreign_read(spark, tmp_path):
    """Change-data-feed interop (r14 session 3): commits with change
    files export spec ``cdc`` actions (verbatim views of the existing
    change parquet on unpartitioned tables), the protocol climbs the
    legacy ladder to writer 4 at the first CDF commit,
    delta.enableChangeDataFeed lands in the configuration, and the
    foreign reader's per-commit replay (cdc when present, spec derive
    otherwise) matches the engine's own read_changes exactly."""
    from pyspark.sql import functions as SF

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        read_delta_changes,
    )

    def _r(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    t = TxnTable(str(tmp_path / "cdf"))
    src = spark.range(800).select(
        SF.col("id").alias("k"), (SF.col("id") % 9).alias("v"))
    t.append(src)
    t.delete_where(spark, "k % 10 = 3")
    t.update_where(spark, "k % 100 = 7", {"v": "99"})
    log_dir = export_delta_log(t)
    with open(os.path.join(log_dir, f"{1:020d}.json")) as fh:
        acts1 = [json.loads(ln) for ln in fh if ln.strip()]
    assert [a for a in acts1 if "cdc" in a]
    prots1 = [a["protocol"] for a in acts1 if "protocol" in a]
    assert prots1 and prots1[0] == {"minReaderVersion": 1,
                                    "minWriterVersion": 4}
    conf1 = [a["metaData"]["configuration"] for a in acts1
             if "metaData" in a]
    assert conf1 and conf1[0]["delta.enableChangeDataFeed"] == "true"

    cols = ("k", "v", "_change_type", "_commit_version")
    assert _r(read_delta_changes(spark, t.path, 0), *cols) == _r(
        t.read_changes(spark, 0), *cols)
    # bounded window
    assert _r(read_delta_changes(spark, t.path, 1, upto=2),
              *cols) == _r(t.read_changes(spark, 1, upto=2), *cols)
    # derive-mode commit (plain append, no cdc): adds become inserts
    g0 = read_delta_changes(spark, t.path, -1, upto=0)
    assert g0.count() == 800
    assert {r["_change_type"] for r in
            g0.select("_change_type").distinct().collect()} \
        == {"insert"}
    # _commit_timestamp rides along (Delta's third CDF column)
    assert "_commit_timestamp" in g0.columns


def test_cdf_partitioned_split_export(spark, tmp_path):
    """Partitioned tables split each commit's change files into hive
    dirs under _delta_cdc/ (spec CDC files must NOT carry partition
    columns in-file — values ride the action's partitionValues); the
    foreign reader re-attaches them and matches read_changes."""
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as SF

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        read_delta_changes,
    )

    p = TxnTable(str(tmp_path / "cdfp"))
    src = spark.range(600).select(
        SF.col("id").alias("k"), (SF.col("id") % 9).alias("v"))
    p.set_generated_column("b", "CAST(k % 4 AS STRING)")
    p.set_partition_column("b")
    p.append(src)
    p.delete_where(spark, "k % 7 = 2")
    export_delta_log(p, spark)
    split = _glob.glob(os.path.join(
        p.path, "_delta_cdc", "*", "b=*", "*.parquet"))
    assert split
    assert all("b" not in _pq.ParquetFile(f).schema_arrow.names
               for f in split)
    got = read_delta_changes(spark, p.path, 0)
    want = p.read_changes(spark, 0)
    key = lambda df: sorted(tuple(r) for r in df.select(  # noqa: E731
        "k", "v", F.col("b").cast("string"),
        "_change_type", "_commit_version").collect())
    assert key(got) == key(want)
    # spark-less export of a partitioned CDF table skips cdc for the
    # commit (foreign derive fallback) instead of failing
    p2 = TxnTable(str(tmp_path / "cdfp2"))
    p2.set_partition_column("v")
    p2.append(src.limit(40))
    log2 = export_delta_log(p2)  # append-only: derive covers it
    g2 = read_delta_changes(spark, p2.path, -1)
    assert g2.count() == 40
    assert log2  # exported without a session


def test_cdf_foreign_derive_semantics(spark, tmp_path):
    """Spec derive on a hand-built foreign log: dataChange adds are
    inserts, dataChange removes are deletes (file must still exist —
    vacuumed raises), dataChange=false actions (OPTIMIZE) contribute
    nothing, and a DV write without cdc raises resync."""
    import uuid as _u

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        read_delta_changes,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.dvcodec import (
        encode_inline,
    )

    root = str(tmp_path / "fcdf")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64())}),
                   os.path.join(root, "f0.parquet"))
    pq.write_table(pa.table({"k": pa.array([4, 5], pa.int64())}),
                   os.path.join(root, "f1.parquet"))
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {}}]}

    def w(v, *acts):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            for a in acts:
                fh.write(json.dumps(a) + "\n")

    def add(p, dc=True, dv=None):
        a = {"path": p, "partitionValues": {}, "size": 1,
             "modificationTime": 0, "dataChange": dc}
        if dv:
            a["deletionVector"] = dv
        return {"add": a}

    w(0,
      {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
      {"metaData": {"id": str(_u.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": [], "configuration": {},
                    "createdTime": 0}},
      add("f0.parquet"),
      {"commitInfo": {"timestamp": 1000}})
    # v1: remove f0 (delete), add f1 (insert) — one derive commit
    w(1, {"remove": {"path": "f0.parquet", "deletionTimestamp": 2,
                     "dataChange": True}},
      add("f1.parquet"),
      {"commitInfo": {"timestamp": 2000}})
    got = read_delta_changes(spark, root, 0)
    rows = sorted((r["k"], r["_change_type"]) for r in got.collect())
    assert rows == [(1, "delete"), (2, "delete"), (3, "delete"),
                    (4, "insert"), (5, "insert")]
    assert {r["_commit_timestamp"] for r in got.collect()} == {2000}
    # dataChange=false (compaction) contributes nothing
    w(2, {"remove": {"path": "f1.parquet", "deletionTimestamp": 3,
                     "dataChange": False}},
      add("f2.parquet", dc=False))
    assert read_delta_changes(spark, root, 1).count() == 0
    # DV write without cdc: resync error
    w(3, add("f1.parquet", dv=encode_inline([0])))
    with pytest.raises(ValueError, match="resync"):
        read_delta_changes(spark, root, 2)
    # vacuumed remove target: loud error, never silent delete loss
    os.remove(os.path.join(root, "f0.parquet"))
    with pytest.raises(ValueError, match="vacuumed"):
        read_delta_changes(spark, root, 0, upto=1).collect()


def test_txn_actions_export_and_watermark(spark, tmp_path):
    """Streaming-sink commits (stream_app_id / stream_batch_id — the
    keys every streaming sink in streaming/*.py records) export as
    Delta SetTransaction actions; the per-app high-water reconstructs
    from the log, rides the checkpoint (PROTOCOL.md: checkpoints hold
    the newest txn per appId), and survives log retention — a foreign
    exactly-once writer keyed on the appId keeps its idempotence
    watermark."""
    from pyspark.sql import functions as SF

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
        read_delta_txn_versions,
    )

    t = TxnTable(str(tmp_path / "txna"))
    src = spark.range(100).select(SF.col("id").alias("k"))
    t.append(src.limit(40), meta={
        "operation": "stream_append",
        "stream_app_id": "appA", "stream_batch_id": 0})
    t.append(src.offset(40).limit(30), meta={
        "operation": "stream_append",
        "stream_app_id": "appA", "stream_batch_id": 1})
    t.append(src.offset(70), meta={
        "operation": "stream_append",
        "stream_app_id": "appB", "stream_batch_id": 5})
    log_dir = export_delta_log(t)
    with open(os.path.join(log_dir, f"{1:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    txns = [a["txn"] for a in acts if "txn" in a]
    assert len(txns) == 1 and txns[0]["appId"] == "appA" \
        and txns[0]["version"] == 1
    assert read_delta_txn_versions(spark, t.path) == {
        "appA": 1, "appB": 5}
    export_delta_checkpoint(spark, t.path)
    for f in os.listdir(log_dir):
        if f.endswith(".json"):
            os.remove(os.path.join(log_dir, f))
    assert read_delta_txn_versions(spark, t.path) == {
        "appA": 1, "appB": 5}
    assert read_delta_dir(spark, t.path).count() == 100


def test_check_constraints_export(spark, tmp_path):
    """CHECK constraints export as delta.constraints.* configuration
    entries with the legacy writer-3 protocol floor (PROTOCOL.md:
    CHECK Constraints) — a real writer then refuses to write without
    enforcing them, matching the engine's own write-time checks."""
    from pyspark.sql import functions as SF

    t = TxnTable(str(tmp_path / "cons"))
    t.append(spark.range(10).select(SF.col("id").alias("k")))
    t.add_check_constraint("k_pos", "k >= 0")
    log_dir = export_delta_log(t)
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    conf = [a["metaData"]["configuration"] for a in acts
            if "metaData" in a][0]
    prot = [a["protocol"] for a in acts if "protocol" in a][0]
    assert conf["delta.constraints.k_pos"] == "k >= 0"
    assert prot["minWriterVersion"] == 3


def test_reader_v2_checkpoint_with_sidecars(spark, tmp_path):
    """A V2 (uuid-named) checkpoint — the modern delta-spark layout —
    reads with NO JSON commits at all: the manifest's sidecar actions
    resolve under _delta_log/_sidecars/ and their adds union with the
    manifest's own."""
    import glob as _glob
    import shutil
    import uuid as _u

    from pyspark.sql import functions as SF

    root = str(tmp_path / "v2")
    log = os.path.join(root, "_delta_log")
    os.makedirs(os.path.join(log, "_sidecars"))
    d1 = spark.range(10).select(SF.col("id").cast("int").alias("k"))
    d1.coalesce(1).write.parquet(os.path.join(root, "d1"))
    d2 = spark.range(10, 25).select(
        SF.col("id").cast("int").alias("k"))
    d2.coalesce(1).write.parquet(os.path.join(root, "d2"))
    f1 = os.path.relpath(_glob.glob(
        os.path.join(root, "d1", "part-*.parquet"))[0], root)
    f2 = os.path.relpath(_glob.glob(
        os.path.join(root, "d2", "part-*.parquet"))[0], root)
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "integer", "nullable": True,
         "metadata": {}}]}
    # sidecar file: one add action per data file
    side = spark.createDataFrame(
        [((f1, {}, os.path.getsize(os.path.join(root, f1)), 0,
           True),),
         ((f2, {}, os.path.getsize(os.path.join(root, f2)), 0,
           True),)],
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean>")
    side.coalesce(1).write.parquet(str(tmp_path / "s"))
    sname = "sidecar-001.parquet"
    shutil.copy(_glob.glob(str(tmp_path / "s" / "part-*.parquet"))[0],
                os.path.join(log, "_sidecars", sname))
    man = spark.createDataFrame(
        [((1, 2), None, None, None),
         (None, (str(_u.uuid4()), json.dumps(schema), []), None,
          None),
         (None, None, (1,), None),
         (None, None, None,
          (sname, os.path.getsize(
              os.path.join(log, "_sidecars", sname)), 0))],
        "protocol struct<minReaderVersion:int,minWriterVersion:int>, "
        "metaData struct<id:string,schemaString:string,"
        "partitionColumns:array<string>>, "
        "checkpointMetadata struct<version:bigint>, "
        "sidecar struct<path:string,sizeInBytes:bigint,"
        "modificationTime:bigint>")
    man.coalesce(1).write.parquet(str(tmp_path / "m"))
    shutil.copy(_glob.glob(str(tmp_path / "m" / "part-*.parquet"))[0],
                os.path.join(
                    log, f"{0:020d}.checkpoint.{_u.uuid4()}.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 0, "size": 4}, fh)
    got = read_delta_dir(spark, root)
    assert sorted(r["k"] for r in got.collect()) == list(range(25))


def test_reader_v2_json_manifest(spark, tmp_path):
    """V2 manifests may be JSON-format (spec-legal alternative to
    parquet): newline actions incl. sidecar pointers read identically."""
    import glob as _glob
    import shutil
    import uuid as _u

    from pyspark.sql import functions as SF

    root = str(tmp_path / "v2j")
    log = os.path.join(root, "_delta_log")
    os.makedirs(os.path.join(log, "_sidecars"))
    d1 = spark.range(12).select(SF.col("id").cast("int").alias("k"))
    d1.coalesce(1).write.parquet(os.path.join(root, "d1"))
    f1 = os.path.relpath(_glob.glob(
        os.path.join(root, "d1", "part-*.parquet"))[0], root)
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "integer", "nullable": True,
         "metadata": {}}]}
    side = spark.createDataFrame(
        [((f1, {}, os.path.getsize(os.path.join(root, f1)), 0,
           True),)],
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean>")
    side.coalesce(1).write.parquet(str(tmp_path / "s"))
    sname = "sc-1.parquet"
    shutil.copy(_glob.glob(str(tmp_path / "s" / "part-*.parquet"))[0],
                os.path.join(log, "_sidecars", sname))
    man = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": str(_u.uuid4()),
                      "schemaString": json.dumps(schema),
                      "partitionColumns": []}},
        {"checkpointMetadata": {"version": 0}},
        {"sidecar": {"path": sname,
                     "sizeInBytes": os.path.getsize(
                         os.path.join(log, "_sidecars", sname)),
                     "modificationTime": 0}}]
    with open(os.path.join(
            log, f"{0:020d}.checkpoint.{_u.uuid4()}.json"), "w") as fh:
        for a in man:
            fh.write(json.dumps(a) + "\n")
    got = read_delta_dir(spark, root)
    assert sorted(r["k"] for r in got.collect()) == list(range(12))


# --- log-compaction files (r14 session 5; PROTOCOL.md Log Compaction) ----


def test_log_compaction_roundtrip_and_retention(spark, tmp_path):
    """compact_delta_log writes <x>.<y>.compacted.json holding the
    range's reconciled net state; the reader substitutes it for the
    covered commits (surviving their retention cleanup), time travel
    BELOW the range stays intact, and time travel INTO the covered
    range — whose per-commit granularity is gone — refuses loudly
    instead of reconstructing a wrong snapshot."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        compact_delta_log,
    )

    o = _orders(spark)
    t = TxnTable(str(tmp_path / "lc"))
    t.append(o.limit(40))
    t.append(o.offset(40).limit(40))
    t.delete_where(spark, "o_orderkey % 7 = 0")
    t.append(o.offset(80))
    export_delta_log(t)
    want = _rows(t.read(spark).select("o_orderkey", "o_totalprice"))
    v0_count = t.read(spark, version=0).count()
    log = os.path.join(t.path, "_delta_log")

    cf = compact_delta_log(t.path, 1, 3)
    assert os.path.basename(cf) == f"{1:020d}.{3:020d}.compacted.json"
    # with the JSONs still present, a mid-range time travel uses them
    assert read_delta_dir(spark, t.path, version=2).count() \
        == t.read(spark, version=2).count()
    # retention-clean the covered commits: snapshot must survive on
    # the compaction alone
    for v in (1, 2, 3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = read_delta_dir(spark, t.path)
    assert _rows(got.select("o_orderkey", "o_totalprice")) == want
    assert read_delta_dir(spark, t.path, version=0).count() == v0_count
    assert read_delta_dir(spark, t.path, version=3).count() \
        == t.read(spark).count()
    with pytest.raises(ValueError, match="cannot reconstruct version 2"):
        read_delta_dir(spark, t.path, version=2)


def test_log_gap_without_compaction_is_loud(spark, tmp_path):
    """A missing commit JSON with no covering compaction used to be
    replayed AROUND silently (a file-dropping snapshot); it must
    raise."""
    o = _orders(spark, 60)
    t = TxnTable(str(tmp_path / "gap"))
    t.append(o.limit(20))
    t.append(o.offset(20).limit(20))
    t.append(o.offset(40))
    export_delta_log(t)
    log = os.path.join(t.path, "_delta_log")
    os.remove(os.path.join(log, f"{1:020d}.json"))
    with pytest.raises(ValueError, match="log gap at version 1"):
        read_delta_dir(spark, t.path)


def test_log_compaction_straddling_a_checkpoint(spark, tmp_path):
    """A compaction overlapping the checkpoint floor is usable: it
    carries the NET state of its range, so batch-applying it over the
    checkpoint's already-included sub-prefix is idempotent — the tail
    past the checkpoint reads from it even when x < floor."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        compact_delta_log,
        export_delta_checkpoint,
    )

    o = _orders(spark)
    t = TxnTable(str(tmp_path / "str"))
    t.append(o.limit(30))           # v0
    t.append(o.offset(30).limit(30))  # v1
    export_delta_log(t)
    export_delta_checkpoint(spark, t.path)  # checkpoint at v1
    t.delete_where(spark, "o_orderkey % 5 = 0")  # v2
    t.append(o.offset(60))          # v3
    export_delta_log(t)
    compact_delta_log(t.path, 1, 3)  # straddles the floor (1 <= 1)
    want = _rows(t.read(spark).select("o_orderkey", "o_totalprice"))
    log = os.path.join(t.path, "_delta_log")
    for v in (2, 3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = read_delta_dir(spark, t.path)
    assert _rows(got.select("o_orderkey", "o_totalprice")) == want


def test_compaction_refuses_a_gapped_range(spark, tmp_path):
    """Compacting over a missing commit would bake the gap in
    silently — it must refuse."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        compact_delta_log,
    )

    o = _orders(spark, 60)
    t = TxnTable(str(tmp_path / "cgap"))
    t.append(o.limit(20))
    t.append(o.offset(20).limit(20))
    t.append(o.offset(40))
    export_delta_log(t)
    log = os.path.join(t.path, "_delta_log")
    os.remove(os.path.join(log, f"{1:020d}.json"))
    with pytest.raises(ValueError, match="missing for version"):
        compact_delta_log(t.path, 0, 2)


def test_compaction_preserves_partition_values_and_encoding(
        spark, tmp_path):
    """Compacted add actions re-emit the ORIGINAL encoded paths and
    partitionValues — a partitioned (generated-key) table read through
    a compaction attaches partition columns identically."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        compact_delta_log,
    )

    o = _orders(spark)
    t = TxnTable(str(tmp_path / "pc"))
    t.set_generated_column("order_year",
                           "DATE_FORMAT(o_orderdate, 'yyyy')")
    t.set_partition_column("order_year")
    t.append(o.limit(60))
    t.replace_where(
        spark,
        o.limit(60).filter("DATE_FORMAT(o_orderdate, 'yyyy') = '1997'")
        .withColumn("o_totalprice", F.col("o_totalprice") + 1),
        "order_year = '1997'")
    t.append(o.offset(60))
    export_delta_log(t)
    want = _rows(t.read(spark).select("o_orderkey", "order_year"))
    compact_delta_log(t.path, 0, 2)
    log = os.path.join(t.path, "_delta_log")
    for v in (0, 1, 2):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = read_delta_dir(spark, t.path)
    assert _rows(got.select("o_orderkey", "order_year")) == want


# --- in-commit timestamps (r14 session 5; PROTOCOL.md ICT feature) -------


def test_ict_export_monotonic_and_timestamp_travel(spark, tmp_path):
    """in_commit_timestamps=True: every commitInfo carries a STRICTLY
    increasing inCommitTimestamp, the protocol takes the
    writer-features form with inCommitTimestamp listed, the
    configuration declares the feature, and timestampAsOf resolves
    through the ICT — even when the commit files' mtimes are garbage
    (the exact failure ICT exists to fix)."""
    o = _orders(spark, 90)
    t = TxnTable(str(tmp_path / "ict"))
    t.append(o.limit(30))
    t.append(o.offset(30).limit(30))
    t.append(o.offset(60))
    log = export_delta_log(t, in_commit_timestamps=True)
    icts, proto, conf = [], None, None
    for v in range(3):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            for ln in fh:
                a = json.loads(ln) if ln.strip() else {}
                if "commitInfo" in a:
                    icts.append(a["commitInfo"]["inCommitTimestamp"])
                if "protocol" in a:
                    proto = a["protocol"]
                if "metaData" in a:
                    conf = a["metaData"]["configuration"]
    assert len(icts) == 3 and icts == sorted(icts)
    assert len(set(icts)) == 3  # strictly monotonic
    assert proto["minWriterVersion"] == 7
    assert "inCommitTimestamp" in proto["writerFeatures"]
    assert conf["delta.enableInCommitTimestamps"] == "true"
    # garbage mtimes: ICT must still resolve timestamp travel
    for v in range(3):
        os.utime(os.path.join(log, f"{v:020d}.json"), (0, 0))
    got = read_delta_dir(spark, t.path, timestamp=icts[1] / 1000.0)
    assert got.count() == t.read(spark, version=1).count()
    with pytest.raises(ValueError, match="no retained commit"):
        read_delta_dir(spark, t.path,
                       timestamp=(icts[0] - 10_000) / 1000.0)


def test_ict_midlog_enablement_boundary(spark, tmp_path):
    """Enabling ICT on an incremental re-export records the spec's
    enablement version + timestamp configs at the boundary commit;
    pre-boundary commits keep their plain commitInfo and the feature
    stays on for subsequent re-exports."""
    o = _orders(spark, 90)
    t = TxnTable(str(tmp_path / "mid"))
    t.append(o.limit(30))
    export_delta_log(t)  # v0: no ICT
    t.append(o.offset(30).limit(30))
    export_delta_log(t, in_commit_timestamps=True)  # v1: boundary
    t.append(o.offset(60))
    export_delta_log(t)  # v2: feature must STAY on
    log = os.path.join(t.path, "_delta_log")
    per_v = {}
    conf = None
    for v in range(3):
        ci = None
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            for ln in fh:
                a = json.loads(ln) if ln.strip() else {}
                if "commitInfo" in a:
                    ci = a["commitInfo"]
                if "metaData" in a:
                    conf = a["metaData"]["configuration"]
        per_v[v] = ci
    assert "inCommitTimestamp" not in per_v[0]
    assert "inCommitTimestamp" in per_v[1]
    assert "inCommitTimestamp" in per_v[2]
    assert per_v[2]["inCommitTimestamp"] > per_v[1]["inCommitTimestamp"]
    assert conf["delta.enableInCommitTimestamps"] == "true"
    assert conf["delta.inCommitTimestampEnablementVersion"] == "1"
    assert int(conf["delta.inCommitTimestampEnablementTimestamp"]) \
        == per_v[1]["inCommitTimestamp"]
    # snapshot still reads clean through the mixed-era log
    got = read_delta_dir(spark, t.path)
    assert got.count() == t.read(spark).count()


def test_change_feed_refuses_compacted_range(spark, tmp_path):
    """CDF needs per-commit granularity: reading a window whose commit
    JSONs went to log compaction raises (resync guidance) instead of
    silently dropping the compacted commits' changes; windows before
    and after the compacted range still read."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        compact_delta_log,
        read_delta_changes,
    )

    o = _orders(spark, 90)
    t = TxnTable(str(tmp_path / "cdfc"))
    t.append(o.limit(30))
    t.append(o.offset(30).limit(30))
    t.append(o.offset(60))
    export_delta_log(t)
    compact_delta_log(t.path, 0, 1)
    log = os.path.join(t.path, "_delta_log")
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    with pytest.raises(ValueError, match="log-compacted"):
        read_delta_changes(spark, t.path, 0)
    # the snapshot itself still reads through the compaction
    assert read_delta_dir(spark, t.path).count() == t.read(spark).count()
    # a window entirely past the compacted range is still servable
    assert read_delta_changes(spark, t.path, 1).count() == 30


def test_compaction_cadence(spark, tmp_path):
    """compact_delta_log_if_needed compacts the oldest full span past
    the newest checkpoint/compaction once `span` commits accumulate,
    returns None under cadence, and successive calls chain spans —
    keeping the tail at O(tail/span) replay units."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        _tail_units,
        compact_delta_log_if_needed,
    )

    o = _orders(spark, 120)
    t = TxnTable(str(tmp_path / "cad"))
    for i in range(8):
        t.append(o.offset(15 * i).limit(15))
    export_delta_log(t)
    assert compact_delta_log_if_needed(t.path, span=10) is None
    p1 = compact_delta_log_if_needed(t.path, span=4)
    assert p1 and os.path.basename(p1) \
        == f"{0:020d}.{3:020d}.compacted.json"
    p2 = compact_delta_log_if_needed(t.path, span=4)
    assert p2 and os.path.basename(p2) \
        == f"{4:020d}.{7:020d}.compacted.json"
    assert compact_delta_log_if_needed(t.path, span=4) is None
    log = os.path.join(t.path, "_delta_log")
    assert len(_tail_units(log, None, None)) == 2
    got = read_delta_dir(spark, t.path)
    assert got.count() == t.read(spark).count()


# --- V2 checkpoint WRITE (r14 session 5) ---------------------------------


def test_v2_checkpoint_write_roundtrip(spark, tmp_path):
    """export_delta_checkpoint(format='v2') writes the modern layout —
    uuid-named parquet manifest (protocol/metaData/checkpointMetadata/
    sidecar actions) + add/remove sidecars under _delta_log/_sidecars —
    requires the v2Checkpoint protocol declaration, and the snapshot
    survives full log-retention cleanup on the v2 checkpoint alone."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    o = _orders(spark, 90)
    t = TxnTable(str(tmp_path / "v2w"))
    t.append(o.limit(30))
    t.append(o.offset(30).limit(30))
    t.delete_where(spark, "o_orderkey % 5 = 0")
    # without the protocol declaration: refuse
    export_delta_log(t)
    with pytest.raises(ValueError, match="v2Checkpoint"):
        export_delta_checkpoint(spark, t.path, format="v2")
    # fresh export with the feature declared
    import shutil as _sh
    _sh.rmtree(os.path.join(t.path, "_delta_log"))
    log = export_delta_log(t, v2_checkpoints=True)
    with open(os.path.join(log, f"{0:020d}.json")) as fh:
        proto = next(json.loads(ln)["protocol"] for ln in fh
                     if ln.strip() and "protocol" in ln)
    assert proto["minReaderVersion"] == 3
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]
    want = _rows(t.read(spark).select("o_orderkey", "o_totalprice"))
    man = export_delta_checkpoint(spark, t.path, format="v2")
    base = os.path.basename(man)
    assert base.startswith(f"{2:020d}.checkpoint.") \
        and base.endswith(".parquet")
    scs = os.listdir(os.path.join(log, "_sidecars"))
    assert len(scs) == 1 and scs[0].endswith(".parquet")
    # manifest carries checkpointMetadata + sidecar pointer actions
    import pyarrow.parquet as papq
    mt = papq.read_table(man)
    cols = mt.column_names
    assert "checkpointMetadata" in cols and "sidecar" in cols
    # retention-clean EVERY json commit: v2 checkpoint alone suffices
    for v in range(3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = read_delta_dir(spark, t.path)
    assert _rows(got.select("o_orderkey", "o_totalprice")) == want


def test_v2_checkpoint_multi_sidecar_and_tombstone_carry(
        spark, tmp_path):
    """parts>1 splits the add/remove actions across sidecars; a LATER
    classic re-checkpoint carries the v2 prior's sidecar-held
    tombstones forward (the _checkpoint_removes path)."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
    )

    o = _orders(spark, 90)
    t = TxnTable(str(tmp_path / "v2m"))
    t.append(o.limit(45))
    t.delete_where(spark, "o_orderkey % 3 = 0")  # tombstones at v1
    log = export_delta_log(t, v2_checkpoints=True)
    export_delta_checkpoint(spark, t.path, parts=2, format="v2")
    assert len(os.listdir(os.path.join(log, "_sidecars"))) == 2
    want1 = _rows(t.read(spark).select("o_orderkey", "o_totalprice"))
    assert _rows(read_delta_dir(spark, t.path)
                 .select("o_orderkey", "o_totalprice")) == want1
    # new commit, re-export, CLASSIC re-checkpoint over the v2 prior
    t.append(o.offset(45))
    export_delta_log(t)
    cp = export_delta_checkpoint(spark, t.path)
    pr = spark.read.parquet(cp)
    carried = pr.filter("remove IS NOT NULL").count()
    assert carried > 0  # v2 sidecar tombstones survived the rollover
    for v in range(3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = read_delta_dir(spark, t.path)
    assert got.count() == t.read(spark).count()


def test_duckdb_parses_v2_checkpoint_and_compacted_tail(
        spark, tmp_path):
    """Foreign-engine validation of the r14-session-5 artifacts: DuckDB
    independently parses the V2 MANIFEST parquet, follows its sidecar
    pointer actions to the add/remove sidecar files with its own
    parquet reader, parses the LOG-COMPACTION file as the JSON tail,
    reconstructs the live set in SQL, and must agree byte-for-byte
    with both the Spark reader and the engine's native read — so the
    v2/compaction writers and readers cannot share a
    self-consistent-but-wrong shape."""
    import glob

    import duckdb

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        compact_delta_log,
        export_delta_checkpoint,
    )

    o = _orders(spark, 100)
    t = TxnTable(str(tmp_path / "duckv2"))
    t.set_generated_column("order_month",
                           "DATE_FORMAT(o_orderdate, 'yyyy-MM')")
    t.set_partition_column("order_month")
    t.append(o.limit(60))                                  # v0
    t.delete_where(spark, "o_orderkey % 6 = 0")            # v1
    t.append(o.offset(60).limit(20))                       # v2
    t.append(o.offset(80))                                 # v3
    log = export_delta_log(t, v2_checkpoints=True)
    # v2 checkpoint at v1, then compact the [2,3] tail and clean it
    keep = {f: open(os.path.join(log, f)).read()
            for f in os.listdir(log) if f.endswith(".json")
            and f[:1].isdigit() and int(f[:-5]) > 1}
    for f in list(keep):
        os.remove(os.path.join(log, f))
    export_delta_checkpoint(spark, t.path, format="v2")
    for f, body in keep.items():
        with open(os.path.join(log, f), "w") as fh:
            fh.write(body)
    compact_delta_log(t.path, 2, 3)
    for v in (2, 3):
        os.remove(os.path.join(log, f"{v:020d}.json"))

    con = duckdb.connect()
    man = glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))[0]
    side = con.execute(f"""
        SELECT sidecar.path FROM read_parquet('{man}')
        WHERE sidecar IS NOT NULL""").fetchall()
    assert side, "manifest must carry sidecar pointer actions"
    side_files = [os.path.join(log, "_sidecars", p) for (p,) in side]
    assert all(os.path.isfile(f) for f in side_files)
    cmeta = con.execute(f"""
        SELECT checkpointMetadata.version FROM read_parquet('{man}')
        WHERE checkpointMetadata IS NOT NULL""").fetchone()
    assert cmeta == (1,)
    con.execute(f"""
        CREATE TABLE cp_adds AS
        SELECT add.path AS path,
               add.partitionValues['order_month'][1] AS month
        FROM read_parquet({side_files!r}) WHERE add IS NOT NULL""")
    comp = os.path.join(
        log, f"{2:020d}.{3:020d}.compacted.json")
    con.execute(f"""
        CREATE TABLE tail_actions AS
        SELECT * FROM read_json_auto('{comp}',
                                     format='newline_delimited',
                                     union_by_name=true)""")
    cols = {r[0] for r in con.execute(
        "SELECT column_name FROM information_schema.columns "
        "WHERE table_name = 'tail_actions'").fetchall()}
    rm = ("SELECT remove.path FROM tail_actions "
          "WHERE remove IS NOT NULL") if "remove" in cols else \
         "SELECT NULL WHERE 1=0"
    ad = ("SELECT add.path AS path, "
          "add.partitionValues.order_month AS month "
          "FROM tail_actions WHERE add IS NOT NULL") \
        if "add" in cols else "SELECT NULL, NULL WHERE 1=0"
    live = con.execute(f"""
        WITH removed AS ({rm}),
             tadds AS ({ad})
        SELECT path, month FROM cp_adds
        WHERE path NOT IN (SELECT * FROM removed)
          AND path NOT IN (SELECT path FROM tadds)
        UNION ALL SELECT path, month FROM tadds
        WHERE path NOT IN (SELECT * FROM removed)""").fetchall()
    from urllib.parse import unquote as _uq
    live = [(_uq(p), m) for p, m in live]
    assert live
    files = [os.path.join(t.path, p) for p, _ in live]
    assert all(os.path.isfile(f) for f in files)
    month_of = {os.path.join(t.path, p): m for p, m in live}
    rows = con.execute(f"""
        SELECT filename, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM read_parquet({files!r}, filename=true,
                          hive_partitioning=false)""").fetchall()
    duck = {(k, c, month_of[fn]) for fn, k, c in rows}

    def _cents(df):
        return {(r["o_orderkey"], r["cents"], r["order_month"])
                for r in df.select(
                    "o_orderkey",
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                    .alias("cents"),
                    F.col("order_month").cast("string")
                    .alias("order_month")).collect()}

    assert duck == _cents(read_delta_dir(spark, t.path))
    assert duck == _cents(t.read(spark))


def test_unknown_reader_features_refuse(spark, tmp_path):
    """PROTOCOL.md reader contract: a table declaring reader features
    this reader does not implement must REFUSE (reading anyway
    returns silently wrong rows); known features still read, and the
    change reader enforces the same gate."""
    import uuid as _u

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        read_delta_changes,
    )

    root = str(tmp_path / "f")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    (spark.range(5).selectExpr("id AS k")
     .coalesce(1).write.parquet(str(tmp_path / "d")))
    import glob as _glob
    import shutil as _sh
    src = _glob.glob(str(tmp_path / "d" / "part-*.parquet"))[0]
    _sh.copy(src, os.path.join(root, "f1.parquet"))
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {}}]}

    def write_log(reader_features):
        with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": reader_features,
                "writerFeatures": reader_features}}) + "\n")
            fh.write(json.dumps({"metaData": {
                "id": str(_u.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": [], "configuration": {}}}) + "\n")
            fh.write(json.dumps({"add": {
                "path": "f1.parquet", "partitionValues": {},
                "size": os.path.getsize(
                    os.path.join(root, "f1.parquet")),
                "modificationTime": 0, "dataChange": True}}) + "\n")

    write_log(["v2Checkpoint", "timestampNtz"])  # all supported
    assert read_delta_dir(spark, root).count() == 5
    write_log(["v2Checkpoint", "futureMagicFeature"])
    with pytest.raises(ValueError, match="futureMagicFeature"):
        read_delta_dir(spark, root)
    with pytest.raises(ValueError, match="futureMagicFeature"):
        read_delta_changes(spark, root, -1)
    # a reader protocol version above 3 is equally unknown
    with open(os.path.join(log, f"{0:020d}.json")) as fh:
        lines = fh.read().splitlines()
    lines[0] = json.dumps({"protocol": {"minReaderVersion": 4,
                                        "minWriterVersion": 7}})
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with pytest.raises(ValueError, match="reader protocol version 4"):
        read_delta_dir(spark, root)
