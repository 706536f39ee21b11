"""Round-14 pins of the r13 advisor items plus the VERDICT r13 fault
and wiring tasks: (1) export_delta_log action paths percent-encode so
the reader's decode recovers the on-disk name (ADVICE medium); (2) the
reader's manifest join normalizes the scan URI and the manifest key
identically — a decode mismatch is loud, never a silent row drop;
(3) the identity rebase path is BOUNDED against the attempt budget
under a steady stream of non-allocating conflicts (fault-injected);
(4) exported checkpoints are spec-shaped — explicit protocol row,
map-typed partitionValues, _last_checkpoint bookkeeping; (5) the skew
pair aggregates exact integer cents, immune to FP summation order;
(6) a TRANSIENT (non-analysis) failure during _row_candidates'
metadata-only scoping surfaces as an error instead of silently
degrading to a full sizing scan (VERDICT r13 #6); (7) the PIL escape
hatch is wired — the codec adapter and the mapInPandas plumbing are
proven with an injected stub, no PIL in the environment (VERDICT r13
#7)."""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    _COMMIT_ATTEMPTS,
    TxnConflictError,
    TxnTable,
)


def _orders(spark, n=60):
    return (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
            .select("o_orderkey", "o_totalprice", "o_orderdate",
                    "o_orderstatus")
            .orderBy("o_orderkey").limit(n))


# --- (1)+(2) path codec symmetry ------------------------------------------


def test_export_paths_are_percent_encoded(spark, tmp_path):
    """A partition value with '%' Hive-escapes on disk (%25); the
    exported add path must encode that '%' again (%2525) so unquoting
    yields the on-disk name — writing the raw on-disk segment would
    decode to a nonexistent path."""
    from urllib.parse import unquote

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_log,
    )

    t = TxnTable(str(tmp_path / "pct"))
    t.set_partition_column("k")
    t.append(spark.createDataFrame([(1, "a%3Ab"), (2, "c:d")],
                                   "id int, k string"))
    log_dir = export_delta_log(t)
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        adds = [json.loads(ln)["add"] for ln in fh
                if ln.strip() and "add" in json.loads(ln)]
    assert adds
    for a in adds:
        on_disk = unquote(a["path"])
        assert os.path.isfile(os.path.join(t.path, on_disk)), a["path"]
        # raw action path must NOT name an existing file unless it
        # round-trips (i.e., encoding was actually applied where needed)
        if "%" in a["path"]:
            assert a["path"] != on_disk


def test_scan_uri_normalization_matches_manifest_key(spark):
    """The reader's two join sides — Spark's percent-encoded
    _metadata.file_path URI and the manifest's raw abspath — normalize
    through the same decode; pinned directly on the decode column over
    hostile URI strings (space, ':', '%', literal '+')."""
    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        _decode_path_col,
    )

    rows = [("file:///d/a%20b/x.parquet", "/d/a b/x.parquet"),
            ("file:///d/t%3D1/x.parquet", "/d/t=1/x.parquet"),
            ("file:///d/p%2525/x.parquet", "/d/p%25/x.parquet"),
            ("file:///d/i+j/x.parquet", "/d/i+j/x.parquet"),
            ("not-encoded/%zz/x.parquet", "not-encoded/%zz/x.parquet")]
    df = spark.createDataFrame(rows, "uri string, want string")
    got = df.select(
        _decode_path_col(F.regexp_replace(
            "uri", "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")).alias("got"),
        "want").collect()
    for r in got:
        assert r["got"] == r["want"] or (
            # the malformed-escape fallback keeps the raw string
            r["want"].startswith("not-encoded")
            and r["got"].endswith("%zz/x.parquet"))


# --- (3) bounded identity rebase under injected conflicts -----------------


@pytest.mark.parametrize("partitioned", [False, True],
                         ids=["plain", "partitioned"])
def test_identity_rebase_budget_is_bounded(spark, tmp_path,
                                           monkeypatch, partitioned):
    """Fault injection: every commit attempt loses to a NON-allocating
    racer (TxnConflictError, no interleaved allocation). The rebase
    path must exhaust a bounded budget and surface the conflict — the
    pre-r14 inner `while True` spun forever here — on a plain identity
    table and on a partition-declared one alike. Past 200 attempts the
    fake commit raises a different error, so a spinning writer fails
    the test instead of hanging it."""
    t = TxnTable(str(tmp_path / "spin"))
    t.set_identity_column("rid")
    cols = ["o_orderkey"]
    if partitioned:
        t.set_partition_column("day")
        cols.append((F.col("o_orderkey") % 2).alias("day"))
    t.append(_orders(spark, 10).select(*cols))

    attempts = {"n": 0}

    def always_conflict(self, *a, **k):
        attempts["n"] += 1
        if attempts["n"] > 200:
            raise RuntimeError("still retrying after 200 commit attempts")
        raise TxnConflictError("injected non-allocating racer")

    monkeypatch.setattr(TxnTable, "commit", always_conflict)
    monkeypatch.setattr(TxnTable, "_interleaved_allocation",
                        lambda self, v0: False)
    monkeypatch.setattr(TxnTable, "_conflict_backoff",
                        staticmethod(lambda attempt: None))
    with pytest.raises(TxnConflictError, match="injected"):
        t.append(_orders(spark, 5).select(*cols))
    # bounded: one budget (20) counts every lost round, rebase or
    # redo — never 20 redo rounds x unbounded rebases
    assert attempts["n"] <= 20, attempts["n"]
    assert attempts["n"] <= _COMMIT_ATTEMPTS, attempts["n"]
    # and the orphaned commit dir was reclaimed
    data_dir = os.path.join(t.path, "data")
    live = {os.path.basename(d) for d in
            (os.path.join(data_dir, x) for x in os.listdir(data_dir))}
    assert len(live) == 1  # only the first append's commit dir


# --- (4) spec-shaped checkpoint bookkeeping -------------------------------


def test_checkpoint_bookkeeping_is_spec_shaped(spark, tmp_path):
    from pyspark.sql.types import MapType

    from sport_advantages_moderne_data_infrastructure_spark.sources.deltainterop import (
        export_delta_checkpoint,
        export_delta_log,
    )

    t = TxnTable(str(tmp_path / "cpshape"))
    t.append(_orders(spark, 30))
    t.delete_where(spark, "o_orderkey % 4 = 0")
    export_delta_log(t)
    cp = export_delta_checkpoint(spark, t.path)
    cpdf = spark.read.parquet(cp)
    assert isinstance(
        cpdf.schema["add"].dataType["partitionValues"].dataType,
        MapType)
    assert cpdf.filter("protocol IS NOT NULL").count() == 1
    assert cpdf.filter("remove IS NOT NULL").count() > 0
    last = json.load(open(os.path.join(
        t.path, "_delta_log", "_last_checkpoint")))
    assert last["version"] == t.latest_version()
    assert last["size"] == cpdf.count()


# --- (5) skew pair is FP-order-immune -------------------------------------


def test_skew_pair_aggregates_exact_cents(spark):
    """Both skew legs emit bigint revenue_cents — identical under ANY
    partitioning — and agree byte-for-byte at test scale."""
    from sport_advantages_moderne_data_infrastructure_spark.plans import (
        star,
    )

    sf = "/root/testdata/sf0.001"
    salted = star.q_skew_salted_join(spark, sf)
    plain = star.skew_plain_baseline(spark, sf)
    assert dict(salted.dtypes)["revenue_cents"] == "bigint"
    assert dict(plain.dtypes)["revenue_cents"] == "bigint"
    assert sorted(map(tuple, salted.collect())) \
        == sorted(map(tuple, plain.collect()))


# --- (6) transient metadata-scoping failure propagates --------------------


def test_hot_partitions_transient_failure_is_loud(spark, tmp_path):
    """A condition that PASSES analysis but fails at runtime during
    the metadata-only partition scoping (the transient-read stand-in)
    must propagate — the downgrade-to-sizing-scan path is reserved
    for AnalysisException (data-column conditions), because a silent
    downgrade would swap whole-partition for per-row delete
    semantics."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "fault"))
    t.set_generated_column("order_year",
                           "DATE_FORMAT(o_orderdate, 'yyyy')")
    t.set_partition_column("order_year")
    t.append(o)
    v0 = t.latest_version()
    n0 = t.read(spark).count()
    with pytest.raises(Exception, match="transient-fault"):
        t.delete_where(
            spark,
            "CASE WHEN order_year IS NOT NULL THEN "
            "RAISE_ERROR('transient-fault') ELSE TRUE END")
    assert t.latest_version() == v0  # nothing committed
    assert t.read(spark).count() == n0
    # the AnalysisException downgrade (data-column condition) still
    # works — per-row delete, correct rows gone
    t.delete_where(spark, "o_orderkey % 2 = 0")
    assert t.read(spark).filter("o_orderkey % 2 = 0").count() == 0


# --- (7) the PIL escape hatch is wired ------------------------------------


def _parse_bmp(blob: bytes):
    """Test codec: a real parse of the synth BMP (independent of the
    production decoder) returning the adapter tuple shape."""
    import numpy as np

    off = int.from_bytes(blob[10:14], "little")
    w = int.from_bytes(blob[18:22], "little", signed=True)
    h = int.from_bytes(blob[22:26], "little", signed=True)
    row, stride = 3 * w, (3 * w + 3) // 4 * 4
    px = (np.frombuffer(blob, dtype=np.uint8, offset=off)
          .reshape(abs(h), stride)[:, :row])
    return w, abs(h), row * abs(h), int(px.sum(dtype=np.int64)), "BGR"


def test_decode_image_features_wiring_with_stub_codec(spark, sf_dir):
    """The generic-codec decode rides the SAME Arrow mapInPandas
    plumbing as the hand-rolled decoders: with an injected stub codec
    (no PIL anywhere), features match decode_bmp_features on the same
    blobs — schema, batch shape, and values all pinned."""
    from sport_advantages_moderne_data_infrastructure_spark.operators import (
        multimodal as MM,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40)
    media = MM.synth_bmp(docs)
    got = MM.decode_image_features(media, codec=_parse_bmp)
    assert [f.name for f in got.schema.fields] == [
        "doc_id", "width", "height", "n_pixel_bytes", "pixel_sum",
        "mode"]
    want = MM.decode_bmp_features(media)
    g = {(r["doc_id"], r["width"], r["n_pixel_bytes"], r["pixel_sum"])
         for r in got.collect()}
    w = {(r["doc_id"], r["width"], r["n_pixel_bytes"], r["pixel_sum"])
         for r in want.collect()}
    assert g == w and len(g) == 40


def test_decode_image_features_error_surfaces(spark, sf_dir):
    """A corrupt blob fails the job with the doc_id attached; an
    absent codec library surfaces NotImplementedError from the job —
    never a silent empty frame."""
    from sport_advantages_moderne_data_infrastructure_spark.operators import (
        multimodal as MM,
    )

    media = spark.createDataFrame(
        [(1, bytearray(b"not-an-image"))], "doc_id long, blob binary")
    with pytest.raises(Exception, match="doc_id=1"):
        MM.decode_image_features(media, codec=_parse_bmp).collect()
    if "PIL" not in sys.modules:
        try:
            import PIL  # noqa: F401
            has_pil = True
        except ImportError:
            has_pil = False
        if not has_pil:
            with pytest.raises(Exception,
                               match="NotImplementedError|codec"):
                MM.decode_image_features(media).collect()


def test_pil_adapter_against_stubbed_module(monkeypatch):
    """Driver-side proof of the PIL adapter itself: a stub PIL module
    whose Image.open returns a deterministic image object exercises
    the exact lines a `pip install pillow` deployment runs — open,
    mode, RGB convert, numpy stats."""
    import types

    import numpy as np

    from sport_advantages_moderne_data_infrastructure_spark.operators.multimodal import (
        _pil_codec,
    )

    class _FakeImg:
        mode = "CMYK"
        _arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)

        def convert(self, m):
            assert m == "RGB"
            return self._arr

    fake_image_mod = types.SimpleNamespace(
        open=lambda fh: _FakeImg())
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)
    w, h, n, s, mode = _pil_codec(b"\xff\xd8fakejpeg")
    assert (w, h, n) == (3, 2, 18)
    assert s == int(np.arange(18, dtype=np.int64).sum())
    assert mode == "CMYK"
