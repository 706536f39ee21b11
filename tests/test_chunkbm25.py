"""CDF-driven maintenance of the chunk-granular BM25 index
(streaming/chunkbm25.py): inserts, UPDATEs and DELETEs on a governed
documents TxnTable fold into the cpost/cdf/scalars triple and stay
row-identical to a batch rebuild over the table's current state —
plus the per-physical-row projection regression (tf doubling under a
multi-commit window), crash-between-legs healing, serve pinning, and
the live txnlog-CDF stream restart."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.operators.retrieval import (
    chunk_postings_frame,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import TxnTable
from sport_advantages_moderne_data_infrastructure_spark.streaming.chunkbm25 import (
    make_chunk_views,
    read_chunk_bm25_index,
    refresh_chunk_index,
    write_stream_chunk_bm25_index,
)

CT = ["doc_id", "pos", "tok", "tf", "dl"]


def _docs(spark, sf_dir, n=30):
    return (spark.read.parquet(sf_dir + "/documents.parquet")
            .orderBy("doc_id").limit(n).cache())


def _assert_matches_batch(spark, root, final_docs):
    ctf, cdl, cdf, n_chunks, avgdl = read_chunk_bm25_index(spark, root)
    b_ctf = chunk_postings_frame(final_docs)
    assert ctf.select(CT).exceptAll(b_ctf.select(CT)).count() == 0
    assert b_ctf.select(CT).exceptAll(ctf.select(CT)).count() == 0
    b_cdl = b_ctf.select("doc_id", "pos", "dl").distinct()
    bn = b_cdl.count()
    bl = int(b_cdl.agg(F.sum("dl")).first()[0])
    assert n_chunks == bn and avgdl == bl / bn
    b_cdf = (b_ctf.groupBy("tok")
             .agg(F.count(F.lit(1)).cast("long").alias("df")))
    m = cdf.select("tok", F.col("df").cast("long").alias("df"))
    assert m.exceptAll(b_cdf).count() == 0
    assert b_cdf.exceptAll(m).count() == 0


def test_chunk_index_follows_insert_update_delete(spark, sf_dir,
                                                  tmp_path):
    """Three refreshes over a churned history (wrong-text inserts,
    junk inserts, corrective merge UPDATE, junk DELETE) end exactly at
    the batch build of the final corpus — updates retract their old
    chunks, deletes leave no postings, scalars track signed."""
    d = _docs(spark, sf_dir)
    docs = TxnTable(str(tmp_path / "docs"))
    root = str(tmp_path / "idx")

    wrong = (d.filter(F.col("doc_id") % 7 == 3)
             .withColumn("text", F.concat(F.lit("zz zz "), "text")))
    junk = (d.limit(2)
            .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    docs.append(d.filter((F.col("doc_id") % 2 == 0)
                         & (F.col("doc_id") % 7 != 3))
                .unionByName(wrong).unionByName(junk))
    refresh_chunk_index(spark, docs, root, batch_id=0, app_id="ct")

    docs.append(d.filter((F.col("doc_id") % 2 == 1)
                         & (F.col("doc_id") % 7 != 3)))
    refresh_chunk_index(spark, docs, root, batch_id=1, app_id="ct")

    docs.merge(spark, d.filter(F.col("doc_id") % 7 == 3),
               key="doc_id")
    docs.delete_where(spark, "doc_id >= 1000000")
    refresh_chunk_index(spark, docs, root, batch_id=2, app_id="ct")

    _assert_matches_batch(spark, root, d)

    # deleted docs truly gone from the maintained postings
    ctf, _, _, _, _ = read_chunk_bm25_index(spark, root)
    assert ctf.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_multi_commit_window_no_tf_doubling(spark, sf_dir, tmp_path):
    """The per-physical-row projection regression: a doc INSERTED in
    one commit and touched by a SAME-TEXT update (lang-only merge) in
    the next, with BOTH commits folded by ONE refresh — without the
    row-uid the insert side carries the doc twice and the chunk
    rollup doubles its tf (net +2 copies -1 = doubled postings)."""
    d = _docs(spark, sf_dir, n=8)
    docs = TxnTable(str(tmp_path / "docs"))
    root = str(tmp_path / "idx")

    docs.append(d)                                     # commit 0
    docs.merge(spark, d.withColumn("lang", F.lit("xx")),
               key="doc_id")                           # commit 1
    refresh_chunk_index(spark, docs, root, batch_id=0, app_id="md")

    final = d.withColumn("lang", F.lit("xx"))
    _assert_matches_batch(spark, root, final)
    # and the view holds each posting ONCE
    ctf, _, _, _, _ = read_chunk_bm25_index(spark, root)
    dup = (ctf.groupBy("doc_id", "pos", "tok")
           .agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") > 1).count())
    assert dup == 0


def test_crash_between_legs_heals_and_serve_stays_pinned(
        spark, sf_dir, tmp_path):
    """cpost leg applied without its cdf leg (the crash point):
    read_chunk_bm25_index still serves the LAST CONSISTENT snapshot —
    postings and scalars read AT the cdf view's fold version, so the
    fresher cpost commit is invisible until its df fold lands; the
    next full refresh folds the straggler and converges."""
    d = _docs(spark, sf_dir, n=20)
    docs = TxnTable(str(tmp_path / "docs"))
    root = str(tmp_path / "idx")

    first = d.filter(F.col("doc_id") % 2 == 0)
    docs.append(first)
    refresh_chunk_index(spark, docs, root, batch_id=0, app_id="cl")
    snap = read_chunk_bm25_index(spark, root)
    rows0, n0 = snap[0].count(), snap[3]

    # crash point: second docs commit folded into cpost ONLY
    docs.append(d.filter(F.col("doc_id") % 2 == 1))
    cpost, _cdf = make_chunk_views(root)
    sv = docs.latest_version()
    ch = docs.read_changes(spark, since_version=0, upto=sv)
    cpost.apply_change_batch(
        spark, ch, {"operation": "chunk_postings_refresh",
                    "mv_source_version": sv})

    ctf1, _, _, n1, _ = read_chunk_bm25_index(spark, root)
    assert (ctf1.count(), n1) == (rows0, n0)  # pinned: old snapshot

    # healing: the next refresh's cdf leg covers the straggler commit
    refresh_chunk_index(spark, docs, root, batch_id=1, app_id="cl")
    _assert_matches_batch(spark, root, d)


def test_stream_chunk_index_live_cdf_restart(spark, sf_dir, tmp_path):
    """Real writeStream over the documents table's change feed: the
    maintained index converges to the batch build; a restart on the
    same checkpoint with no new versions changes nothing
    (replay-guarded legs + pinned version ranges)."""
    d = _docs(spark, sf_dir, n=20)
    docs = TxnTable(str(tmp_path / "docs"))
    root, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")

    docs.append(d.filter(F.col("doc_id") % 2 == 0))
    docs.append(d.filter(F.col("doc_id") % 2 == 1))
    docs.delete_where(
        spark, f"doc_id = {d.first()['doc_id']}")

    q = write_stream_chunk_bm25_index(spark, docs.path, root, ckpt,
                                      app_id="cs")
    q.awaitTermination(120)
    q.stop()
    final = d.filter(F.col("doc_id") != d.first()["doc_id"])
    _assert_matches_batch(spark, root, final)
    v1 = TxnTable(root + "/cpost").latest_version()

    q2 = write_stream_chunk_bm25_index(spark, docs.path, root, ckpt,
                                       app_id="cs")
    q2.awaitTermination(60)
    q2.stop()
    assert TxnTable(root + "/cpost").latest_version() == v1
    _assert_matches_batch(spark, root, final)


def test_refresh_without_commits_raises(spark, tmp_path):
    docs = TxnTable(str(tmp_path / "docs"))
    with pytest.raises(ValueError, match="no commits"):
        refresh_chunk_index(spark, docs, str(tmp_path / "idx"))


def test_docs_overwrite_fails_loudly(spark, sf_dir, tmp_path):
    """A full overwrite of the documents table has no row-level delta:
    the refresh raises instead of rebuilding (a rebuild would drop the
    ``cbm25_*`` scalars folded into cpost's commit meta), and neither
    view nor the scalars move."""
    d = _docs(spark, sf_dir, n=12)
    docs = TxnTable(str(tmp_path / "docs"))
    root = str(tmp_path / "idx")
    docs.append(d)
    refresh_chunk_index(spark, docs, root, batch_id=0, app_id="ow")
    cpost, cdfv = make_chunk_views(root)

    def _state():
        meta = cpost.view.last_meta()
        return (cpost.view.latest_version(), cdfv.view.latest_version(),
                meta["cbm25_n_chunks"], meta["cbm25_total_len"])

    before = _state()
    docs.overwrite(d.limit(4))
    with pytest.raises(ValueError):
        refresh_chunk_index(spark, docs, root, batch_id=1, app_id="ow")
    assert _state() == before
    _assert_matches_batch(spark, root, d)


def test_maintenance_checkpoint_and_pinned_vacuum(spark, sf_dir,
                                                  tmp_path):
    """The maintenance policy for a bucket-replace view: many
    refreshes accrete LOG commits (live dirs stay <= n_buckets), so
    checkpointing bounds replay; vacuum with the retention floor at
    the cdf fold version keeps the pinned serve readable."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.chunkbm25 import (
        checkpoint_if_needed,
    )

    d = _docs(spark, sf_dir, n=24)
    docs = TxnTable(str(tmp_path / "docs"))
    root = str(tmp_path / "idx")
    for i in range(6):
        docs.append(d.filter(F.col("doc_id") % 6 == i))
        refresh_chunk_index(spark, docs, root, batch_id=i, app_id="mt")
    cp_post, cp_df = checkpoint_if_needed(root, interval=5)
    assert cp_post is not None and cp_df is not None

    cpost, cdfv = make_chunk_views(root)
    sv = int(cdfv.view.meta_with("mv_source_version")[0]
             ["mv_source_version"])
    cpost.view.vacuum(retain_from_version=sv)
    _assert_matches_batch(spark, root, d)   # pinned serve survives
    # and maintenance continues across the checkpoint
    extra = d.limit(3).withColumn("doc_id", F.col("doc_id") + 777_000)
    docs.append(extra)
    refresh_chunk_index(spark, docs, root, batch_id=6, app_id="mt")
    _assert_matches_batch(spark, root, d.unionByName(extra))


def test_docs_dv_delete_flows_into_chunk_index(spark, sf_dir,
                                               tmp_path):
    """A DV-mode delete on the source documents table (no rewrite —
    just a position file) still emits delete preimages on the change
    feed, and the chunk index retracts those docs' postings on the
    next refresh."""
    d = _docs(spark, sf_dir, n=16)
    docs = TxnTable(str(tmp_path / "docs"))
    root = str(tmp_path / "idx")
    docs.append(d)
    refresh_chunk_index(spark, docs, root, batch_id=0, app_id="dv")
    gone = d.first()["doc_id"]
    docs.delete_where(spark, f"doc_id = {gone}", use_dv=True)
    refresh_chunk_index(spark, docs, root, batch_id=1, app_id="dv")
    final = d.filter(F.col("doc_id") != gone)
    _assert_matches_batch(spark, root, final)
