"""Centroid/codebook drift on the streaming ANN indexes (r7 verdict
#4): the maintenance sinks freeze their training artifacts, so a
distribution shift in arriving vectors must (1) trip the metadata-only
drift monitor, (2) be repaired by the retrain-and-atomic-swap rebuild,
after which (3) recall floors hold on the rebuilt index and (4) the
(app_id, batch_id) ledger still absorbs replays across the swap."""

from __future__ import annotations

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.functions.vectors import (
    dot_expr,
)
from sport_advantages_moderne_data_infrastructure_spark.operators.ivf import (
    ivf_topk,
    train_centroids,
)
from sport_advantages_moderne_data_infrastructure_spark.operators.pq import (
    ivfpq_topk,
    train_pq_codebooks,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
    load_table,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming.annindex import (
    index_drift_report,
    ingest_batch,
    ingest_batch_pq,
    read_index,
    rebuild_ivf_index,
    rebuild_ivfpq_index,
)

K0 = 16  # centroids trained on the pre-shift corpus


def _base(spark, sf_dir):
    return (load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding"))


def _shifted(e, copies: int):
    """A post-shift arrival stream: `copies` jittered clones of the
    corpus squeezed into a far corner of the space the trained
    centroids never saw — every vector lands in one or two lists."""
    outs = []
    for c in range(copies):
        outs.append(e.select(
            (F.col("vec_id") + 100_000 * (c + 1)).alias("vec_id"),
            F.expr(f"transform(embedding, x -> CAST(x * 0.05 + 3.0 + "
                   f"{c} * 0.01 AS FLOAT))").alias("embedding")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _overlap(got_df, want_df):
    def _topk(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    got, want = _topk(got_df), _topk(want_df)
    assert set(got) == set(want)
    return sum(len(got[q] & want[q]) for q in want) / len(want)


def test_ivf_drift_monitor_rebuild_and_recall(spark, sf_dir, tmp_path):
    e = _base(spark, sf_dir)
    cents0 = train_centroids(e, k=K0, max_iter=6)
    idx = TxnTable(str(tmp_path / "idx"))

    ingest_batch(idx, e, cents0, batch_id=0, app_id="drift")
    rep0 = index_drift_report(idx, len(cents0))
    assert not rep0["drifted"], rep0  # trained on what it serves

    ingest_batch(idx, _shifted(e, 2), cents0, batch_id=1,
                 app_id="drift")
    rep1 = index_drift_report(idx, len(cents0))
    assert rep1["drifted"], rep1
    assert "list_skew" in rep1["reasons"] or \
        "low_entropy" in rep1["reasons"], rep1
    assert rep1["n_vectors"] == 3 * e.count()

    # rebuild: retrain on the grown corpus, ONE atomic swap commit
    v_before = idx.latest_version()
    cents1 = rebuild_ivf_index(spark, idx.path)
    assert idx.latest_version() == v_before + 1
    rep2 = index_drift_report(idx, len(cents1))
    assert not rep2["drifted"], rep2

    # recall floor holds across the swap: maintained-index IVF top-10
    # vs exhaustive (nprobe = k probes every list => exact) on the
    # mixed corpus, original-vector queries
    corpus = read_index(spark, idx.path).select("vec_id", "embedding")
    pred = lambda c: c < 10  # noqa: E731
    got = ivf_topk(corpus, cents1, pred, k=10, nprobe=6,
                   assigned=read_index(spark, idx.path))
    want = ivf_topk(corpus, cents1, pred, k=10, nprobe=len(cents1))
    assert _overlap(got, want) >= 7.0

    # ledger survives the swap: replaying an absorbed batch is a no-op
    v = idx.latest_version()
    ingest_batch(idx, _shifted(e, 2), cents1, batch_id=1,
                 app_id="drift")
    assert idx.latest_version() == v
    # ...and new arrivals keep flowing with the fresh centroids
    late = e.limit(5).select((F.col("vec_id") + 900_000).alias("vec_id"),
                             "embedding")
    ingest_batch(idx, late, cents1, batch_id=2, app_id="drift")
    assert read_index(spark, idx.path).count() == rep1["n_vectors"] + 5


def test_ivfpq_drift_rebuild_and_recall(spark, sf_dir, tmp_path):
    e = _base(spark, sf_dir)
    cents0 = train_centroids(e, k=K0, max_iter=6)
    books0 = train_pq_codebooks(e, m=32, k=16)
    idx = TxnTable(str(tmp_path / "pqidx"))

    ingest_batch_pq(idx, e, cents0, books0, batch_id=0, app_id="pqd")
    shifted = _shifted(e, 2)
    ingest_batch_pq(idx, shifted, cents0, books0, batch_id=1,
                    app_id="pqd")
    rep = index_drift_report(idx, len(cents0))
    assert rep["drifted"], rep

    # the code table has no raw embeddings: the rebuild takes the
    # corpus frame (what the stream ingests) and retrains BOTH
    # artifacts
    corpus = e.unionByName(shifted)
    cents1, books1 = rebuild_ivfpq_index(spark, idx.path, corpus,
                                         m=32, pq_k=16)
    assert not index_drift_report(idx, len(cents1))["drifted"]

    queries = (corpus.filter("vec_id < 10")
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qe"),
                       F.sqrt(F.expr(dot_expr("embedding",
                                              "embedding")))
                       .alias("q_norm")))
    got = ivfpq_topk(read_index(spark, idx.path), queries, cents1, books1,
                     k=10, nprobe=6)
    want = ivf_topk(corpus, cents1, lambda c: c < 10, k=10,
                    nprobe=len(cents1))  # exact cosine ground truth
    assert _overlap(got, want) >= 4.0  # quantized floor (cf. test_ann)


def test_check_and_rebuild_pipeline(spark, sf_dir, tmp_path):
    """The composed tripwire pipeline (check_and_rebuild): below the
    tripwire it spends NOTHING (no rebuild commit), past it the
    rebuild runs, the report says so, and the returned artifacts
    serve a healthy index — and the restarted stream's replays are
    still absorbed by the surviving ledger."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.annindex import (
        check_and_rebuild,
    )

    e = _base(spark, sf_dir)
    cents0 = train_centroids(e, k=K0, max_iter=6)
    idx = TxnTable(str(tmp_path / "idx"))
    ingest_batch(idx, e, cents0, batch_id=0, app_id="pipe")

    v0 = idx.latest_version()
    rep = check_and_rebuild(spark, idx.path, len(cents0))
    assert rep["rebuilt"] is False and "centroids" not in rep
    assert idx.latest_version() == v0  # no commit below the tripwire

    ingest_batch(idx, _shifted(e, 2), cents0, batch_id=1,
                 app_id="pipe")
    rep2 = check_and_rebuild(spark, idx.path, len(cents0))
    assert rep2["rebuilt"] is True and rep2["drifted"]
    cents1 = rep2["centroids"]
    assert not index_drift_report(idx, len(cents1))["drifted"]
    # replay absorbed after the swap (restart-the-stream contract)
    v = idx.latest_version()
    ingest_batch(idx, _shifted(e, 2), cents1, batch_id=1,
                 app_id="pipe")
    assert idx.latest_version() == v


def test_drift_report_nets_out_dv_retractions(spark, sf_dir, tmp_path):
    """A deletion-vector retraction commits a position file and no new
    row counts: the drift report's vector count (and the list sizes
    behind check_and_rebuild) must still drop by exactly the retracted
    ids and agree with what the index serves."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.annindex import (
        retract_batch,
    )

    e = _base(spark, sf_dir).limit(200).cache()
    cents = train_centroids(e, k=4, max_iter=4)
    idx = TxnTable(str(tmp_path / "idx"))
    ingest_batch(idx, e, cents, batch_id=0, app_id="dvc")
    n0 = index_drift_report(idx, len(cents))["n_vectors"]
    assert n0 == e.count()

    gone = e.orderBy("vec_id").limit(5)
    retract_batch(idx, gone, cents, 1, "dvc", use_dv=True)
    assert idx.snapshot_dvs()  # the DV path, not a partition rewrite
    rep = index_drift_report(idx, len(cents))
    assert rep["n_vectors"] == n0 - 5
    assert rep["n_vectors"] == read_index(spark, idx.path).count()
