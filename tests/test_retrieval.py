"""BM25 + hybrid RRF retrieval (r8): oracle parity is covered by
test_oracle_parity (both rows carry full hash oracles); these tests pin
the retrieval SEMANTICS (self-retrieval, fusion behavior) and the plan
shape (posting-list joins stay broadcast hash, never all-pairs)."""

from __future__ import annotations

import contextlib
import io as _io

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.plans import catalog

catalog._load_all()


def _plan(df) -> str:
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bm25_self_retrieval(spark, sf_dir):
    """A document queried by its own top-3 TF-IDF terms should rank in
    its own top-10 almost always (BM25's length normalization can
    legitimately push a long self-doc below shorter docs dense in the
    same terms — observed for 1 of 10 queries at sf0.001)."""
    rows = catalog.REGISTRY["text_bm25_topk"].spark_fn(
        spark, sf_dir).collect()
    queries = {r["query_id"] for r in rows}
    self_hits = {r["query_id"] for r in rows
                 if r["query_id"] == r["doc_id"]}
    assert len(queries) >= 10
    assert len(self_hits) >= len(queries) - 2, (queries - self_hits)
    # scores positive and ranks contiguous from 1 per query
    by_q = {}
    for r in rows:
        assert r["score"] > 0
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_hybrid_rrf_fusion_semantics(spark, sf_dir):
    """Fusion contract: exactly 10 rows per query, every row came from
    at least one leg, rrf bounded by (0, 2/61], a doc present in BOTH
    legs carries the sum of both reciprocal ranks, and the self doc —
    rank 1 in the vector leg by construction — lands in the hybrid
    top-2 for every query."""
    rows = catalog.REGISTRY["hybrid_search_rrf"].spark_fn(
        spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["in_text"] or r["in_vector"]
        assert 0 < r["rrf_score"] <= round(2 / 61, 6)
        if r["in_text"] and r["in_vector"]:
            assert r["rrf_score"] > round(1 / 61, 6)  # strictly above
            # the best any single-leg doc can score
    for q, qr in by_q.items():
        assert len(qr) == 10, q
        self_rank = [r["rank"] for r in qr if r["doc_id"] == q]
        assert self_rank and self_rank[0] <= 2, (q, self_rank)


def test_hybrid_deterministic(spark, sf_dir):
    a = catalog.REGISTRY["hybrid_search_rrf"].spark_fn(
        spark, sf_dir).collect()
    b = catalog.REGISTRY["hybrid_search_rrf"].spark_fn(
        spark, sf_dir).collect()
    assert a == b


def test_bm25_plan_is_posting_list_broadcast_join(spark, sf_dir):
    """The candidate set is the union of <= 30 query-term posting lists:
    the query-term and df sides must BROADCAST against the postings
    artifact (never shuffle the corpus per query) and nothing may plan
    all-pairs."""
    plan = _plan(catalog.REGISTRY["text_bm25_topk"].spark_fn(
        spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_stream_bm25_index_restart_exactly_once(spark, sf_dir,
                                                tmp_path_factory):
    """Real writeStream leg: maintain the index from a file stream,
    then RESTART on the same checkpoint — the replay-guarded commits
    must not double-ingest (postings row count, df counts, and the
    meta-accumulated scalars all unchanged), and the maintained index
    must equal the batch build."""
    from sport_advantages_moderne_data_infrastructure_spark.operators import (
        retrieval as R,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
        load_table,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.bm25 import (
        read_bm25_index, write_stream_bm25_index,
    )

    base = tmp_path_factory.mktemp("bm25stream")
    src = str(base / "src")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d.write.parquet(src)

    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    root, ckpt = str(base / "idx"), str(base / "ckpt")
    q = write_stream_bm25_index(stream, root, ckpt, app_id="bm25_t")
    q.awaitTermination(120)
    q.stop()

    post1, df1, n1, avg1 = read_bm25_index(spark, root)
    rows1, toks1 = post1.count(), df1.count()

    # restart on the same checkpoint: no new input -> nothing changes
    q2 = write_stream_bm25_index(
        (spark.readStream.schema(d.schema)
         .option("maxFilesPerTrigger", "1").parquet(src)),
        root, ckpt, app_id="bm25_t")
    q2.awaitTermination(60)
    q2.stop()
    post2, df2, n2, avg2 = read_bm25_index(spark, root)
    assert (post2.count(), df2.count(), n2, avg2) == (rows1, toks1,
                                                     n1, avg1)

    batch = R.postings_frame(d)
    bn, bavg = R.corpus_scalars(batch)
    assert (n1, avg1) == (bn, bavg)
    cols = ["doc_id", "tok", "tf", "dl"]
    assert post1.select(cols).exceptAll(batch.select(cols)).count() == 0
    assert batch.select(cols).exceptAll(post1.select(cols)).count() == 0
    bdf = R.df_frame(batch)
    m = df1.select("tok", F.col("df").cast("long").alias("df"))
    b = bdf.select("tok", F.col("df").cast("long").alias("df"))
    assert m.exceptAll(b).count() == 0 and b.exceptAll(m).count() == 0


def test_stream_bm25_equiv_row_green(spark, sf_dir):
    row = catalog.REGISTRY["stream_bm25_index_equiv"].spark_fn(
        spark, sf_dir).first()
    assert row["postings_match"] and row["df_match"]
    assert row["scalars_match"] and row["topk_match"]
    assert row["n_docs"] > 0


def test_bm25_log_idf_variant(spark, sf_dir):
    """r10 (ADVICE r9 low): scores are summed across query terms, so a
    log transform cannot be applied post-hoc — the log_idf=True path
    must score with ln(1 + rational-idf) INSIDE the sum. Pinned
    against a driver-side brute-force recompute from the same index
    artifacts; the default path stays the bit-exact rational form."""
    import math

    from sport_advantages_moderne_data_infrastructure_spark.operators import (  # noqa: E501
        retrieval as R,
    )
    from sport_advantages_moderne_data_infrastructure_spark.plans.textops import (  # noqa: E501
        bm25_index,
    )

    postings, df, n_docs, avgdl = bm25_index(spark, sf_dir)
    qt = R.query_terms_tfidf(postings, df, n_docs,
                             F.col("doc_id") % 50 == 0)
    got = R.bm25_topk(postings, df, qt, n_docs, avgdl,
                      log_idf=True).collect()
    assert len(got) > 0

    # brute force: per-(query, doc) sum of ln(1+idf) * tf_part over
    # the SAME postings/df/query-term rows (sorted-sum to match)
    dfm = {r["tok"]: r["df"] for r in df.collect()}
    terms = {}
    for r in qt.collect():
        terms.setdefault(r["query_id"], set()).add(r["tok"])
    post = postings.collect()
    want: dict = {}
    K1, B = R.K1, R.B
    for q, toks in terms.items():
        for p in post:
            if p["tok"] in toks:
                idf = math.log(
                    1.0 + (n_docs - dfm[p["tok"]] + 0.5)
                    / (dfm[p["tok"]] + 0.5))
                tfp = (p["tf"] * (K1 + 1)
                       / (p["tf"] + K1 * (1 - B + B * p["dl"] / avgdl)))
                want.setdefault((q, p["doc_id"]), []).append(idf * tfp)
    for r in got:
        parts = want[(r["query_id"], r["doc_id"])]
        total = 0.0
        for x in sorted(parts):
            total += x
        assert abs(r["score"] - total) < 1e-9, (r, total)

    # single-term rank order is idf-transform invariant (monotone)
    base = R.bm25_topk(postings, df,
                       qt.limit(0), n_docs, avgdl, log_idf=False)
    assert base.count() == 0  # empty query set -> empty result


def test_bm25_index_read_pinned_to_df_fold(spark, sf_dir, tmp_path):
    """r10 serve-pinning: read_bm25_index returns a CONSISTENT
    (postings, df, scalars) snapshot — a postings-leg-only append
    landing between the serve's reads (new docs with new tokens the
    df view has never folded) must leave the quadruple, and rankings
    through it, exactly the pre-append ones."""
    from pyspark.sql import functions as F

    from sport_advantages_moderne_data_infrastructure_spark.operators import (  # noqa: E501
        retrieval as R,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (  # noqa: E501
        load_table,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        bm25 as B,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (  # noqa: E501
        TxnTable,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = str(tmp_path / "bm25pin")
    postings = TxnTable(root + "/postings")
    dfv = B.make_df_view(root)
    B.ingest_batch(postings, dfv, d, 0, app_id="pin")
    p1, df1, n1, a1 = B.read_bm25_index(spark, root)
    qt = R.query_terms_tfidf(p1, df1, n1, F.col("doc_id") % 50 == 0)
    qt = qt.localCheckpoint()
    rank1 = sorted(tuple(r) for r in R.bm25_topk(
        p1, df1, qt, n1, a1).collect())

    # torn state: a flood of brand-new docs lands in postings only
    flood = d.limit(20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("zzznewtok "), F.col("text")).alias("text"))
    post = R.postings_frame(flood)
    prev = postings.meta_with("bm25_n_docs")[0]
    row = (post.select("doc_id", "dl").distinct()
           .agg(F.count(F.lit(1)), F.sum("dl")).first())
    rel = postings._write_data(post)  # noqa: SLF001
    postings.commit([rel], [], {
        "operation": "test_torn_append",
        "bm25_n_docs": prev["bm25_n_docs"] + int(row[0]),
        "bm25_total_len": prev["bm25_total_len"] + int(row[1])},
        expected_version=postings.latest_version())

    p2, df2, n2, a2 = B.read_bm25_index(spark, root)
    assert (n2, a2) == (n1, a1)  # scalars pinned to the fold version
    assert sorted(tuple(r) for r in R.bm25_topk(
        p2, df2, qt, n2, a2).collect()) == rank1


def test_bm25_compact_policy(spark, sf_dir, tmp_path):
    """Maintenance policy for the postings table (r10): fold above the
    dir threshold — the pinned read_bm25_index quadruple and rankings
    through it are unchanged, and ingest continues across the fold."""
    from pyspark.sql import functions as F

    from sport_advantages_moderne_data_infrastructure_spark.operators import (  # noqa: E501
        retrieval as R,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (  # noqa: E501
        load_table,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (  # noqa: E501
        TxnTable,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        bm25 as B,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = str(tmp_path / "bm25pol")
    postings = TxnTable(root + "/postings")
    dfv = B.make_df_view(root)
    for i in range(3):
        B.ingest_batch(postings, dfv,
                       d.filter(F.col("doc_id") % 3 == i), i,
                       app_id="pol")
    p1, df1, n1, a1 = B.read_bm25_index(spark, root)
    qt = R.query_terms_tfidf(p1, df1, n1,
                             F.col("doc_id") % 50 == 0).localCheckpoint()
    rank1 = sorted(tuple(r) for r in R.bm25_topk(
        p1, df1, qt, n1, a1).collect())
    assert B.compact_if_needed(spark, root,
                               max_live_dirs=10_000) is None
    assert B.compact_if_needed(spark, root, max_live_dirs=2) is not None
    p2, df2, n2, a2 = B.read_bm25_index(spark, root)
    assert (n2, a2) == (n1, a1)
    assert sorted(tuple(r) for r in R.bm25_topk(
        p2, df2, qt, n2, a2).collect()) == rank1
