"""Misra-Gries heavy hitters (r8): oracle parity (full GROUP BY/HAVING
hash) is covered by test_oracle_parity/test_driver_gate; these pin the
sketch's guarantees directly — no false negatives from pass 1, exact
recovery end-to-end, partitioning invariance, bounded candidate
volume."""

from __future__ import annotations

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
    heavy_hitters_exact, mg_candidates,
)
from sport_advantages_moderne_data_infrastructure_spark.plans import catalog
from sport_advantages_moderne_data_infrastructure_spark.sources.tables import load_table

catalog._load_all()

PHI = 0.007
K = 143  # ceil(1/PHI)


def _exact_hh(e, phi):
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    n = e.count()
    return {r["user_id"]: r["cnt"]
            for r in c.filter(F.col("cnt") > phi * n).collect()}


def test_mg_candidates_superset_and_bounded(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    truth = _exact_hh(e, PHI)
    cand = {r["user_id"]
            for r in mg_candidates(e, "user_id", K).collect()}
    missing = set(truth) - cand
    assert missing == set(), f"MG false negatives: {missing}"
    n_parts = e.rdd.getNumPartitions()
    assert len(cand) <= n_parts * K


def test_heavy_hitters_exact_recovery(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    truth = _exact_hh(e, PHI)
    got = {r["user_id"]: r["cnt"]
           for r in heavy_hitters_exact(e, "user_id", PHI).collect()}
    assert got == truth  # exact keys AND exact counts


def test_heavy_hitters_partitioning_invariant(spark, sf_dir):
    """The per-partition sketch sees different slices under different
    partitionings; the RESULT may not change (candidates are a
    superset either way, pass 2 is exact)."""
    e = load_table(spark, sf_dir, "events")
    a = {(r["user_id"], r["cnt"]) for r in heavy_hitters_exact(
        e.repartition(3), "user_id", PHI).collect()}
    b = {(r["user_id"], r["cnt"]) for r in heavy_hitters_exact(
        e.repartition(13), "user_id", PHI).collect()}
    assert a == b and len(a) > 0


def test_heavy_hitters_high_phi_is_empty_not_wrong(spark, sf_dir):
    """With phi above every share, the cut must produce an empty frame
    (candidate proposals alone never leak into the answer)."""
    e = load_table(spark, sf_dir, "events")
    assert heavy_hitters_exact(e, "user_id", 0.5).count() == 0


def test_mg_sketch_merge_bounds_on_crafted_skew(spark):
    """Mergeability contract (Agarwal et al. 2012) on an adversarial
    Zipf-ish frame with far more distinct values than counters: the
    merged sketch stays <= k rows, never overcounts, undercounts by
    <= n/(k+1), and retains every phi-heavy value — under two
    different partitionings."""
    import math

    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        mg_sketch,
    )

    # 3 heavy values (1000 each) drowned in 2000 singletons + 500
    # mid-weight values (8 each) -> n = 9000
    rows = ([(v,) for v in (1, 2, 3) for _ in range(1000)]
            + [(100 + i,) for i in range(2000)]
            + [(10_000 + i,) for i in range(500) for _ in range(8)])
    phi = 0.05
    k = math.ceil(1.0 / phi)  # 20 counters, 2503 distinct values
    n = len(rows)
    truth = {1: 1000, 2: 1000, 3: 1000}
    for parts in (4, 17):
        df = spark.createDataFrame(rows, "v long").repartition(parts)
        sk = {r["v"]: r["weight"]
              for r in mg_sketch(df, "v", k).collect()}
        assert len(sk) <= k
        for v, w in sk.items():
            true_c = truth.get(v, 8 if v >= 10_000 else 1)
            assert w <= true_c, (v, w, true_c)
            assert true_c - w <= n / (k + 1), (v, w, true_c)
        assert set(truth) <= set(sk)  # phi-heavy always survive


def test_stream_mg_restart_exactly_once(spark, sf_dir,
                                        tmp_path_factory):
    """Real writeStream leg: maintain the sketch from a file stream,
    RESTART on the same checkpoint — replay-guarded commits must not
    double-ingest (accumulated n and sketch weights unchanged), and
    heavy hitters served through the maintained sketch must equal the
    batch two-pass."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.sketches import (
        heavy_hitters_served, sketch_estimates, write_stream_mg_sketch,
    )

    base = tmp_path_factory.mktemp("mgstream")
    src = str(base / "src")
    e = (load_table(spark, sf_dir, "events")
         .filter(F.col("user_id").isNotNull())
         .select("event_id", "user_id"))
    e.write.parquet(src)

    def _stream():
        return (spark.readStream.schema(e.schema)
                .option("maxFilesPerTrigger", "1").parquet(src))

    root, ckpt = str(base / "mg"), str(base / "ckpt")
    q = write_stream_mg_sketch(_stream(), root, ckpt, "user_id", PHI,
                               app_id="mg_t")
    q.awaitTermination(120)
    q.stop()
    sk1, n1 = sketch_estimates(spark, root)
    w1 = {r["user_id"]: r["weight"] for r in sk1.collect()}

    q2 = write_stream_mg_sketch(_stream(), root, ckpt, "user_id", PHI,
                                app_id="mg_t")
    q2.awaitTermination(60)
    q2.stop()
    sk2, n2 = sketch_estimates(spark, root)
    assert n2 == n1 == e.count()
    assert {r["user_id"]: r["weight"] for r in sk2.collect()} == w1

    served = {(r["user_id"], r["cnt"]) for r in heavy_hitters_served(
        spark, root, "user_id", PHI).collect()}
    batch = {(r["user_id"], r["cnt"]) for r in heavy_hitters_exact(
        e, "user_id", PHI).collect()}
    assert served == batch and len(served) > 0


def test_stream_mg_crash_between_legs_recovers(spark, sf_dir,
                                               monkeypatch):
    """Crash AFTER the events append but BEFORE the sketch merge: the
    next batch's change-feed fold must cover the gap (the bm25 df-leg
    discipline), and a replayed batch_id must be a no-op."""
    import math
    import tempfile

    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        sketches as S,
    )

    e = (load_table(spark, sf_dir, "events")
         .filter(F.col("user_id").isNotNull()))
    k = math.ceil(1.0 / PHI)
    root = tempfile.mkdtemp(prefix="samdis_mg_crash_")
    events, sketch = S._tables(root)

    S.ingest_batch(events, sketch, e.filter(F.col("event_id") % 3 == 0),
                   0, "user_id", k, "mg_c")

    # batch 1 crashes inside the sketch leg, after the events commit
    boom = RuntimeError("injected crash before sketch merge")

    def _raise(*a, **kw):
        raise boom

    real = S.mg_partial
    monkeypatch.setattr(S, "mg_partial", _raise)
    try:
        S.ingest_batch(events, sketch,
                       e.filter(F.col("event_id") % 3 == 1),
                       1, "user_id", k, "mg_c")
        raise AssertionError("injected crash did not fire")
    except RuntimeError as ex:
        assert ex is boom
    monkeypatch.setattr(S, "mg_partial", real)
    assert events.latest_version() > sketch.latest_version()  # torn

    # redelivery of batch 1: events leg skips (guard), sketch leg
    # folds the uncovered feed; then batch 2 proceeds normally
    S.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 3 == 1),
                   1, "user_id", k, "mg_c")
    S.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 3 == 2),
                   2, "user_id", k, "mg_c")
    # and a pure replay is a no-op on both legs
    ev_v, sk_v = events.latest_version(), sketch.latest_version()
    S.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 3 == 2),
                   2, "user_id", k, "mg_c")
    assert (events.latest_version(), sketch.latest_version()) == (ev_v,
                                                                  sk_v)

    served = {(r["user_id"], r["cnt"]) for r in S.heavy_hitters_served(
        spark, root, "user_id", PHI).collect()}
    batch = {(r["user_id"], r["cnt"]) for r in heavy_hitters_exact(
        e, "user_id", PHI).collect()}
    assert served == batch and len(served) > 0


def test_grouped_heavy_hitters_exact_recovery(spark, sf_dir):
    """Grouped two-pass: exact (group, key, cnt) recovery per group,
    invariant under repartitioning."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        grouped_heavy_hitters_exact,
    )

    e = (load_table(spark, sf_dir, "events")
         .filter(F.col("user_id").isNotNull()))
    c = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt"))
    tot = {r["event_type"]: r["n"] for r in
           c.groupBy("event_type").agg(F.sum("cnt").alias("n"))
           .collect()}
    truth = {(r["event_type"], r["user_id"]): r["cnt"]
             for r in c.collect()
             if r["cnt"] > PHI * tot[r["event_type"]]}
    for parts in (3, 13):
        got = {(r["event_type"], r["user_id"]): r["cnt"]
               for r in grouped_heavy_hitters_exact(
                   e.repartition(parts), "event_type", "user_id",
                   PHI).collect()}
        assert got == truth and len(got) > 0


def test_grouped_heavy_hitters_groups_independent(spark):
    """A value heavy in ONE group must not leak into another group's
    answer — per-group totals, per-group cuts."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        grouped_heavy_hitters_exact,
    )

    rows = ([("a", 1)] * 60 + [("a", i) for i in range(100, 140)]
            + [("b", 1)] * 2 + [("b", 2)] * 90
            + [("b", i) for i in range(200, 208)])
    df = spark.createDataFrame(rows, "g string, v long").repartition(5)
    got = {(r["g"], r["v"]): r["cnt"] for r in
           grouped_heavy_hitters_exact(df, "g", "v", 0.25).collect()}
    # group a: total 100, v=1 has 60 (> 25) qualifies; singletons don't.
    # group b: total 100, v=2 has 90 qualifies; v=1 has only 2 — must
    # NOT ride in on group a's weight.
    assert got == {("a", 1): 60, ("b", 2): 90}


def test_exact_quantiles_match_sorted_reference(spark, sf_dir):
    """Every q against the brute-force order statistic, with the
    direct path disabled (direct_limit tiny) so real bracketing rounds
    run; invariant under repartitioning."""
    import math

    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        exact_quantiles,
    )

    o = load_table(spark, sf_dir, "orders")
    vals = sorted(r[0] for r in o.select("o_totalprice").collect())
    n = len(vals)
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 1.0]
    want = [(q, vals[max(1, math.ceil(q * n)) - 1]) for q in qs]
    for parts in (3, 17):
        got = exact_quantiles(o.repartition(parts), "o_totalprice",
                              qs, accuracy=50, direct_limit=120)
        assert got == want


def test_exact_quantiles_heavy_duplicates_short_circuit(spark):
    """A value owning most of the mass: the bracket collapses to one
    value and the short-circuit must return it exactly (a naive
    bracket-shrink loop would spin and raise)."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        exact_quantiles,
    )

    rows = ([(42.0,)] * 5000
            + [(float(i),) for i in range(1000)]
            + [(float(10_000 + i),) for i in range(1000)])
    df = spark.createDataFrame(rows, "x double").repartition(7)
    got = exact_quantiles(df, "x", [0.5], accuracy=50, direct_limit=100)
    assert got == [(0.5, 42.0)]


def test_heavy_hitters_plan_shape(spark, sf_dir):
    """Pass 2's only join is the broadcast candidate tag; nothing may
    plan all-pairs."""
    import contextlib
    import io

    df = catalog.REGISTRY["heavy_hitters_users"].spark_fn(
        spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_exact_quantiles_job_count_batched(spark, sf_dir):
    """VERDICT r8 #2 pin: a 9-quantile sweep costs the SAME number of
    Spark jobs as a 1-quantile call — every bracketing round is one
    multi-bracket re-sketch + one conditional-agg verify pass, and all
    ready brackets share one ranked read; never a per-quantile loop.

    direct_limit=300 makes convergence DETERMINISTIC at this scale:
    the post-sketch bracket width is bounded by ~4n/accuracy = 120
    (< 300 with margin even under tie-wobble), so every bracket is
    ready after exactly one sketch round and the job counts compare
    exactly. The 50-accuracy sweep test above still exercises the
    multi-round widen path."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        exact_quantiles,
    )

    o = load_table(spark, sf_dir, "orders")
    sc = spark.sparkContext

    def njobs(tag, qs):
        sc.setJobGroup(tag, "quantile job-count pin")
        try:
            exact_quantiles(o, "o_totalprice", qs,
                            accuracy=50, direct_limit=300)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    one = njobs("qpin1", [0.5])
    nine = njobs("qpin9", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9,
                           0.95, 0.99, 1.0])
    assert 0 < one <= 10  # count + sketch + verify + read, AQE-split
    assert nine == one, (one, nine)


def test_exact_quantiles_null_semantics(spark):
    """ADVICE r8 medium: NULLs are excluded from n — k is a rank among
    NON-NULL rows (the DuckDB WHERE col IS NOT NULL ... OFFSET k-1
    definition). Pre-r9, 400 NULLs in a 100-value column pushed
    k = ceil(q*500) past the last non-null row."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        exact_quantiles,
    )

    rows = ([(float(i),) for i in range(1, 101)]
            + [(None,)] * 400)
    df = spark.createDataFrame(rows, "x double").repartition(5)
    got = exact_quantiles(df, "x", [0.5, 0.9, 1.0],
                          accuracy=50, direct_limit=10)
    assert got == [(0.5, 50.0), (0.9, 90.0), (1.0, 100.0)]


def test_heavy_hitters_null_contract(spark):
    """ADVICE r8 low: NULL values are never heavy hitters in EITHER
    path, but NULL rows count toward the denominator — consistent
    across flat and grouped."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        grouped_heavy_hitters_exact,
    )

    rows = ([("a", "x")] * 60 + [("a", None)] * 30 + [("a", "y")] * 10
            + [(None, "z")] * 50 + [(None, None)] * 50)
    df = spark.createDataFrame(rows, "g string, v string").repartition(4)
    flat = {r["v"]: r["cnt"]
            for r in heavy_hitters_exact(df, "v", 0.25).collect()}
    # n = 200 incl. NULL rows: x=60 > 50 qualifies; z=50 does not
    # (> is strict); NULL (80 rows) is excluded by contract
    assert flat == {"x": 60}
    grp = {(r["g"], r["v"]): r["cnt"]
           for r in grouped_heavy_hitters_exact(df, "g", "v",
                                                0.4).collect()}
    # group a: n=100, x=60 > 40; NULL group is a REAL group: n=100,
    # z=50 > 40; NULL values never returned in either group
    assert grp == {("a", "x"): 60, (None, "z"): 50}


def _grouped_reference(rows, qs):
    """Brute-force per-group order statistics (k = ceil(q*n) over
    non-null values)."""
    import math as m

    by_g = {}
    for g, v in rows:
        if v is not None:
            by_g.setdefault(g, []).append(v)
    want = {}
    for g, vs in by_g.items():
        vs.sort()
        for q in qs:
            want[(g, q)] = vs[max(1, m.ceil(q * len(vs))) - 1]
    return want


def test_grouped_exact_quantiles_match_reference(spark, sf_dir):
    """Every (event_type, q) against the per-group brute-force order
    statistic, with the direct path disabled so real grid-bracketing
    rounds run; invariant under repartitioning."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        grouped_exact_quantiles,
    )

    e = load_table(spark, sf_dir, "events")
    rows = [(r["event_type"], r["value"])
            for r in e.select("event_type", "value").collect()]
    qs = [0.25, 0.5, 0.75, 0.95]
    want = _grouped_reference(rows, qs)
    for parts in (3, 17):
        got = grouped_exact_quantiles(
            e.repartition(parts), "event_type", "value", qs,
            accuracy=40, direct_limit=80, grid=64)
        assert {(g, q): v for g, q, v in got} == want


def test_grouped_exact_quantiles_job_count(spark, sf_dir):
    """The grouped pin (VERDICT r8 #3): 5 groups x 4 quantiles cost
    the SAME Spark jobs as 5 groups x 1 quantile — per round one grid
    re-sketch, one verify agg, one shared ranked read; never a
    per-group or per-quantile loop. direct_limit=400 makes convergence
    deterministic (post-sketch width <= ~5/64 x 210 + 2n/40 << 400
    after one round at this scale)."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        grouped_exact_quantiles,
    )

    e = load_table(spark, sf_dir, "events")
    sc = spark.sparkContext

    def njobs(tag, qs):
        sc.setJobGroup(tag, "grouped quantile job-count pin")
        try:
            grouped_exact_quantiles(e, "event_type", "value", qs,
                                    accuracy=40, direct_limit=400,
                                    grid=64)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    one = njobs("gq1", [0.5])
    four = njobs("gq4", [0.25, 0.5, 0.75, 0.95])
    assert 0 < one <= 12
    assert four == one, (one, four)


def test_grouped_exact_quantiles_null_group_and_values(spark):
    """A NULL group is a REAL group; NULL values are excluded from
    every group's n (the flat contract)."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        grouped_exact_quantiles,
    )

    rows = ([("a", float(i)) for i in range(1, 101)]
            + [("a", None)] * 50
            + [(None, float(i)) for i in range(1, 41)])
    df = spark.createDataFrame(rows, "g string, x double").repartition(4)
    got = {(g, q): v for g, q, v in grouped_exact_quantiles(
        df, "g", "x", [0.5, 1.0], accuracy=20, direct_limit=10,
        grid=16, max_rounds=8)}
    assert got == {("a", 0.5): 50.0, ("a", 1.0): 100.0,
                   (None, 0.5): 20.0, (None, 1.0): 40.0}


def test_stream_grouped_mg_served_equals_batch(spark, sf_dir):
    """Grouped streaming twin (r9): 3-batch ingest, served per-group
    heavy hitters must equal the batch grouped two-pass; the
    maintained sketch stays <= n_groups x k rows with every counter
    inside the per-group mergeability band."""
    import math
    import tempfile

    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (  # noqa: E501
        grouped_heavy_hitters_exact,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        sketches as S,
    )

    phi = 0.02
    k = math.ceil(1.0 / phi)
    e = (load_table(spark, sf_dir, "events")
         .filter(F.col("user_id").isNotNull())
         .select("event_id", "event_type", "user_id"))
    root = tempfile.mkdtemp(prefix="gmg_eq_")
    events, sketch = S._tables(root)
    for i in range(3):
        S.ingest_batch_grouped(events, sketch,
                               e.filter(F.col("event_id") % 3 == i),
                               i, "event_type", "user_id", k, "geq")
    served = {(r["event_type"], r["user_id"]): (r["cnt"], r["share"])
              for r in S.grouped_heavy_hitters_served(
                  spark, root, "event_type", "user_id", phi).collect()}
    batch = {(r["event_type"], r["user_id"]): (r["cnt"], r["share"])
             for r in grouped_heavy_hitters_exact(
                 e, "event_type", "user_id", phi).collect()}
    assert served == batch and len(served) > 0

    # sketch bounds: <= k rows per group; no counter overcounts, and
    # per-group undercount stays within n_g/(k+1)
    sk = sketch.read(spark)
    import collections
    per_group = collections.Counter(
        r["event_type"] for r in sk.collect())
    assert all(c <= k for c in per_group.values())
    exact = {(r["event_type"], r["user_id"]): r["cnt"] for r in
             e.groupBy("event_type", "user_id")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n_g = collections.Counter()
    for (g, _), c in exact.items():
        n_g[g] += c
    for r in sk.collect():
        key = (r["event_type"], r["user_id"])
        assert key in exact
        assert r["weight"] <= exact[key]
        assert exact[key] - r["weight"] <= n_g[key[0]] / (k + 1)


def test_stream_grouped_mg_restart_exactly_once(spark, sf_dir,
                                                tmp_path_factory):
    """Real grouped writeStream: restart on the same checkpoint must
    not double-ingest."""
    from sport_advantages_moderne_data_infrastructure_spark.streaming.sketches import (  # noqa: E501
        _tables, grouped_heavy_hitters_served,
        write_stream_grouped_mg_sketch,
    )

    base = tmp_path_factory.mktemp("gmgstream")
    src = str(base / "src")
    e = (load_table(spark, sf_dir, "events")
         .filter(F.col("user_id").isNotNull())
         .select("event_type", "user_id"))
    e.write.parquet(src)

    def _stream():
        return (spark.readStream.schema(e.schema)
                .option("maxFilesPerTrigger", "1").parquet(src))

    root, ckpt = str(base / "gmg"), str(base / "ckpt")
    q = write_stream_grouped_mg_sketch(_stream(), root, ckpt,
                                       "event_type", "user_id", 0.02,
                                       app_id="gmg_t")
    q.awaitTermination(120)
    q.stop()
    events, sketch = _tables(root)
    v1 = (events.latest_version(), sketch.latest_version())
    s1 = sorted((r["event_type"], r["user_id"], r["cnt"]) for r in
                grouped_heavy_hitters_served(
                    spark, root, "event_type", "user_id", 0.02)
                .collect())
    assert len(s1) > 0

    q2 = write_stream_grouped_mg_sketch(_stream(), root, ckpt,
                                        "event_type", "user_id", 0.02,
                                        app_id="gmg_t")
    q2.awaitTermination(60)
    q2.stop()
    assert (events.latest_version(), sketch.latest_version()) == v1
    assert sorted((r["event_type"], r["user_id"], r["cnt"]) for r in
                  grouped_heavy_hitters_served(
                      spark, root, "event_type", "user_id", 0.02)
                  .collect()) == s1


def test_grouped_exact_quantiles_heavy_duplicates_short_circuit(spark):
    """A value owning most of one group's mass: that group's bracket
    collapses to one value and must short-circuit exactly while OTHER
    groups keep bracketing normally (the per-state independence of the
    driver loop)."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        grouped_exact_quantiles,
    )

    rows = ([("dup", 42.0)] * 5000
            + [("dup", float(i)) for i in range(1000)]
            + [("uni", float(i)) for i in range(1, 2001)])
    df = spark.createDataFrame(rows, "g string, x double").repartition(7)
    got = {(g, q): v for g, q, v in grouped_exact_quantiles(
        df, "g", "x", [0.5], accuracy=30, direct_limit=60, grid=32,
        max_rounds=10)}
    # dup: n=6000, k=3000 -> 42.0 (ranks 1001..6000 are all 42.0)
    # uni: n=2000, k=1000 -> 1000.0
    assert got == {("dup", 0.5): 42.0, ("uni", 0.5): 1000.0}


def test_exact_quantiles_duplicate_and_unordered_qs(spark):
    """Duplicate and unordered quantiles share states/brackets without
    interference; results come back in input order."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (
        exact_quantiles,
    )

    rows = [(float(i),) for i in range(1, 1001)]
    df = spark.createDataFrame(rows, "x double").repartition(5)
    got = exact_quantiles(df, "x", [0.9, 0.5, 0.5, 0.1],
                          accuracy=40, direct_limit=100)
    assert got == [(0.9, 900.0), (0.5, 500.0), (0.5, 500.0),
                   (0.1, 100.0)]


def test_hh_serve_pinned_to_sketch_version(spark, sf_dir):
    """r10 (ADVICE r9 medium): heavy_hitters_served reads events AT the
    stored sketch's recorded source version. An events-leg-only append
    landing between the serve's two reads (a new dominant value the
    stale sketch has never seen) must leave the served set EXACTLY the
    consistent pre-append one — unpinned, that value would be counted
    in n yet be unproposable, silently breaking the candidate-superset
    guarantee."""
    import math
    import tempfile

    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        sketches as S,
    )

    e = (load_table(spark, sf_dir, "events")
         .filter(F.col("user_id").isNotNull())
         .select("event_id", "user_id"))
    k = math.ceil(1.0 / PHI)
    root = tempfile.mkdtemp(prefix="samdis_mg_pin_")
    events, sketch = S._tables(root)
    S.ingest_batch(events, sketch, e, 0, "user_id", k, "pin")
    served1 = {(r["user_id"], r["cnt"])
               for r in S.heavy_hitters_served(
                   spark, root, "user_id", PHI).collect()}
    sk1, n1 = S.sketch_estimates(spark, root)
    w1 = {r["user_id"]: r["weight"] for r in sk1.collect()}

    # torn state: a flood of one brand-new key lands in events only
    flood = e.sparkSession.range(0, e.count()).select(
        F.lit(999_999_999).cast(e.schema["user_id"].dataType)
        .alias("user_id"))
    rel = events._write_data(flood)  # noqa: SLF001
    events.commit([rel], [], {"operation": "test_torn_append"},
                  expected_version=events.latest_version())

    served2 = {(r["user_id"], r["cnt"])
               for r in S.heavy_hitters_served(
                   spark, root, "user_id", PHI).collect()}
    assert served2 == served1 and len(served1) > 0
    sk2, n2 = S.sketch_estimates(spark, root)
    assert n2 == n1  # n paired with the sketch's fold, not latest
    assert {r["user_id"]: r["weight"] for r in sk2.collect()} == w1


def test_mg_compact_policy_and_pinned_vacuum(spark, sf_dir):
    """Maintenance policy for the MG events table (r10): fold above
    the dir threshold, served heavy hitters unchanged, ingest
    continues across it, and a full vacuum with the sketch's recorded
    fold version as the retention floor keeps the pinned serve
    readable."""
    import math
    import tempfile

    from sport_advantages_moderne_data_infrastructure_spark.streaming import (
        sketches as S,
    )

    e = (load_table(spark, sf_dir, "events")
         .filter(F.col("user_id").isNotNull())
         .select("event_id", "user_id"))
    k = math.ceil(1.0 / PHI)
    root = tempfile.mkdtemp(prefix="samdis_mg_pol_")
    events, sketch = S._tables(root)
    for i in range(4):
        S.ingest_batch(events, sketch,
                       e.filter(F.col("event_id") % 5 == i),
                       i, "user_id", k, "pol")
    before = {(r["user_id"], r["cnt"])
              for r in S.heavy_hitters_served(
                  spark, root, "user_id", PHI).collect()}
    assert S.compact_if_needed(spark, root,
                               max_live_dirs=10_000) is None
    assert S.compact_if_needed(spark, root, max_live_dirs=2) is not None
    pin = int(sketch.meta_with("mg_source_version")[0]
              ["mg_source_version"])
    events.vacuum(keep_versions=False, older_than_seconds=0,
                  retain_from_version=pin)
    assert {(r["user_id"], r["cnt"])
            for r in S.heavy_hitters_served(
                spark, root, "user_id", PHI).collect()} == before

    S.ingest_batch(events, sketch,
                   e.filter(F.col("event_id") % 5 == 4),
                   4, "user_id", k, "pol")
    served = {(r["user_id"], r["cnt"])
              for r in S.heavy_hitters_served(
                  spark, root, "user_id", PHI).collect()}
    batch = {(r["user_id"], r["cnt"])
             for r in heavy_hitters_exact(e, "user_id", PHI).collect()}
    assert served == batch and len(served) > 0


def test_bracketing_survives_edge_duplicate_stall(spark):
    """r11 (hypothesis find): duplicate masses at BOTH bracket edges
    pinned the sketch's proposals to the current bracket forever —
    k=1 over [-39, 0] where a 17-row zero mass owns the hi edge never
    shrank (RuntimeError after max_rounds). The stall now resolves
    with ONE exact edge-mass counting job (_QState.resolve_stall):
    rank-in-lo-mass / rank-in-hi-mass answer directly, strictly-inside
    advances to the open interval. Pinned on BOTH engines with the
    falsifying multiset."""
    import math

    from sport_advantages_moderne_data_infrastructure_spark.operators.sketches import (  # noqa: E501
        exact_ranks, grouped_exact_quantiles,
    )

    vals = [-39, 0, -26, 1, 0, 1, 1, 1, -6, 0, 0, 1, 0, 0, 0, 0,
            -26, 47, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    n = len(vals)
    ref = sorted(float(v) for v in vals)
    ks = sorted({max(1, math.ceil(f * n)) for f in (0.0, 0.5)})
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = exact_ranks(df.repartition(3), "v", ks,
                      accuracy=8, direct_limit=4, max_rounds=12)
    assert got == [ref[k - 1] for k in ks]
    gdf = spark.createDataFrame(
        [(g, float(v)) for g in ("a", "b") for v in vals],
        "g string, v double")
    want = {(g, q): ref[max(1, math.ceil(q * n)) - 1]
            for g in ("a", "b") for q in (0.0, 0.5)}
    got = grouped_exact_quantiles(gdf.repartition(3), "g", "v",
                                  [0.0, 0.5], accuracy=8,
                                  direct_limit=4, max_rounds=12,
                                  grid=8)
    assert {(g, q): v for g, q, v in got} == want
