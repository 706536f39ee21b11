"""The composed incremental pipeline's new machinery: agg views that
emit their own change feed (changed groups only), row-wise projection
views (MapMaterializedView), and the full reference-DAG chain
CDC-parsed activities → agg MV → join MVs → prime projection — every
layer refreshing at O(its own delta) from one stream of commits."""

from __future__ import annotations

from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (
    JoinMaterializedView,
    MapMaterializedView,
    maintain_agg_view,
)
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, grp string, val int")


# --- agg view change capture ---------------------------------------------

def test_agg_view_capture_changes_changed_groups_only(spark, tmp_path):
    src = TxnTable(str(tmp_path / "src"))
    view = TxnTable(str(tmp_path / "view"))
    src.append(_df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5)]))
    maintain_agg_view(spark, src, view, ["grp"], "val",
                      capture_changes=True)
    v0 = view.latest_version()
    # touch only group "a": the change files must not mention "b"
    src.append(_df(spark, [(4, "a", 1)]))
    maintain_agg_view(spark, src, view, ["grp"], "val",
                      capture_changes=True)
    ch = view.read_changes(spark, since_version=v0)
    rows = sorted((r.grp, r._change_type, r.cnt, r.sm)
                  for r in ch.collect())
    assert rows == [("a", "delete", 2, 30), ("a", "insert", 3, 31)]


def test_agg_view_cdf_feeds_a_downstream_join_mv(spark, tmp_path):
    """A join MV whose RIGHT side is a maintained agg view follows it
    incrementally through the captured changes."""
    src = TxnTable(str(tmp_path / "src"))
    aggv = TxnTable(str(tmp_path / "agg"))
    dim = TxnTable(str(tmp_path / "dim"))
    jmv = JoinMaterializedView(str(tmp_path / "jmv"), "grp",
                               how="left", n_buckets=4)
    dim.append(spark.createDataFrame(
        [("a", "east"), ("b", "west"), ("z", "void")],
        "grp string, region string"))
    src.append(_df(spark, [(1, "a", 10), (2, "b", 5)]))
    maintain_agg_view(spark, src, aggv, ["grp"], "val",
                      capture_changes=True)
    jmv.refresh(spark, dim, aggv)

    def want():
        agg = src.read(spark).groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("val").alias("sm"))
        return sorted(tuple(r) for r in
                      dim.read(spark).join(agg, "grp", "left")
                      .select("grp", "region", "cnt", "sm").collect())

    def got():
        return sorted(tuple(r) for r in
                      jmv.read(spark)
                      .select("grp", "region", "cnt", "sm").collect())

    assert got() == want()
    # source moves: agg view refresh emits row-wise changes; the join
    # MV consumes them WITHOUT resync (no mv_resync in its meta)
    src.merge(spark, _df(spark, [(1, "a", 100), (5, "b", 7)]), "id")
    maintain_agg_view(spark, src, aggv, ["grp"], "val",
                      capture_changes=True)
    jmv.refresh(spark, dim, aggv)
    assert got() == want()
    assert "mv_resync" not in jmv.view._doc(  # noqa: SLF001
        jmv.view.latest_version()).get("meta", {})
    # a fully-deleted group disappears; NULL-pad row comes back
    src.delete_where(spark, "grp = 'b'")
    maintain_agg_view(spark, src, aggv, ["grp"], "val",
                      capture_changes=True)
    jmv.refresh(spark, dim, aggv)
    assert got() == want()


# --- MapMaterializedView --------------------------------------------------

def _proj(df):
    return df.select(
        "id", "grp",
        (F.col("val") * 2).alias("dval"),
        F.when(F.col("val") >= 10, F.lit("big"))
        .otherwise(F.lit("small")).alias("size"))


def _mwant(spark, src):
    return sorted(tuple(r) for r in _proj(src.read(spark)).collect())


def _mgot(spark, mmv):
    return sorted(tuple(r) for r in mmv.read(spark).collect())


def test_map_mv_maintains_projection(spark, tmp_path):
    src = TxnTable(str(tmp_path / "src"))
    mmv = MapMaterializedView(str(tmp_path / "mv"), "id", _proj,
                              n_buckets=4)
    src.append(_df(spark, [(1, "a", 10), (2, "a", 3), (3, "b", 5)]))
    assert mmv.refresh(spark, src) == 0
    assert _mgot(spark, mmv) == _mwant(spark, src)
    src.merge(spark, _df(spark, [(1, "a", 1), (4, "c", 40)]), "id")
    mmv.refresh(spark, src)
    assert _mgot(spark, mmv) == _mwant(spark, src)
    src.delete_where(spark, "id = 2")
    mmv.refresh(spark, src)
    assert _mgot(spark, mmv) == _mwant(spark, src)
    src.delete_where(spark, "id = 3", use_dv=True)
    mmv.refresh(spark, src)
    assert _mgot(spark, mmv) == _mwant(spark, src)
    # no-op refresh: no empty commit
    v = mmv.view.latest_version()
    mmv.refresh(spark, src)
    assert mmv.view.latest_version() == v


def test_map_mv_duplicates_and_resync(spark, tmp_path):
    src = TxnTable(str(tmp_path / "src"))
    mmv = MapMaterializedView(str(tmp_path / "mv"), "id", _proj,
                              n_buckets=4)
    # exact-duplicate rows: net-count application preserves multiset
    src.append(_df(spark, [(1, "a", 10), (1, "a", 10), (2, "b", 5)]))
    mmv.refresh(spark, src)
    assert _mgot(spark, mmv) == _mwant(spark, src)
    src.append(_df(spark, [(1, "a", 10)]))  # third copy
    mmv.refresh(spark, src)
    got = _mgot(spark, mmv)
    assert got == _mwant(spark, src) and len(got) == 4
    # non-row-wise history (overwrite): flagged rebuild, then resumes
    src.overwrite(_df(spark, [(9, "z", 9)]))
    mmv.refresh(spark, src)
    assert _mgot(spark, mmv) == _mwant(spark, src)
    meta = mmv.view._doc(  # noqa: SLF001
        mmv.view.latest_version()).get("meta", {})
    assert meta.get("mv_resync") is True
    src.append(_df(spark, [(10, "z", 19)]))
    mmv.refresh(spark, src)
    assert _mgot(spark, mmv) == _mwant(spark, src)


def test_map_mv_stacks_on_join_view_cdf(spark, tmp_path):
    """Projection view over a capture_changes JOIN view's own CDF: the
    full three-layer stack (sources → join MV → map MV), each layer
    refreshing from the layer below's change feed only."""
    left = TxnTable(str(tmp_path / "l"))
    right = TxnTable(str(tmp_path / "r"))
    jmv = JoinMaterializedView(str(tmp_path / "jmv"), "k",
                               n_buckets=4, capture_changes=True)
    left.append(spark.createDataFrame(
        [(1, 100), (2, 200)], "k int, sal int"))
    right.append(spark.createDataFrame(
        [(1, True), (2, False)], "k int, ok boolean"))

    def prime(df):
        return df.select(
            "k", "sal", "ok",
            F.when(F.col("ok"), F.round(F.col("sal") * 0.05, 2))
            .otherwise(F.lit(0.0)).alias("bonus"))

    mmv = MapMaterializedView(str(tmp_path / "prime"), "k", prime,
                              n_buckets=4)

    def refresh():
        jmv.refresh(spark, left, right)
        mmv.refresh(spark, jmv.view)

    def want():
        return sorted(tuple(r) for r in prime(
            left.read(spark).join(right.read(spark), "k")).collect())

    refresh()
    assert _mgot_cols(spark, mmv) == want()
    left.merge(spark, spark.createDataFrame(
        [(1, 150), (3, 300)], "k int, sal int"), "k")
    right.append(spark.createDataFrame([(3, True)], "k int, ok boolean"))
    refresh()
    assert _mgot_cols(spark, mmv) == want()
    left.delete_where(spark, "k = 2", use_dv=True)
    refresh()
    assert _mgot_cols(spark, mmv) == want()


def _mgot_cols(spark, mmv):
    return sorted(tuple(r) for r in mmv.read(spark).collect())


# --- the composed reference DAG -------------------------------------------

SF = "/root/testdata/sf0.001"


def _expected_prime(spark, emp, val, act):
    """Direct recompute of final + prime from the source txn tables'
    FINAL states — the wholesale rebuild the reference performs every
    DAG run, used as ground truth for the maintained chain."""
    from sport_advantages_moderne_data_infrastructure_spark.operators import (  # noqa: E501
        relational as R,
    )

    final = R.final_table(
        emp.read(spark), val.read(spark),
        act.read(spark).select("id_employee", "activity_duration"))
    return sorted(
        (tuple(r) for r in R.prime_query(final).collect()),
        key=lambda t: tuple((x is None, x) for x in t))


def _got_prime(spark, prime):
    return sorted(
        (tuple(r) for r in prime.read(spark).select(
            "id_employee", "gross_salary", "business_unity",
            "constract_type", "is_valid", "count_activity",
            "mean_duration", "commute_prime", "is_valid_activities",
            "total_salary").collect()),
        key=lambda t: tuple((x is None, x) for x in t))


def test_final_pipeline_chain_matches_direct_recompute(spark, tmp_path):
    """Every layer of the composed DAG (CDC-parsed activities → agg MV
    → join MVs → prime projection) must equal the wholesale rebuild
    after the five-commit history — and must have stayed INCREMENTAL
    (no resync flag in any refresh commit after the initial builds)."""
    from sport_advantages_moderne_data_infrastructure_spark.plans.core import (  # noqa: E501
        build_final_pipeline,
    )

    emp, val, act, jmv1, aggv, jmv2, prime = build_final_pipeline(
        spark, SF, str(tmp_path / "pipe"))
    assert _got_prime(spark, prime) == _expected_prime(spark, emp, val,
                                                       act)
    # the maintained `final` layer equals the reference's final table
    from sport_advantages_moderne_data_infrastructure_spark.operators import (  # noqa: E501
        relational as R,
    )

    want_final = sorted(
        (tuple(r) for r in R.final_table(
            emp.read(spark), val.read(spark),
            act.read(spark).select("id_employee", "activity_duration"))
         .select("id_employee", "gross_salary", "is_valid",
                 "count_activity", "mean_duration").collect()),
        key=lambda t: tuple((x is None, x) for x in t))
    got_final = sorted(
        (tuple(r) for r in jmv2.read(spark).select(
            "id_employee", "gross_salary", "is_valid",
            F.col("cnt").alias("count_activity"),
            F.round(F.col("sm") / F.col("cnt"), 4)
            .alias("mean_duration")).collect()),
        key=lambda t: tuple((x is None, x) for x in t))
    assert got_final == want_final
    # incrementality: after the initial build, no layer ever resynced
    for tbl in (jmv1.view, jmv2.view, prime.view, aggv.view):
        metas = [tbl._doc(v).get("meta", {})  # noqa: SLF001
                 for v in range(tbl.latest_version() + 1)]
        assert not any(m.get("mv_resync") for m in metas), tbl.path
        assert len(metas) >= 3  # refreshed repeatedly, not one rebuild


def test_final_pipeline_streaming_jmv1_variant(spark, tmp_path):
    """The same composed DAG with the employees ⋈ validations layer
    maintained by the STREAMING join-MV (one query over both CDF
    feeds, availableNow per commit round) instead of batch refreshes —
    the downstream layers consume its view's change files identically,
    and the chain converges to the same prime output."""
    from sport_advantages_moderne_data_infrastructure_spark.operators import (  # noqa: E501
        relational as R,
    )
    from sport_advantages_moderne_data_infrastructure_spark.operators.cdc import (  # noqa: E501
        parse_cdc,
    )
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        maintain_agg_view,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources import (  # noqa: E501
        domain as D,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.joinmv import (  # noqa: E501
        write_stream_join_mv,
    )

    root = str(tmp_path / "pipe")
    emp0 = (R.employee_projection(D.employees(spark, SF))
            .withColumn("id_employee", F.col("id_employee").cast("int")))
    raises = (emp0.filter(F.col("id_employee") % 10 == 0)
              .select("id_employee",
                      (F.col("gross_salary") + 1000).cast("int")
                      .alias("gross_salary"),
                      "business_unity",
                      F.lit("CDI").alias("constract_type")))
    val0 = (D.commute_validations(spark, SF)
            .select("id_validate",
                    F.col("id_employee").cast("int").alias("id_employee"),
                    "calculed_distance", "calculed_duration", "is_valid",
                    "error_message", "created_at"))
    parsed = parse_cdc(D.cdc_events(spark, SF)).select(
        "id", "id_employee", "sport_type", "activity_duration")

    emp, val, act = (TxnTable(f"{root}/emp"), TxnTable(f"{root}/val"),
                     TxnTable(f"{root}/act"))
    jmv1 = JoinMaterializedView(f"{root}/jmv1", "id_employee",
                                n_buckets=8, capture_changes=True)
    aggv = TxnTable(f"{root}/agg")
    jmv2 = JoinMaterializedView(f"{root}/final", "id_employee",
                                n_buckets=8, how="left",
                                capture_changes=True)

    def prime_map(df):
        d = (df.withColumn("count_activity", F.col("cnt"))
             .withColumn("mean_duration",
                         F.round(F.col("sm") / F.col("cnt"), 4)))
        return R.prime_query(d)

    prime = MapMaterializedView(f"{root}/prime", "id_employee",
                                prime_map, n_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    def refresh_chain():
        # jmv1 leg: the real streaming maintenance, one availableNow
        # round over both sources' live CDF feeds, same checkpoint
        q = write_stream_join_mv(spark, emp.path, val.path, jmv1, ckpt,
                                 app_id="pipe_stream")
        q.awaitTermination(120)
        maintain_agg_view(spark, act, aggv, ["id_employee"],
                          "activity_duration", capture_changes=True)
        jmv2.refresh(spark, jmv1.view, aggv)
        prime.refresh(spark, jmv2.view)

    emp.overwrite(emp0)
    val.overwrite(val0)
    act.overwrite(parsed.filter("id % 3 <> 2"))
    refresh_chain()
    emp.merge(spark, raises, "id_employee")
    act.append(parsed.filter("id % 3 = 2"))
    refresh_chain()
    act.delete_where(spark, "id % 5 = 0", use_dv=True)
    refresh_chain()
    assert _got_prime(spark, prime) == _expected_prime(spark, emp, val,
                                                       act)


def test_final_pipeline_resync_cascades_then_resumes(spark, tmp_path):
    """An uncaptured rewrite on the activities source forces the agg
    layer to resync; the downstream layers detect the non-row-wise
    commit and resync in turn — Delta's CDF rule — and the whole chain
    resumes incremental maintenance afterwards."""
    from sport_advantages_moderne_data_infrastructure_spark.plans.core import (  # noqa: E501
        build_final_pipeline,
    )

    emp, val, act, jmv1, aggv, jmv2, prime = build_final_pipeline(
        spark, SF, str(tmp_path / "pipe"))

    # wholesale overwrite: no row-level delta for the feed
    act.overwrite(act.read(spark).filter("id % 11 <> 0"))

    def refresh_chain():
        jmv1.refresh(spark, emp, val)
        aggv.refresh(spark, act)
        jmv2.refresh(spark, jmv1.view, aggv.view)
        prime.refresh(spark, jmv2.view)

    refresh_chain()
    assert _got_prime(spark, prime) == _expected_prime(spark, emp, val,
                                                       act)
    assert (aggv.view._doc(aggv.view.latest_version())  # noqa: SLF001
            .get("meta", {}).get("mv_resync"))
    # ...and the chain is incremental again on the next commit
    act.append(act.read(spark).limit(0))  # schema-compatible no-op rows
    emp.merge(spark, emp.read(spark).filter("id_employee % 13 = 0")
              .withColumn("gross_salary",
                          (F.col("gross_salary") + 5).cast("int")),
              "id_employee")
    refresh_chain()
    assert _got_prime(spark, prime) == _expected_prime(spark, emp, val,
                                                       act)
    assert not (jmv2.view._doc(jmv2.view.latest_version())  # noqa: SLF001
                .get("meta", {}).get("mv_resync"))


def test_final_pipeline_fully_streaming(spark, tmp_path):
    """EVERY layer of the composed DAG maintained by its streaming
    twin: jmv1 and jmv2 by write_stream_join_mv, the activity
    aggregate by write_stream_agg_view(capture_changes=True) — its
    per-batch overwrite commits now carry changed-groups change files
    so the downstream join MV follows it — and the prime projection by
    write_stream_bucketed_view over final's CDF. Three commit rounds,
    four availableNow streams per round, each on its own checkpoint;
    the chain must converge to the wholesale recompute."""
    from sport_advantages_moderne_data_infrastructure_spark.operators import (  # noqa: E501
        relational as R,
    )
    from sport_advantages_moderne_data_infrastructure_spark.operators.cdc import (  # noqa: E501
        parse_cdc,
    )
    from sport_advantages_moderne_data_infrastructure_spark.sources import (  # noqa: E501
        domain as D,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.joinmv import (  # noqa: E501
        write_stream_join_mv,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.mv import (  # noqa: E501
        write_stream_agg_view,
        write_stream_bucketed_view,
    )

    root = str(tmp_path / "pipe")
    emp0 = (R.employee_projection(D.employees(spark, SF))
            .withColumn("id_employee", F.col("id_employee").cast("int")))
    raises = (emp0.filter(F.col("id_employee") % 10 == 0)
              .select("id_employee",
                      (F.col("gross_salary") + 1000).cast("int")
                      .alias("gross_salary"),
                      "business_unity",
                      F.lit("CDI").alias("constract_type")))
    val0 = (D.commute_validations(spark, SF)
            .select("id_validate",
                    F.col("id_employee").cast("int").alias("id_employee"),
                    "calculed_distance", "calculed_duration", "is_valid",
                    "error_message", "created_at"))
    parsed = parse_cdc(D.cdc_events(spark, SF)).select(
        "id", "id_employee", "sport_type", "activity_duration")

    emp, val, act = (TxnTable(f"{root}/emp"), TxnTable(f"{root}/val"),
                     TxnTable(f"{root}/act"))
    jmv1 = JoinMaterializedView(f"{root}/jmv1", "id_employee",
                                n_buckets=8, capture_changes=True)
    aggv = TxnTable(f"{root}/agg")
    jmv2 = JoinMaterializedView(f"{root}/final", "id_employee",
                                n_buckets=8, how="left",
                                capture_changes=True)

    def prime_map(df):
        d = (df.withColumn("count_activity", F.col("cnt"))
             .withColumn("mean_duration",
                         F.round(F.col("sm") / F.col("cnt"), 4)))
        return R.prime_query(d)

    prime = MapMaterializedView(f"{root}/prime", "id_employee",
                                prime_map, n_buckets=8)

    def refresh_chain():
        write_stream_join_mv(
            spark, emp.path, val.path, jmv1, f"{root}/ck1",
            app_id="s_jmv1").awaitTermination(120)
        write_stream_agg_view(
            spark, act.path, aggv.path, f"{root}/ck2",
            ["id_employee"], "activity_duration", app_id="s_agg",
            capture_changes=True).awaitTermination(120)
        write_stream_join_mv(
            spark, jmv1.view.path, aggv.path, jmv2, f"{root}/ck3",
            app_id="s_jmv2").awaitTermination(120)
        write_stream_bucketed_view(
            spark, jmv2.view.path, prime, f"{root}/ck4",
            app_id="s_prime").awaitTermination(120)

    emp.overwrite(emp0)
    val.overwrite(val0)
    act.overwrite(parsed.filter("id % 3 <> 2"))
    refresh_chain()
    assert _got_prime(spark, prime) == _expected_prime(spark, emp, val,
                                                       act)
    emp.merge(spark, raises, "id_employee")
    act.append(parsed.filter("id % 3 = 2"))
    refresh_chain()
    act.delete_where(spark, "id % 5 = 0", use_dv=True)
    refresh_chain()
    assert _got_prime(spark, prime) == _expected_prime(spark, emp, val,
                                                       act)


# --- AggMaterializedView (bucketed partials) ------------------------------

def _agg_want(spark, src):
    return sorted((r.grp, r.cnt, r.sm) for r in
                  src.read(spark).groupBy("grp")
                  .agg(F.count(F.lit(1)).alias("cnt"),
                       F.sum("val").alias("sm")).collect())


def _agg_got(spark, aggmv):
    return sorted((r.grp, r.cnt, r.sm) for r in
                  aggmv.read(spark).select("grp", "cnt", "sm")
                  .collect())


def test_bucketed_agg_mv_incremental_equals_recompute(spark, tmp_path):
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        AggMaterializedView,
    )

    src = TxnTable(str(tmp_path / "src"))
    aggmv = AggMaterializedView(str(tmp_path / "agg"), "grp", "val",
                                n_buckets=4)
    src.append(_df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5)]))
    assert aggmv.refresh(spark, src) == 0
    assert _agg_got(spark, aggmv) == _agg_want(spark, src)
    src.merge(spark, _df(spark, [(1, "a", 100), (4, "c", 7)]), "id")
    aggmv.refresh(spark, src)
    assert _agg_got(spark, aggmv) == _agg_want(spark, src)
    src.delete_where(spark, "id = 2")
    aggmv.refresh(spark, src)
    assert _agg_got(spark, aggmv) == _agg_want(spark, src)
    src.delete_where(spark, "id = 4", use_dv=True)
    aggmv.refresh(spark, src)
    assert _agg_got(spark, aggmv) == _agg_want(spark, src)
    assert ("c", 1, 7) not in _agg_got(spark, aggmv)  # group emptied
    # no-op refresh: no empty commit; overwrite => flagged resync
    v = aggmv.view.latest_version()
    aggmv.refresh(spark, src)
    assert aggmv.view.latest_version() == v
    src.overwrite(_df(spark, [(9, "z", 9)]))
    aggmv.refresh(spark, src)
    assert _agg_got(spark, aggmv) == _agg_want(spark, src)
    assert (aggmv.view._doc(aggmv.view.latest_version())  # noqa: SLF001
            .get("meta", {}).get("mv_resync"))


def test_bucketed_agg_mv_replaces_only_affected_buckets(spark,
                                                        tmp_path):
    import os

    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        AggMaterializedView,
    )

    src = TxnTable(str(tmp_path / "src"))
    aggmv = AggMaterializedView(str(tmp_path / "agg"), "grp", "val",
                                n_buckets=8)
    src.append(spark.createDataFrame(
        [(i, f"g{i % 20}", i) for i in range(200)],
        "id int, grp string, val int"))
    aggmv.refresh(spark, src)
    before = set(aggmv.view.snapshot_dirs())
    src.append(_df(spark, [(900, "g3", 1)]))  # one group touched
    aggmv.refresh(spark, src)
    changed = {os.path.basename(d) for d in
               before ^ set(aggmv.view.snapshot_dirs())}
    assert len(changed) == 1, changed  # exactly one bucket replaced
    assert _agg_got(spark, aggmv) == _agg_want(spark, src)


def test_bucketed_agg_mv_streaming_twin(spark, tmp_path):
    """write_stream_bucketed_view: per-batch guarded bucket
    replace, restart exactly-once, downstream join MV stacks on its
    CDF."""
    from sport_advantages_moderne_data_infrastructure_spark.operators.mv import (  # noqa: E501
        AggMaterializedView,
    )
    from sport_advantages_moderne_data_infrastructure_spark.streaming.mv import (  # noqa: E501
        write_stream_bucketed_view,
    )

    src = TxnTable(str(tmp_path / "src"))
    aggmv = AggMaterializedView(str(tmp_path / "agg"), "grp", "val",
                                n_buckets=4, capture_changes=True)
    ck = str(tmp_path / "ck")
    src.append(_df(spark, [(1, "a", 10), (2, "b", 5)]))
    write_stream_bucketed_view(
        spark, src.path, aggmv, ck, app_id="bagg").awaitTermination(120)
    assert _agg_got(spark, aggmv) == _agg_want(spark, src)
    src.merge(spark, _df(spark, [(1, "a", 99), (3, "c", 3)]), "id")
    src.delete_where(spark, "id = 2", use_dv=True)
    write_stream_bucketed_view(
        spark, src.path, aggmv, ck, app_id="bagg").awaitTermination(120)
    assert _agg_got(spark, aggmv) == _agg_want(spark, src)
    # restart with nothing new: no extra commits
    v = aggmv.view.latest_version()
    write_stream_bucketed_view(
        spark, src.path, aggmv, ck, app_id="bagg").awaitTermination(120)
    assert aggmv.view.latest_version() == v
    # downstream join MV follows the bucketed view's CDF incrementally
    dim = TxnTable(str(tmp_path / "dim"))
    dim.append(spark.createDataFrame(
        [("a", "east"), ("c", "west")], "grp string, region string"))
    jmv = JoinMaterializedView(str(tmp_path / "jmv"), "grp",
                               how="left", n_buckets=4)
    jmv.refresh(spark, dim, aggmv.view)
    got = sorted(tuple(r) for r in
                 jmv.read(spark).select("grp", "region", "cnt", "sm")
                 .collect())
    want = sorted(tuple(r) for r in
                  dim.read(spark)
                  .join(aggmv.read(spark).select("grp", "cnt", "sm"),
                        "grp", "left")
                  .select("grp", "region", "cnt", "sm").collect())
    assert got == want
