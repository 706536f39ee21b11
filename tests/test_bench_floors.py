"""bench.py floor plumbing: the FLOORS config must stay in sync with the
metric keys bench.py emits, so a floor can never silently stop being
checked (VERDICT r4 #1)."""

from __future__ import annotations


def test_floor_keys_cover_streaming_metrics():
    import bench

    assert set(bench.FLOORS) == {
        "stream_rows_per_sec",
        "txn_fb_sink_rows_per_sec", "txn_feed_rows_per_sec",
        "stream_dedup_docs_per_sec", "jdbc_upsert_rows_per_sec",
        "jdbc_full_frame_rows_per_sec",
        "final_pipeline_rows_per_sec"}  # r9: the single-stream DAG
    assert all(v > 0 for v in bench.FLOORS.values())


def test_query_budgets_cover_core_set():
    """Every core query has a per-query wall-clock budget (VERDICT r5 #3)
    — the tripwire can't silently lose coverage when the core set or the
    budgets change independently. Since r6 the budgets also cover the
    r5-added queries, so the budgeted set is a superset of core but must
    stay within the benched registry (checked below)."""
    import bench

    assert set(bench.CORE_QUERIES) <= set(bench.QUERY_BUDGETS)
    assert all(0 < b < 30 for b in bench.QUERY_BUDGETS.values())
    # the six r5 additions are budgeted as of r6
    assert {"ann_pq_topk", "ann_ivfpq_topk", "dedup_chunks",
            "mixture_token_budget", "scd2_employee_sport_dim",
            "interval_join_events"} <= set(bench.QUERY_BUDGETS)


def test_core_query_set_is_frozen_r4_set():
    import bench

    # the r4 headline set, verbatim — this test is the tripwire against
    # accidental core drift; per-round additions go to added_queries
    assert len(bench.CORE_QUERIES) == 19
    assert "ann_sq8_topk" in bench.CORE_QUERIES
    assert "prime_query" in bench.CORE_QUERIES


def test_core_queries_still_registered():
    from sport_advantages_moderne_data_infrastructure_spark.plans import (
        catalog,
    )

    import bench

    bench_names = set(catalog.bench_queries())
    assert bench.CORE_QUERIES <= bench_names
    # budgeted == benched (r11, VERDICT r10 #3/#7): every budgeted query
    # must actually be benched (or its budget row reports value=None
    # forever), and every benched query must carry a budget (or it never
    # gates) — the two sets may not drift apart in either direction
    assert set(bench.QUERY_BUDGETS) == bench_names, (
        sorted(set(bench.QUERY_BUDGETS) ^ bench_names))


def test_noise_scale_policy():
    """r11 (VERDICT r10 #3): the official bench artifact gates on
    CALIBRATION-SCALED floors/budgets so co-tenant weather at floor
    margins can't flip floors_ok red — BENCH_r10 missed three stream
    floors by 3.6-8.9% on a box measuring 1.28x slower than r9. The
    policy, pinned: scale = clamp(calibration/CALIBRATION_REF, 1.0,
    1.5); floors divide by it, budgets multiply by it. The clamp means
    a genuine regression can't hide behind a claimed-slow box (at most
    /1.5), and a FASTER box never tightens gates mid-round (never
    below 1.0 — floors re-pin between rounds from rolling minima)."""
    import bench

    assert bench.CALIBRATION_REF == 0.184  # BENCH_r09 calibration_sec
    assert bench.NOISE_SCALE_CAP == 1.5
    assert bench.NOISE_SCALE_FLOOR == 0.8
    # reference-speed box -> raw gates
    assert bench.noise_scale(bench.CALIBRATION_REF) == 1.0
    # r12 (VERDICT r11 #4): the clamp is SYMMETRIC — a faster box
    # TIGHTENS gates down to the 0.8 floor instead of granting hidden
    # headroom (the r11 policy's floor of 1.0 let a 0.74x box hide a
    # ~30% regression inside its speed advantage)
    assert bench.noise_scale(0.05) == 0.8
    assert bench.noise_scale(0.136) == 0.8  # the r11 box: 0.74x, clamped
    # the r10 box (0.235) -> 1.28x relief, within the cap
    assert bench.noise_scale(0.235) == round(0.235 / 0.184, 3)
    # pathological calibration clamps at the cap
    assert bench.noise_scale(10.0) == 1.5
    # floors scale DOWN, budgets UP, by the same factor on a slow box
    s = bench.noise_scale(0.235)
    eff_f = bench.effective_floors(s)
    eff_b = bench.effective_budgets(s)
    for k, v in bench.FLOORS.items():
        assert eff_f[k] == round(v / s, 1)
    # r15 (VERDICT r14 #8): budgets re-base uniformly from the last two
    # committed driver artifacts and are floor-bounded — a clamp may
    # never demand a wall time below the fixed-overhead floor
    base = bench.rebased_budgets()
    eff_b = bench.effective_budgets(s, base)
    for n, b in base.items():
        assert eff_b[n] == max(round(b * s, 3), bench.BUDGET_FLOOR_SEC)
    # on a FAST box only budgets tighten; floors stay raw (measured
    # throughput rises with box speed, so raw floors already catch
    # fast-box regressions — tightening them 25% would pin them at the
    # steady-state band and guarantee weather reds)
    assert bench.effective_floors(0.8) == {
        k: round(float(v), 1) for k, v in bench.FLOORS.items()}
    assert bench.effective_budgets(0.8, base) == {
        n: max(round(b * 0.8, 3), bench.BUDGET_FLOOR_SEC)
        for n, b in base.items()}
    # the r10 misses (3.6-8.9% under raw floors at calibration 0.235)
    # would have gated GREEN under this policy
    for miss_key, miss_val in [("stream_dedup_docs_per_sec", 1153.7),
                               ("txn_fb_sink_rows_per_sec", 43358.0),
                               ("txn_feed_rows_per_sec", 40999.0)]:
        assert miss_val >= eff_f[miss_key], (miss_key, eff_f[miss_key])


def test_fast_box_regression_goes_red():
    """The VERDICT r11 #4 replay: on the r11 fast box (calibration
    0.136, i.e. 0.74x the reference), a synthetic 30% engine
    regression of each measured r11 query must MISS its effective
    budget — under the old floor-1.0 clamp every one of them hid
    inside the fast box's headroom — while the ACTUAL measured r11
    values (no regression) all still gate green on the same box."""
    import json
    import os

    import bench

    here = os.path.dirname(__file__)
    r11 = json.load(open(os.path.join(here, "..",
                                      "BENCH_r11.json")))["parsed"]
    s = bench.noise_scale(0.136)
    assert s == 0.8
    # historical replay of the CLAMP mechanism: use the r11-era literal
    # table as the base (the r15 re-base rule would anachronistically
    # apply r13/r14 mins to r11 measurements)
    eff_b = bench.effective_budgets(s, bench.QUERY_BUDGETS)
    measured = {k: v for k, v in r11["queries"].items()
                if k in eff_b}
    assert len(measured) > 30
    # no false reds: the real fast-box measurements pass the tight side
    misses = [k for k, v in measured.items() if v > eff_b[k]]
    assert misses == [], misses
    # a 30% across-the-board regression is caught for most queries —
    # and crucially for SOME queries at all (under the old clamp the
    # count was ZERO: 1.3 x the worst ratio 0.77 = 1.00 < the old
    # effective scale 1.0 only at the single worst query; typical 0.6
    # ratios regressed to 0.8 still passed x1.0 budgets)
    caught = [k for k, v in measured.items() if v * 1.3 > eff_b[k]]
    assert len(caught) >= len(measured) // 3, (
        f"only {len(caught)}/{len(measured)} 30%-regressions caught")


def test_budget_rebase_rule():
    """r15 (VERDICT r14 #8): budgets derive UNIFORMLY from the two most
    recent committed driver artifacts — max(1.5 x trailing-2-round min,
    BUDGET_FLOOR_SEC) — instead of per-row hand edits over stale
    rolling minima. Pins: every budgeted query gets a rule value when
    both artifacts carry it; variant artifacts (BENCH_r14_c8.json's
    8-core run) are excluded; the floor bounds both the base budget and
    the effective (noise-scaled) one."""
    import json
    import os

    import bench

    here = os.path.dirname(__file__)
    arts = []
    for fn in sorted(os.listdir(os.path.join(here, ".."))):
        import re
        m = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if not m:
            continue
        q = (json.load(open(os.path.join(here, "..", fn)))
             .get("parsed") or {}).get("queries")
        if q:
            arts.append((int(m.group(1)), q))
    arts = sorted(arts)[-2:]
    assert len(arts) == 2, "needs two committed driver rounds"
    rb = bench.rebased_budgets()
    assert set(rb) == set(bench.QUERY_BUDGETS)
    for n, b in rb.items():
        vals = [q[n] for _, q in arts if n in q]
        if len(vals) == 2:
            assert b == round(max(1.5 * min(vals),
                                  bench.BUDGET_FLOOR_SEC), 3), n
        else:  # fallback: the literal table (new bench rows)
            assert b == bench.QUERY_BUDGETS[n], n
        assert b >= bench.BUDGET_FLOOR_SEC
    # the r14 failure mode this retires: dedup_minhash_lsh's budget now
    # tracks the demonstrated two-round min instead of an r5-era pin
    eff = bench.effective_budgets(0.8, rb)
    assert all(v >= bench.BUDGET_FLOOR_SEC for v in eff.values())
