"""Round-13 additions: the ADVICE r12 degenerate-guard fixes, verified
cross-engine on planted degenerate corpora (the same class as
test_degenerate_constant_corpus_agrees_cross_engine — ANSI Spark raises
DIVIDE_BY_ZERO / LN-domain errors where DuckDB NULLs or errors, so both
engines must pin NULL explicitly)."""

from __future__ import annotations

import datetime

import duckdb

from recommendation_system_big_data_spark import oracle
from tests.conftest import assert_oracle_match


def test_degenerate_single_class_and_single_day_events(spark, tmp_path):
    """All-purchase single-day corpus: ml_eval_log_loss's pos = n must
    NULL the baseline entropy + skill score (DuckDB LN(0) would raise)
    and stat_overdispersion_index's n_days = 1 must NULL var/index/GOF
    (ANSI div-by-zero) — identically on both engines."""
    from recommendation_system_big_data_spark.operators.ml_eval import (
        _LOGLOSS_ORACLE,
        ml_eval_log_loss,
    )
    from recommendation_system_big_data_spark.operators.stats_tests import (
        _OVERDISP_ORACLE,
        stat_overdispersion_index,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), i, "purchase",
         1.0 + (i % 7), "{}")
        for i in range(200)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(sf + "/events.parquet")

    ll = ml_eval_log_loss(spark, sf)
    r = ll.collect()[0]
    assert r["n_pos"] == r["n_total"] == 200
    assert r["baseline_entropy"] is None and r["skill_score"] is None
    assert r["mean_log_loss"] is not None

    od = stat_overdispersion_index(spark, sf)
    ro = od.collect()[0]
    assert ro["n_days"] == 1
    assert ro["var_daily"] is None
    assert ro["dispersion_index"] is None
    assert ro["poisson_gof_chi2"] is None
    assert ro["overdispersed"] is None

    con = oracle.connect(sf)
    assert_oracle_match(ll, con, _LOGLOSS_ORACLE, "degenerate_log_loss")
    assert_oracle_match(od, con, _OVERDISP_ORACLE, "degenerate_overdisp")
    con.close()


def test_degenerate_fairness_single_class_segments(spark, tmp_path):
    """A segment whose orders are ALL fulfilled (n = n_pos → FPR rate
    divides by zero) and one with NONE (n_pos = 0 → TPR divides by
    zero) must both emit NULL rates, cross-engine-identically; the gap
    windows range over the defined rates only."""
    from recommendation_system_big_data_spark.operators.ml_eval import (
        _FAIRNESS_ORACLE,
        ml_eval_fairness_gaps,
    )

    sf = str(tmp_path)
    custs = [(1, "AUTOMOBILE"), (2, "BUILDING"), (3, "MACHINERY")]
    spark.createDataFrame(
        [(k, f"c{k}", "addr", 0, "p", 1.0, seg, "x") for k, seg in custs],
        "c_custkey long, c_name string, c_address string, c_nationkey long,"
        " c_phone string, c_acctbal double, c_mktsegment string,"
        " c_comment string",
    ).coalesce(1).write.parquet(sf + "/customer.parquet")
    orders = []
    oid = 0
    # AUTOMOBILE: all 'F' (n_pos = n); BUILDING: none 'F' (n_pos = 0);
    # MACHINERY: mixed — both rates defined, anchoring the gap windows.
    for custkey, statuses, prices in [
        (1, "FFFF", [10.0, 20.0, 900.0, 950.0]),
        (2, "OOOO", [15.0, 25.0, 910.0, 940.0]),
        (3, "FOFO", [12.0, 22.0, 920.0, 930.0]),
    ]:
        for st, pr in zip(statuses, prices):
            orders.append(
                (oid, custkey, st, pr, datetime.date(2024, 1, 1), "1-URGENT",
                 "clerk", 0, "c")
            )
            oid += 1
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string,"
        " o_clerk string, o_shippriority int, o_comment string",
    ).coalesce(1).write.parquet(sf + "/orders.parquet")

    fg = ml_eval_fairness_gaps(spark, sf)
    got = {r["segment"]: r for r in fg.collect()}
    assert got["AUTOMOBILE"]["fpr_micros"] is None
    assert got["AUTOMOBILE"]["tpr_micros"] is not None
    assert got["BUILDING"]["tpr_micros"] is None
    assert got["BUILDING"]["fpr_micros"] is not None
    assert got["MACHINERY"]["tpr_micros"] is not None
    assert got["MACHINERY"]["fpr_micros"] is not None
    # the gaps range over defined rates only (MAX/MIN skip NULLs)
    assert got["AUTOMOBILE"]["tpr_gap_micros"] is not None

    con = oracle.connect(sf)
    assert_oracle_match(fg, con, _FAIRNESS_ORACLE, "degenerate_fairness")
    con.close()


def test_degenerate_gi_star_zero_variance_grid(spark, tmp_path):
    """An empty customer table gives 864 all-zero cells — the global
    variance term is exactly 0 and every gi_z must be NULL on both
    engines (ANSI Spark would raise DIVIDE_BY_ZERO)."""
    from recommendation_system_big_data_spark.operators.geo import (
        _GI_ORACLE,
        geo_hotspot_gi_star,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [],
        "c_custkey long, c_name string, c_address string, c_nationkey long,"
        " c_phone string, c_acctbal double, c_mktsegment string,"
        " c_comment string",
    ).coalesce(1).write.parquet(sf + "/customer.parquet")

    gi = geo_hotspot_gi_star(spark, sf)
    rows = gi.collect()
    assert len(rows) == 24 * 36
    assert all(r["gi_z"] is None and r["n_points"] == 0 for r in rows)

    con = oracle.connect(sf)
    assert_oracle_match(gi, con, _GI_ORACLE, "degenerate_gi_star")
    con.close()


def test_degenerate_flat_price_elasticity_cross_engine(spark, tmp_path):
    """The flat-price brand (sxx_c = 0) must NULL elasticity and r2 in
    BOTH engines — the oracle-mirror of the planted-slope unit test."""
    from recommendation_system_big_data_spark.operators.olap import (
        _ELASTICITY_ORACLE,
        olap_price_elasticity,
    )

    sf = str(tmp_path)
    lines = []
    lid = 0
    for p, q in [(1.0, 64.0), (2.0, 16.0), (4.0, 4.0), (8.0, 1.0)]:
        lines.append((lid, 1, 1, 1, q, p * q, 0.0, 0.0, "N", "O", None))
        lid += 1
    for q in [1.0, 2.0, 4.0]:  # flat unit price 3.0
        lines.append((lid, 2, 1, 1, q, 3.0 * q, 0.0, 0.0, "N", "O", None))
        lid += 1
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate date",
    ).coalesce(1).write.parquet(sf + "/lineitem.parquet")
    spark.createDataFrame(
        [(1, "pa", "BrandA", "t", 1, 1.0), (2, "pb", "BrandB", "t", 1, 3.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.parquet(sf + "/part.parquet")

    el = olap_price_elasticity(spark, sf)
    con = oracle.connect(sf)
    assert_oracle_match(el, con, _ELASTICITY_ORACLE, "degenerate_elasticity")
    con.close()


def test_normal_cdf_fragment_matches_erf(spark):
    """The shared Φ fragment is inside 7.5e-8 of math.erf on BOTH engines,
    and the two engines agree with each other to libm-ulp scale."""
    import math

    from recommendation_system_big_data_spark.functions.safe_stats import (
        normal_cdf_sql,
    )

    zs = [-4.0, -2.5758293, -1.959963985, -1.0, -0.1, 0.0, 0.1, 1.0,
          1.6448536, 2.3263479, 3.5]
    con = duckdb.connect()
    for z in zs:
        frag = normal_cdf_sql(str(z))
        duck = con.execute(f"SELECT {frag}").fetchone()[0]
        spk = spark.sql(f"SELECT {frag} AS v").collect()[0]["v"]
        want = 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))
        assert abs(duck - want) < 1e-7, (z, duck, want)
        assert abs(spk - want) < 1e-7, (z, spk, want)
        assert abs(spk - duck) < 1e-12, (z, spk, duck)
    con.close()


def test_mcnemar_planted_discordant_cells(spark, tmp_path):
    """Planted paired binaries: 5 click-only users, 1 purchase-only,
    3 concordant-both, 2 concordant-neither → b=5, c=1,
    χ²cc = (|5−1|−1)²/6 = 1.5, p = 2(1−Φ(√1.5))."""
    import math

    from recommendation_system_big_data_spark.operators.stats_tests import (
        stat_mcnemar,
    )

    evs, eid = [], 0
    t0 = datetime.datetime(2024, 1, 1)

    def add(uid, types):
        nonlocal eid
        for ty in types:
            evs.append((eid, t0 + datetime.timedelta(seconds=eid), uid,
                        ty, 1.0, "{}"))
            eid += 1

    for u in range(5):
        add(u, ["click", "view"])          # click only
    add(5, ["purchase"])                    # purchase only
    for u in (6, 7, 8):
        add(u, ["click", "purchase"])       # both
    for u in (9, 10):
        add(u, ["view"])                    # neither
    sf = str(tmp_path)
    spark.createDataFrame(
        evs,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(sf + "/events.parquet")

    r = stat_mcnemar(spark, sf).collect()[0]
    assert r["n_users"] == 11
    assert (r["click_only"], r["purchase_only"]) == (5, 1)
    assert abs(r["mcnemar_chi2_cc"] - 1.5) < 1e-9
    want_p = 2.0 * (1.0 - 0.5 * (1 + math.erf(math.sqrt(1.5)
                                              / math.sqrt(2.0))))
    assert abs(r["p_value"] - want_p) < 1e-6


def test_runs_test_planted_alternating_series(spark, tmp_path):
    """Perfectly alternating above/below-median days: R = 20 runs over
    n1 = n2 = 10 → z = (20 − 11)/√(180·171/…) per the classical
    formulas, strongly anti-persistent."""
    from recommendation_system_big_data_spark.operators.stats_tests import (
        stat_runs_test,
    )

    orders, oid = [], 0
    for d in range(21):
        price = 200.0 if d == 20 else (100.0 if d % 2 == 0 else 300.0)
        orders.append((oid, 1, "O", price,
                       datetime.datetime(2024, 1, 1)
                       + datetime.timedelta(days=d), "1-URGENT"))
        oid += 1
    sf = str(tmp_path)
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.parquet(sf + "/orders.parquet")

    r = stat_runs_test(spark, sf).collect()[0]
    assert (r["n_above"], r["n_below"]) == (10, 10)
    assert r["n_runs"] == 20
    n1 = n2 = 10.0
    n = n1 + n2
    ez = 2 * n1 * n2 / n + 1
    vz = (2 * n1 * n2) * (2 * n1 * n2 - n) / (n * n * (n - 1))
    assert abs(r["z_stat"] - round((20 - ez) / vz ** 0.5, 4)) < 1e-9
    assert r["p_value"] < 1e-3  # alternation is decisively non-random


def test_ljung_box_planted_periodic_counts(spark, tmp_path):
    """A strict period-2 daily count series (10 vs 50 events/day) has
    ρ₁ ≈ −1 and a decisive reject; a constant series pins NULL."""
    from recommendation_system_big_data_spark.operators.stats_tests import (
        stat_ljung_box,
    )

    t0 = datetime.datetime(2024, 1, 1)
    evs, eid = [], 0
    for d in range(30):
        for j in range(10 if d % 2 == 0 else 50):
            evs.append((eid, t0 + datetime.timedelta(days=d, seconds=j),
                        eid, "click", 1.0, "{}"))
            eid += 1
    sf = str(tmp_path)
    spark.createDataFrame(
        evs,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(2).write.parquet(sf + "/events.parquet")

    rows = {r["lag"]: r for r in stat_ljung_box(spark, sf).collect()}
    assert set(rows) == set(range(1, 8))
    assert rows[1]["rho"] < -0.8
    assert rows[2]["rho"] > 0.8
    assert rows[1]["reject_5pct"] == 1
    assert rows[1]["lags_used"] == 7

    # constant series → den = 0 → NULL rho/q on both engines
    sf2 = str(tmp_path / "flat")
    (tmp_path / "flat").mkdir()
    evs2 = [(i, t0 + datetime.timedelta(days=i // 20, seconds=i % 20),
             i, "click", 1.0, "{}") for i in range(200)]
    spark.createDataFrame(
        evs2,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(sf2 + "/events.parquet")
    flat = stat_ljung_box(spark, sf2).collect()
    assert all(r["rho"] is None and r["q_stat"] is None
               and r["reject_5pct"] is None for r in flat)


def test_bh_step_up_replay(spark, sf_dir):
    """Sequential replay of the BH step-up on the engine's own raw p's;
    also the textbook dominance p_raw ≤ p_bh ≤ p_holm rowwise."""
    from recommendation_system_big_data_spark.operators.stats_tests import (
        stat_benjamini_hochberg,
        stat_holm_bonferroni,
    )

    bh = {r["event_type"]: r
          for r in stat_benjamini_hochberg(spark, sf_dir).collect()}
    holm = {r["event_type"]: r
            for r in stat_holm_bonferroni(spark, sf_dir).collect()}
    assert set(bh) == set(holm)
    ordered = sorted(bh.values(), key=lambda r: r["p_rank"])
    k = len(ordered)
    # replay: running min from the largest rank down
    expect, run = {}, 1.0
    for r in reversed(ordered):
        run = min(run, min(k * r["p_raw"] / r["p_rank"], 1.0))
        expect[r["event_type"]] = run
    for ty, r in bh.items():
        assert abs(r["p_bh"] - round(expect[ty], 6)) <= 1e-4, ty
        assert r["p_raw"] <= r["p_bh"] + 1e-6
        assert r["p_bh"] <= holm[ty]["p_holm"] + 1e-6


def test_two_prop_and_bayes_replay(spark, sf_dir):
    """Replay z/p/CI and the Beta-posterior normal approximation from the
    engines' own exact cells; the frequentist and Bayesian reads agree
    in direction."""
    import math

    from recommendation_system_big_data_spark.operators.stats_tests import (
        stat_bayes_ab_beta,
        stat_two_proportion_z,
    )

    r = stat_two_proportion_z(spark, sf_dir).collect()[0]
    n1, c1, n2, c2 = r["n1"], r["c1"], r["n2"], r["c2"]
    p1, p2 = c1 / n1, c2 / n2
    pp = (c1 + c2) / (n1 + n2)
    if pp in (0.0, 1.0):
        # single-class pool (every sampled user converts at this SF):
        # the degenerate guard must have pinned NULLs
        assert r["z_stat"] is None and r["p_value"] is None
    else:
        z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
        assert abs(r["z_stat"] - round(z, 4)) < 1e-9
        want_p = 2 * (1 - 0.5 * (1 + math.erf(abs(z) / math.sqrt(2))))
        assert abs(r["p_value"] - want_p) < 1e-6
    se = math.sqrt(p1 * (1 - p1) / n1 + p2 * (1 - p2) / n2)
    if se == 0:
        assert r["ci95_lo"] is None and r["ci95_hi"] is None
    else:
        assert abs(r["ci95_lo"] - round(p1 - p2 - 1.959963985 * se, 6)) < 1e-9
        assert abs(r["ci95_hi"] - round(p1 - p2 + 1.959963985 * se, 6)) < 1e-9

    b = stat_bayes_ab_beta(spark, sf_dir).collect()[0]
    assert (b["n1"], b["c1"], b["n2"], b["c2"]) == (n1, c1, n2, c2)
    mu1, mu2 = (1 + c1) / (n1 + 2), (1 + c2) / (n2 + 2)
    v1 = (1 + c1) * (1 + n1 - c1) / ((n1 + 2) ** 2 * (n1 + 3))
    v2 = (1 + c2) * (1 + n2 - c2) / ((n2 + 2) ** 2 * (n2 + 3))
    want = 0.5 * (1 + math.erf((mu2 - mu1) / math.sqrt(v1 + v2)
                               / math.sqrt(2)))
    assert abs(b["prob_b_beats_a"] - want) < 1e-6
    # direction agreement: P(B>A) vs 0.5 tracks the POSTERIOR means
    # (which shrink toward 1/2, so ties in raw rates can flip at tiny n)
    if mu1 != mu2:
        assert (b["prob_b_beats_a"] > 0.5) == (mu2 > mu1)


def test_cohort_ltv_triangle_planted(spark, tmp_path):
    """Two customers, one cohort; exact cents accumulate along age and
    normalize per cohort member with truncating division."""
    from recommendation_system_big_data_spark.operators.olap import (
        olap_cohort_ltv_triangle,
    )

    orders = [
        # cust 1: Jan 100.00, Feb 50.00 ; cust 2: Jan 30.00, Mar 20.00
        (1, 1, "O", 100.0, datetime.datetime(2024, 1, 10), "1-URGENT"),
        (2, 1, "O", 50.0, datetime.datetime(2024, 2, 5), "1-URGENT"),
        (3, 2, "O", 30.0, datetime.datetime(2024, 1, 20), "1-URGENT"),
        (4, 2, "O", 20.0, datetime.datetime(2024, 3, 15), "1-URGENT"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.parquet(sf + "/orders.parquet")

    rows = {r["age_months"]: r
            for r in olap_cohort_ltv_triangle(spark, sf).collect()}
    ym = 2024 * 12 + 1
    assert set(rows) == {0, 1, 2}
    assert all(r["cohort_ym"] == ym and r["n_custs"] == 2
               for r in rows.values())
    assert rows[0]["rev_cents"] == 13000
    assert rows[1]["rev_cents"] == 5000
    assert rows[2]["rev_cents"] == 2000
    assert rows[2]["cum_rev_cents"] == 20000
    assert rows[2]["ltv_cents_per_cust"] == 10000
    assert rows[1]["ltv_cents_per_cust"] == 9000


def test_psm_att_planted_nearest_match(spark, tmp_path):
    """Planted 1-D matching: treated at bal 100/210, controls at 90,
    200, 500. Nearest: 100→90 (tie rule n/a), 210→200. ATT = mean of
    (y_t − y_matched) exactly."""
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_psm_att,
    )

    custs = [
        # (key, segment, bal) — BUILDING = treated
        (1, "BUILDING", 1.00), (2, "BUILDING", 2.10),
        (3, "AUTOMOBILE", 0.90), (4, "MACHINERY", 2.00),
        (5, "FURNITURE", 5.00),
    ]
    spark.createDataFrame(
        [(k, f"c{k}", seg, bal) for k, seg, bal in custs],
        "c_custkey long, c_name string, c_mktsegment string,"
        " c_acctbal double",
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    orders = [
        # outcomes: cust1 $50, cust2 $70; ctrl3 $10, ctrl4 $40, ctrl5 $99
        (1, 1, "O", 50.0), (2, 2, "O", 70.0), (3, 3, "O", 10.0),
        (4, 4, "O", 40.0), (5, 5, "O", 99.0),
    ]
    spark.createDataFrame(
        [(o, c, st, p, datetime.datetime(2024, 1, 1), "1-URGENT")
         for o, c, st, p in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))

    r = ml_psm_att(spark, str(tmp_path)).collect()[0]
    assert (r["n_treated"], r["n_controls"], r["n_matched"]) == (2, 3, 2)
    # diffs: (5000-1000) + (7000-4000) = 7000 cents
    assert r["sum_diff_cents"] == 7000
    assert abs(r["att_dollars"] - 35.0) < 1e-9


def test_psm_att_tie_prefers_lower_side(spark, tmp_path):
    """Equidistant controls: bal 100 treated between controls at 90 and
    110 — the documented tie rule picks the LOWER (prev) side."""
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_psm_att,
    )

    custs = [(1, "BUILDING", 1.00), (2, "AUTOMOBILE", 0.90),
             (3, "MACHINERY", 1.10)]
    spark.createDataFrame(
        [(k, f"c{k}", seg, bal) for k, seg, bal in custs],
        "c_custkey long, c_name string, c_mktsegment string,"
        " c_acctbal double",
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    orders = [(1, 1, "O", 10.0), (2, 2, "O", 3.0), (3, 3, "O", 8.0)]
    spark.createDataFrame(
        [(o, c, st, p, datetime.datetime(2024, 1, 1), "1-URGENT")
         for o, c, st, p in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))

    r = ml_psm_att(spark, str(tmp_path)).collect()[0]
    # matched control must be cust2 (bal 90, y $3): diff = $7
    assert r["sum_diff_cents"] == 700


def test_hurst_planted_regimes(spark, tmp_path):
    """A strongly trending (persistent) daily series reads H near 1; a
    strictly alternating (anti-persistent) one reads H near 0 — the two
    regimes bracket the 0.5 random-walk line from both sides."""
    from recommendation_system_big_data_spark.operators.timeseries import (
        ts_hurst_exponent,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def write_series(path, counts):
        evs, eid = [], 0
        for d, c in enumerate(counts):
            for j in range(c):
                evs.append((eid, t0 + datetime.timedelta(days=d, seconds=j),
                            eid, "click", 1.0, "{}"))
                eid += 1
        path.mkdir(exist_ok=True)
        spark.createDataFrame(
            evs,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(2).write.parquet(str(path / "events.parquet"))

    write_series(tmp_path / "trend", [10 + 3 * d for d in range(56)])
    rows = ts_hurst_exponent(spark, str(tmp_path / "trend")).collect()
    assert {r["window_days"] for r in rows} == {4, 7, 14, 28}
    h_trend = rows[0]["hurst"]
    assert h_trend is not None and h_trend > 0.8

    write_series(tmp_path / "alt",
                 [10 if d % 2 == 0 else 40 for d in range(56)])
    rows2 = ts_hurst_exponent(spark, str(tmp_path / "alt")).collect()
    h_alt = rows2[0]["hurst"]
    assert h_alt is not None and h_alt < 0.25
    assert h_alt < h_trend


def test_dp_quantile_planted_peak_dominates_noise(spark, tmp_path):
    """A sharply peaked balance distribution: the exponential mechanism's
    utility gap (hundreds of rank units x eps/4) dwarfs the Gumbel noise
    (~1 unit), so the released median must equal the true median."""
    from recommendation_system_big_data_spark.functions.quality import (
        privacy_dp_quantile,
    )

    custs = [(k, f"c{k}", 50.00) for k in range(200)]
    custs += [(200, "c200", 1.00), (201, "c201", 999.00)]
    spark.createDataFrame(
        custs,
        "c_custkey long, c_name string, c_acctbal double",
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))

    r = privacy_dp_quantile(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 202
    assert r["true_median_cents"] == 5000
    assert r["dp_median_cents"] == 5000
    assert r["abs_err_cents"] == 0


def test_mattr_planted_diverse_vs_repetitive(spark, tmp_path):
    """100 distinct tokens → MATTR = 1.0 exactly; 100 copies of one token
    → MATTR = 1/50; a 30-token doc has no full window → NULL MATTR but
    a defined global TTR."""
    from recommendation_system_big_data_spark.functions.text import (
        text_mattr_lexical_diversity,
    )

    diverse = " ".join(f"w{i}" for i in range(100))
    repetitive = " ".join(["spam"] * 100)
    short = " ".join(f"u{i}" for i in range(30))
    spark.createDataFrame(
        [(1, diverse, "en", "s", len(diverse)),
         (2, repetitive, "en", "s", len(repetitive)),
         (3, short, "en", "s", len(short))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    rows = {r["doc_id"]: r
            for r in text_mattr_lexical_diversity(spark, str(tmp_path))
            .collect()}
    assert rows[1]["n_windows"] == 2
    assert rows[1]["mattr_micros"] == 1000000
    assert rows[1]["global_ttr_micros"] == 1000000
    assert rows[2]["mattr_micros"] == 20000          # 1/50
    assert rows[2]["global_ttr_micros"] == 10000     # 1/100
    assert rows[3]["n_windows"] == 0
    assert rows[3]["mattr_micros"] is None
    assert rows[3]["global_ttr_micros"] == 1000000


def test_hits_planted_star_graph(spark, tmp_path):
    """Planted bipartite star: one super-customer buys every part, two
    others buy one part each — the super-customer must be the top hub
    and the part everyone buys the top authority."""
    from recommendation_system_big_data_spark.operators.graph import (
        graph_hits,
    )

    orders = [(o, c, "O", 10.0,
               datetime.datetime(2024, 1, 1), "1-URGENT")
              for o, c in [(1, 100), (2, 101), (3, 102)]]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    # order 1 (cust 100): parts 1,2,3 ; order 2 (cust 101): part 1 ;
    # order 3 (cust 102): part 1
    lines = [(1, 1), (1, 2), (1, 3), (2, 1), (3, 1)]
    spark.createDataFrame(
        [(ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None)
         for ok, pk in lines],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate date",
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))

    rows = graph_hits(spark, str(tmp_path)).collect()
    hubs = {r["node_id"]: r["score"] for r in rows if r["role"] == "hub"}
    auths = {r["node_id"]: r["score"]
             for r in rows if r["role"] == "authority"}
    assert max(hubs, key=hubs.get) == 100
    assert max(auths, key=auths.get) == 1
    # L2-normalized score vectors (scores are ROUND(6)'d, so the norm
    # check carries ~n·1e-6 rounding slack)
    assert abs(sum(v * v for v in hubs.values()) - 1.0) < 1e-4
    assert abs(sum(v * v for v in auths.values()) - 1.0) < 1e-4
