"""Round-14 operator unit tests: hand-computed goldens on tiny frames
for the k-group rank / trend / agreement / series-diagnostic /
variance-homogeneity / chrF additions.  (The sf-level oracle parity
gate covers full-scale behavior; these pin the math on inputs small
enough to verify by hand.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators import stats as st
from hdinsight_pyspark_cntk_integration_spark.operators import text as tx


def test_kruskal_wallis_no_tie_hand_case(spark):
    # a=[1,2,3], b=[4,5,6]: ranks 1..6, R_a=6, R_b=15
    # H = 12/(6*7) * (36/3 + 225/3) - 3*7 = 3.857142...
    rows = [("a", 1), ("a", 2), ("a", 3), ("b", 4), ("b", 5), ("b", 6)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = st.kruskal_wallis(df, "g", "v").collect()
    assert (r["n"], r["k"], r["h_micro"]) == (6, 2, 3_857_142)
    # no ties -> the corrected value is identical
    assert r["h_tie_micro"] == r["h_micro"]


def test_kruskal_wallis_ties_and_identity(spark):
    # identical groups -> H == 0 (up to the documented truncation)
    rows = [("a", v) for v in (1, 2, 2, 3)] + [("b", v) for v in (1, 2, 2, 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = st.kruskal_wallis(df, "g", "v").collect()
    assert abs(r["h_micro"]) <= 2
    # ties present -> the correction divides by a smaller denominator,
    # so |h_tie| >= |h|
    assert abs(r["h_tie_micro"]) >= abs(r["h_micro"])
    # 3 groups: degrees of freedom via k
    rows3 = rows + [("c", v) for v in (10, 11, 12, 13)]
    [r3] = st.kruskal_wallis(
        spark.createDataFrame(rows3, "g string, v long"), "g", "v"
    ).collect()
    assert r3["k"] == 3 and r3["h_micro"] > r["h_micro"]


def test_ad_distance_hand_case_and_zero(spark):
    # a=[1,2], b=[3,4]: blocks (B=1,2,3), d=(2,4,2) ->
    # A2 = 3 * (4/3 + 4 + 4/3) / 4 = 5 exactly (micro 4999999 after
    # the documented per-block truncation)
    rows = [("a", 1), ("a", 2), ("b", 3), ("b", 4)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = st.ad_distance(df, "g", "v", "a", "b").collect()
    assert (r["n_a"], r["n_b"], r["ad_micro"]) == (2, 2, 4_999_999)
    same = spark.createDataFrame(
        [("a", v) for v in (1, 2, 3)] + [("b", v) for v in (1, 2, 3)],
        "g string, v long",
    )
    [rz] = st.ad_distance(same, "g", "v", "a", "b").collect()
    assert rz["ad_micro"] == 0


def test_ad_distance_tail_sensitivity_vs_cvm(spark):
    # one far-tail point moved: AD's B(N-B) weighting reacts more
    # strongly (relative to its own null scale) than the uniform CvM
    base = [("a", v) for v in range(10)] + [("b", v) for v in range(10)]
    tail = [("a", v) for v in range(10)] + [
        ("b", v) for v in list(range(9)) + [500]
    ]
    [rb] = st.ad_distance(
        spark.createDataFrame(base, "g string, v long"), "g", "v", "a", "b"
    ).collect()
    [rt] = st.ad_distance(
        spark.createDataFrame(tail, "g string, v long"), "g", "v", "a", "b"
    ).collect()
    assert rb["ad_micro"] == 0 and rt["ad_micro"] > 0


def test_mood_median_separation_and_median_convention(spark):
    # a=1..4, b=5..8: lower median = 4 (smallest v with 2*cum >= N),
    # complete separation -> chi2 = 8 exactly
    rows = [("a", v) for v in range(1, 5)] + [("b", v) for v in range(5, 9)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = st.mood_median(df, "g", "v").collect()
    assert (r["n"], r["k"], r["median_v"], r["chi2_micro"]) == (
        8, 2, 4, 8_000_000,
    )
    # identical groups -> chi2 == 0
    same = [("a", v) for v in (1, 2, 3, 4)] + [("b", v) for v in (1, 2, 3, 4)]
    [rz] = st.mood_median(
        spark.createDataFrame(same, "g string, v long"), "g", "v"
    ).collect()
    assert rz["chi2_micro"] == 0


def test_jonckheere_terpstra_hand_case(spark):
    # g1=[1,2], g2=[3,4]: JT = U_12 = 4 (all ascending), JT2 = 8
    # E[JT2] = (16-8)/2 = 4; Var[JT2] = 4*(16*11 - 8*7)/72 = 20/3
    # z = 4 / sqrt(20/3) = 1.549193
    df = spark.createDataFrame([(1, 1), (1, 2), (2, 3), (2, 4)], "g long, v long")
    [r] = st.jonckheere_terpstra(df, "g", "v").collect()
    assert (r["n"], r["k"], r["jt2"], r["z_micro"]) == (4, 2, 8, 1_549_193)


def test_jonckheere_terpstra_ties_and_direction(spark):
    # ties count half: g1=[1], g2=[1] -> JT2 = 1 (2*0 + 1)
    df = spark.createDataFrame([(1, 1), (2, 1)], "g long, v long")
    [r] = st.jonckheere_terpstra(df, "g", "v").collect()
    assert r["jt2"] == 1
    # descending trend scores below the mean -> negative z
    desc = spark.createDataFrame(
        [(1, v) for v in (5, 6)] + [(2, v) for v in (3, 4)] + [(3, v) for v in (1, 2)],
        "g long, v long",
    )
    [rd] = st.jonckheere_terpstra(desc, "g", "v").collect()
    assert rd["jt2"] == 0 and rd["z_micro"] < 0


def test_gwet_ac1_full_agreement_and_skew_stability(spark):
    # 2 raters, 2 items, full agreement across 2 labels -> AC1 = 1
    rows = [(1, 0, "a"), (1, 1, "a"), (2, 0, "b"), (2, 1, "b")]
    df = spark.createDataFrame(rows, "item long, rater long, label string")
    [r] = st.gwet_ac1(df, "item", "rater", "label").collect()
    assert (r["n_items"], r["q"], r["pa_micro"], r["ac1_micro"]) == (
        2, 2, 1_000_000, 1_000_000,
    )
    # kappa paradox fixture: 9 agreeing "a" items + 1 agreeing "b" item,
    # perfect agreement but extreme prevalence. AC1 must stay 1 (pa=1);
    # pe is small, not ~1.
    skew = [(i, rr, "a") for i in range(9) for rr in (0, 1)] + [
        (9, 0, "b"), (9, 1, "b")
    ]
    [rs] = st.gwet_ac1(
        spark.createDataFrame(skew, "item long, rater long, label string"),
        "item", "rater", "label",
    ).collect()
    assert rs["pa_micro"] == 1_000_000 and rs["ac1_micro"] == 1_000_000
    # single-rating items excluded from both terms
    ragged = rows + [(3, 0, "a")]
    [rr_] = st.gwet_ac1(
        spark.createDataFrame(ragged, "item long, rater long, label string"),
        "item", "rater", "label",
    ).collect()
    assert rr_["n_items"] == 2


def test_durbin_watson_hand_and_alternation(spark):
    # [1,2,3,4]: d = n*x - S = (-6,-2,2,6); diffs n*(1,1,1)
    # DW = 16*3 / 80 = 0.6
    df = spark.createDataFrame([(1, t, t) for t in range(1, 5)], "k long, t long, v long")
    [r] = st.durbin_watson(df, "k", "t", "v").collect()
    assert (r["key"], r["n"], r["dw_micro"]) == (1, 4, 600_000)
    # perfectly alternating series -> DW near 4 (negative correlation)
    alt = spark.createDataFrame(
        [(1, t, 10 if t % 2 else -10) for t in range(1, 9)],
        "k long, t long, v long",
    )
    [ra] = st.durbin_watson(alt, "k", "t", "v").collect()
    assert ra["dw_micro"] > 3_000_000
    # constant series -> NULL (den = 0)
    const = spark.createDataFrame(
        [(1, t, 7) for t in range(1, 5)], "k long, t long, v long"
    )
    [rc] = st.durbin_watson(const, "k", "t", "v").collect()
    assert rc["dw_micro"] is None


def test_ljung_box_periodic_hand_case(spark):
    # period-3 series over 12 points: r1=-0.5, r2=-0.375, r3=0.75
    # Q = 12*14*(0.25/11 + 0.140625/10 + 0.5625/9) = 16.680...
    df = spark.createDataFrame(
        [(1, t, (t % 3) * 10) for t in range(1, 13)], "k long, t long, v long"
    )
    [r] = st.ljung_box(df, "k", "t", "v", max_lag=3).collect()
    assert (r["key"], r["n"], r["n_lags"]) == (1, 12, 3)
    assert r["q_micro"] == 16_680_681
    # white-ish tiny series: Q stays far below the periodic one
    quiet = spark.createDataFrame(
        [(1, t, v) for t, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8])],
        "k long, t long, v long",
    )
    [rq] = st.ljung_box(quiet, "k", "t", "v", max_lag=3).collect()
    assert rq["q_micro"] < r["q_micro"]


def test_grubbs_hand_case_and_sides(spark):
    # [1,2,3,4,100]: maxd = 5*100-110 = 390, s = sqrt(1902.5)
    # G = 390 / (5*s) = 1.788266...
    df = spark.createDataFrame([(v,) for v in (1, 2, 3, 4, 100)], "v long")
    [r] = st.grubbs_test(df, "v").collect()
    assert (r["n"], r["outlier_v"], r["g_micro"]) == (5, 100, 1_788_266)
    # low-side outlier is picked when its deviation dominates
    [rl] = st.grubbs_test(
        spark.createDataFrame([(v,) for v in (-100, 1, 2, 3, 4)], "v long"), "v"
    ).collect()
    assert rl["outlier_v"] == -100


def test_bartlett_equal_and_unequal_variances(spark):
    # identical variances -> T ~ 0 (micro truncation only)
    rows = [("a", v) for v in (1, 2, 3, 4, 5)] + [("b", v) for v in (2, 3, 4, 5, 6)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = st.bartlett_test(df, "g", "v").collect()
    assert (r["n"], r["k"]) == (10, 2) and abs(r["bartlett_micro"]) <= 5
    # 4x variance ratio: T = (8 ln 6.25 - 4 ln 2.5 - 4 ln 10) / 1.125
    #                      = 1.586799...
    rows4 = [("a", v) for v in (1, 2, 3, 4, 5)] + [
        ("b", 2 * v) for v in (1, 2, 3, 4, 5)
    ]
    [r4] = st.bartlett_test(
        spark.createDataFrame(rows4, "g string, v long"), "g", "v"
    ).collect()
    assert r4["bartlett_micro"] == 1_586_799
    # groups below 2 observations are excluded
    ragged = rows + [("c", 7)]
    [rr] = st.bartlett_test(
        spark.createDataFrame(ragged, "g string, v long"), "g", "v"
    ).collect()
    assert (rr["n"], rr["k"]) == (10, 2)


def test_chrf_identity_partial_and_fbeta_weighting(spark):
    refs = spark.createDataFrame(
        [(1, "the cat"), (2, "a dog")], "doc_id long, text string"
    )
    # identical corpora -> chrF = 1 at every order
    for row in tx.chrf_score(refs, refs, n_max=3).collect():
        assert row["chrf_micro"] == 1_000_000
        assert row["total_ref"] == row["total_hyp"] == row["total_clipped"]
    # one substituted char: per-order F = 5C/(4R+H)
    hyps = spark.createDataFrame(
        [(1, "the bat"), (2, "a dog")], "doc_id long, text string"
    )
    out = {r["n"]: r for r in tx.chrf_score(refs, hyps, n_max=2).collect()}
    assert out[1]["total_clipped"] == 11  # 12 unigrams, 'c'->'b'
    assert out[1]["chrf_micro"] == 5 * 11 * 1_000_000 // (4 * 12 + 12)
    assert out[2]["chrf_micro"] == 5 * 8 * 1_000_000 // (4 * 10 + 10)
    # beta=2 weights recall: hyp missing half the ref scores lower than
    # hyp with the same overlap but extra junk (precision loss)
    short = spark.createDataFrame([(1, "abcd")], "doc_id long, text string")
    full = spark.createDataFrame([(1, "abcdefgh")], "doc_id long, text string")
    rec = {r["n"]: r["chrf_micro"] for r in tx.chrf_score(full, short, n_max=1).collect()}
    prec = {r["n"]: r["chrf_micro"] for r in tx.chrf_score(short, full, n_max=1).collect()}
    assert rec[1] < prec[1]
    # normalization: case and whitespace runs are canonicalized
    messy = spark.createDataFrame([(1, "  THE   cat "), (2, "A  DOG")], "doc_id long, text string")
    for row in tx.chrf_score(refs, messy, n_max=2).collect():
        assert row["chrf_micro"] == 1_000_000


def test_chrf_rejects_bad_params(spark):
    refs = None
    with pytest.raises(ValueError):
        tx.chrf_score(refs, refs, n_max=0)
    with pytest.raises(ValueError):
        tx.chrf_score(refs, refs, beta=0)


def test_jarque_bera_symmetric_hand_case(spark):
    # [1..5]: m2=2, m3=0 (exact), m4=6.8 -> skew 0, kurt 1.7
    # JB = 5*(0 + 1.69/24) = 0.3520833...
    df = spark.createDataFrame([(v,) for v in (1, 2, 3, 4, 5)], "v long")
    [r] = st.jarque_bera(df, "v").collect()
    assert (r["n"], r["skew_micro"], r["kurt_micro"], r["jb_micro"]) == (
        5, 0, 1_700_000, 352_083,
    )
    # a heavy right tail drives skew positive and JB up
    [rs] = st.jarque_bera(
        spark.createDataFrame([(v,) for v in (1, 2, 3, 4, 100)], "v long"), "v"
    ).collect()
    assert rs["skew_micro"] > 1_000_000 and rs["jb_micro"] > r["jb_micro"]


def test_runs_test_alternating_and_trending(spark):
    # [1,2]*4: signs alternate -> runs=8, n1=n2=4
    # z = (8-5)/sqrt(768/448) = 2.2912878...
    alt = spark.createDataFrame(
        [(1, t, 1 + t % 2) for t in range(8)], "k long, t long, v long"
    )
    [r] = st.runs_test(alt, "k", "t", "v").collect()
    assert (r["n1"], r["n2"], r["runs"], r["z_micro"]) == (4, 4, 8, 2_291_287)
    # a step series has exactly 2 runs -> strongly negative z
    step = spark.createDataFrame(
        [(1, t, 0 if t < 4 else 10) for t in range(8)], "k long, t long, v long"
    )
    [rt] = st.runs_test(step, "k", "t", "v").collect()
    assert rt["runs"] == 2 and rt["z_micro"] < -2_000_000
    # constant series: every d==0 row drops -> degenerate NULL z
    const = spark.createDataFrame(
        [(1, t, 5) for t in range(4)], "k long, t long, v long"
    )
    out = st.runs_test(const, "k", "t", "v").collect()
    assert out == [] or out[0]["z_micro"] is None


def test_page_trend_monotone_hand_case(spark):
    # 2 blocks, k=3, values strictly increasing in treatment order:
    # L2 = 2*(1*2+2*4+3*6) = 56, E[L2]=48, sd[L2]=4 -> z = 2
    rows = [(b, j, 10 * j + b) for b in (1, 2) for j in (1, 2, 3)]
    df = spark.createDataFrame(rows, "blk long, trt long, val long")
    [r] = st.page_trend_test(df, "blk", "trt", "val").collect()
    assert (r["b"], r["k"], r["l2"], r["z_micro"]) == (2, 3, 56, 2_000_000)
    # blocks missing a treatment are dropped
    ragged = rows + [(3, 1, 5)]
    [rr] = st.page_trend_test(
        spark.createDataFrame(ragged, "blk long, trt long, val long"),
        "blk", "trt", "val",
    ).collect()
    assert rr["b"] == 2
    # perfectly decreasing order -> z = -2
    rows_d = [(b, j, -10 * j) for b in (1, 2) for j in (1, 2, 3)]
    [rd] = st.page_trend_test(
        spark.createDataFrame(rows_d, "blk long, trt long, val long"),
        "blk", "trt", "val",
    ).collect()
    assert rd["z_micro"] == -2_000_000


def test_dp_exponential_quantile_conventions(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    df = spark.createDataFrame([(v,) for v in range(1, 10)], "v long")
    # huge epsilon: the utility term dominates the Gumbel noise, so the
    # release collapses onto the true target-rank value
    [r] = pl.dp_exponential_quantile(
        df, "v", q_micro=500_000, epsilon_micro=60_000_000, seed=3
    ).collect()
    # r = floor(0.5*9) = 4 -> lower-median convention value 4
    assert (r["n"], r["true_v"]) == (9, 4)
    assert r["released_v"] == r["true_v"]
    # reproducible: same seed -> identical release; md5 family too
    [r2] = pl.dp_exponential_quantile(
        df, "v", q_micro=500_000, epsilon_micro=60_000_000, seed=3
    ).collect()
    assert r2["released_v"] == r["released_v"]
    [rm] = pl.dp_exponential_quantile(
        df, "v", q_micro=500_000, epsilon_micro=60_000_000, seed=3,
        hash_family="md5",
    ).collect()
    assert rm["true_v"] == 4
    with pytest.raises(ValueError):
        pl.dp_exponential_quantile(df, "v", q_micro=0)
    with pytest.raises(ValueError):
        pl.dp_exponential_quantile(df, "v", epsilon_micro=0)


def test_brunner_munzel_scipy_docs_case(spark):
    # the scipy.stats.brunnermunzel documentation example:
    # W = 3.1374674823029505, df = 17.6828...
    x1 = [1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1]
    x2 = [3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4]
    rows = [("a", v) for v in x1] + [("b", v) for v in x2]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = st.brunner_munzel(df, "g", "v", "a", "b").collect()
    assert (r["n_a"], r["n_b"], r["w_micro"]) == (14, 11, 3_137_467)
    assert r["df_micro"] == 17_682_841
    # identical groups: phat = 1/2, W = 0 (up to micro truncation)
    same = [("a", v) for v in (1, 2, 3, 4)] + [("b", v) for v in (1, 2, 3, 4)]
    [rz] = st.brunner_munzel(
        spark.createDataFrame(same, "g string, v long"), "g", "v", "a", "b"
    ).collect()
    assert rz["p_hat_micro"] == 500_000 and abs(rz["w_micro"]) <= 1
    # complete dominance: phat = 1
    dom = [("a", v) for v in (1, 2, 3)] + [("b", v) for v in (10, 11, 12)]
    [rd] = st.brunner_munzel(
        spark.createDataFrame(dom, "g string, v long"), "g", "v", "a", "b"
    ).collect()
    assert rd["p_hat_micro"] == 1_000_000 and rd["w_micro"] is None


def test_bayes_ab_prob_closed_form_and_symmetry(spark):
    # A: 3/10, B: 7/10 -> P(B>A) = 0.9569455... (exact closed form)
    rows = [("A", i < 3) for i in range(10)] + [("B", i < 7) for i in range(10)]
    df = spark.createDataFrame(rows, "arm string, ok boolean")
    [r] = st.bayes_ab_prob(df, "arm", "ok", "A", "B", max_terms=1024).collect()
    assert (r["succ_a"], r["fail_a"], r["succ_b"], r["fail_b"]) == (3, 7, 7, 3)
    assert r["p_b_micro"] == 956_945
    # swapping arms complements: P(A>B) = 1 - P(B>A) - P(equal-mass=0)
    [rs] = st.bayes_ab_prob(df, "arm", "ok", "B", "A", max_terms=1024).collect()
    assert abs(r["p_b_micro"] + rs["p_b_micro"] - 1_000_000) <= 2
    # identical arms -> exactly 1/2 by symmetry (up to truncation)
    same = [("A", i < 5) for i in range(10)] + [("B", i < 5) for i in range(10)]
    [re_] = st.bayes_ab_prob(
        spark.createDataFrame(same, "arm string, ok boolean"),
        "arm", "ok", "A", "B", max_terms=1024,
    ).collect()
    assert abs(re_["p_b_micro"] - 500_000) <= 2
    # spine-cap guard: arm B larger than max_terms -> NULL, never a
    # silently truncated sum
    [rg] = st.bayes_ab_prob(df, "arm", "ok", "A", "B", max_terms=4).collect()
    assert rg["p_b_micro"] is None


def test_lngamma_sql_matches_lgamma(spark):
    import math

    expr = st._lngamma_sql("CAST(id AS BIGINT)")
    rows = (
        spark.range(1, 200)
        .selectExpr("id", f"{expr} AS lg")
        .collect()
    )
    for r in rows:
        assert abs(r["lg"] - math.lgamma(r["id"])) < 1e-10, r["id"]


def test_fisher_exact_scipy_case_and_guard(spark):
    # scipy.stats.fisher_exact([[8,2],[1,5]]): p = 0.0349650..., OR 20
    rows = (
        [(True, True)] * 8 + [(True, False)] * 2
        + [(False, True)] * 1 + [(False, False)] * 5
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    [r] = st.fisher_exact(df, "a", "b", max_terms=64).collect()
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (8, 2, 1, 5)
    assert r["odds_ratio_micro"] == 20_000_000
    assert r["p_two_micro"] == 34_965
    # independence (balanced table): p = 1 exactly (clamped)
    bal = (
        [(True, True)] * 4 + [(True, False)] * 4
        + [(False, True)] * 4 + [(False, False)] * 4
    )
    [rb] = st.fisher_exact(
        spark.createDataFrame(bal, "a boolean, b boolean"), "a", "b",
        max_terms=64,
    ).collect()
    # full-support sum of pico-floored terms lands within truncation
    # of exactly 1
    assert rb["p_two_micro"] >= 999_998
    # support larger than the spine cap -> NULL, never truncation
    [rg] = st.fisher_exact(df, "a", "b", max_terms=2).collect()
    assert rg["p_two_micro"] is None
    # zero cell: odds ratio NULL (division), p still defined
    z = [(True, True)] * 5 + [(False, False)] * 5
    [rz] = st.fisher_exact(
        spark.createDataFrame(z, "a boolean, b boolean"), "a", "b",
        max_terms=64,
    ).collect()
    assert rz["odds_ratio_micro"] is None and rz["p_two_micro"] is not None


def test_capture_recapture_chapman_hand_case(spark):
    # n1=10, n2=8, m=4 -> Chapman 11*9/5 - 1 = 18.8
    rows = [(i < 10, 6 <= i < 14) for i in range(20)]
    df = spark.createDataFrame(rows, "f1 boolean, f2 boolean")
    [r] = st.capture_recapture(df, "f1", "f2").collect()
    assert (r["n1"], r["n2"], r["m"], r["n_hat_micro"]) == (
        10, 8, 4, 18_800_000,
    )
    assert r["half_ci_micro"] > 0
    # complete overlap: estimate collapses to the sample size, CI 0
    full = [(True, True)] * 7 + [(False, False)] * 3
    [rf] = st.capture_recapture(
        spark.createDataFrame(full, "f1 boolean, f2 boolean"), "f1", "f2"
    ).collect()
    assert rf["n_hat_micro"] == 7_000_000 and rf["half_ci_micro"] == 0


def test_hilbert_key_reference_walk_and_adjacency(spark):
    from hdinsight_pyspark_cntk_integration_spark.functions.layout import (
        hilbert_key2,
    )

    def xy2d(order, x, y):
        d, s = 0, order // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    import random

    random.seed(7)
    pts = [(random.randrange(65536), random.randrange(65536)) for _ in range(64)]
    pts += [(0, 0), (65535, 65535), (0, 65535), (65535, 0), (1, 0), (0, 1)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r["x"], r["y"]): r["hkey"] for r in hilbert_key2(df, "x", "y").collect()}
    assert all(got[(x, y)] == xy2d(65536, x, y) for x, y in pts)
    # the defining Hilbert property: consecutive keys are ADJACENT
    # cells (Manhattan distance 1) — Morton order violates this at
    # every quadrant jump
    grid = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    inv = {
        r["hkey"]: (r["x"], r["y"])
        for r in hilbert_key2(grid, "x", "y", bits=3).collect()
    }
    assert sorted(inv) == list(range(64))
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(63)
    )


def test_welch_anova_reference_and_robustness(spark):
    # hand-verified reference (numpy replication of Welch 1951):
    # a var 2.5, b var 10, c var 22.5 -> F* = 4.346268..., df2 = 6.750307
    rows = (
        [("a", v) for v in (1, 2, 3, 4, 5)]
        + [("b", v) for v in (2, 4, 6, 8, 10)]
        + [("c", v) for v in (3, 6, 9, 12, 15)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = st.welch_anova(df, "g", "v").collect()
    assert (r["n"], r["k"]) == (15, 3)
    assert abs(r["f_micro"] - 4_346_268) <= 5
    assert r["df2_micro"] == 6_750_307
    # equal means, unequal variances: F ~ 0
    eq = (
        [("a", v) for v in (4, 5, 6)]
        + [("b", v) for v in (0, 5, 10)]
        + [("c", v) for v in (-5, 5, 15)]
    )
    [re_] = st.welch_anova(
        spark.createDataFrame(eq, "g string, v long"), "g", "v"
    ).collect()
    assert re_["f_micro"] <= 1
    # degenerate groups (constant / singleton) are excluded
    dg = rows + [("d", 7), ("e", 3), ("e", 3)]
    [rd] = st.welch_anova(
        spark.createDataFrame(dg, "g string, v long"), "g", "v"
    ).collect()
    assert rd["k"] == 3


def test_poisson_two_rate_binomtest_case(spark):
    # equal exposures condition to Binomial(10, 1/2):
    # scipy.stats.binomtest(8, 10, 0.5).pvalue = 0.109375 exactly
    rows = [("a", i < 8) for i in range(100)] + [("b", i < 2) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, e boolean")
    [r] = st.poisson_two_rate(df, "g", "e", "a", "b", max_terms=64).collect()
    assert (r["x_a"], r["t_a"], r["x_b"], r["t_b"]) == (8, 100, 2, 100)
    assert r["rate_ratio_micro"] == 4_000_000
    assert r["p_two_micro"] == 109_375
    # symmetric data: p = 1 (clamped within truncation)
    sym = [("a", i < 5) for i in range(100)] + [("b", i < 5) for i in range(100)]
    [rs] = st.poisson_two_rate(
        spark.createDataFrame(sym, "g string, e boolean"), "g", "e", "a", "b",
        max_terms=64,
    ).collect()
    assert rs["p_two_micro"] >= 999_998
    # support above the cap -> NULL, never truncation
    [rg] = st.poisson_two_rate(df, "g", "e", "a", "b", max_terms=4).collect()
    assert rg["p_two_micro"] is None


def test_pot_tail_exponential_and_heavy(spark):
    import math
    import random

    random.seed(1)
    # exponential excesses (scale 100): xi ~ 0, beta ~ 100 (cents)
    vals = [int(1000 - 100 * math.log(random.random())) for _ in range(4000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    [r] = st.pot_tail(df, "v", 1000).collect()
    assert abs(r["xi_micro"]) < 100_000          # |xi| < 0.1
    assert 85_000_000 < r["beta_micro"] < 115_000_000
    # pareto-ish heavy tail (xi = 0.5): u^-2 inverse-CDF draws
    heavy = [int(1000 + 100 * (random.random() ** -0.5 - 1)) for _ in range(4000)]
    [rh] = st.pot_tail(
        spark.createDataFrame([(v,) for v in heavy], "v long"), "v", 1000
    ).collect()
    assert rh["xi_micro"] > 200_000              # clearly heavy
    # degenerate tail -> NULL fits
    [rd] = st.pot_tail(
        spark.createDataFrame([(v,) for v in (1, 2, 3)], "v long"), "v", 1000
    ).collect()
    assert rd["xi_micro"] is None and rd["n_exceed"] == 0


def test_benjamini_yekutieli_vs_bh_hand_case(spark):
    # same classic battery as the BH test: m=5, alpha=0.25
    # c(5) = 2.283333; BY rejects ranks 1..2 where BH rejects 1..4
    rows = [(1, 100_000), (2, 10_000), (3, 40_000), (4, 120_000), (5, 900_000)]
    df = spark.createDataFrame(rows, "hyp_id long, p_micro long")
    by = {
        r["hyp_id"]: r["reject"]
        for r in st.benjamini_yekutieli(df, alpha_micro=250_000).collect()
    }
    assert by == {2: True, 3: True, 1: False, 4: False, 5: False}
    bh = {
        r["hyp_id"]: r["reject"]
        for r in st.benjamini_hochberg(df, alpha_micro=250_000).collect()
    }
    # BY's rejection set is a subset of BH's on identical input
    assert all(bh[h] for h, rej in by.items() if rej)
    assert sum(by.values()) < sum(bh.values())
    with pytest.raises(ValueError):
        st.benjamini_yekutieli(df, alpha_micro=0)


def test_seasonal_mann_kendall_blocks_cycle(spark):
    # trend + period-4 cycle: within-season slopes all positive
    # each season: 6 strictly increasing points -> S_s = 15, S = 60
    # var18_s = 6*5*17 = 510 -> var18 = 2040; z = 59/sqrt(2040/18)
    rows = [(1, t, float(10 * (t % 4) + t)) for t in range(24)]
    df = spark.createDataFrame(rows, "p long, t long, v double")
    [r] = st.seasonal_mann_kendall(df, "p", "t", "v", period=4).collect()
    assert (r["n"], r["s_stat"], r["var18"], r["z_micro"]) == (
        24, 60, 2040, 5_542_084,
    )
    # a PURE cycle has zero within-season variance -> drops entirely
    pure = spark.createDataFrame(
        [(1, t, float(10 * (t % 4))) for t in range(24)],
        "p long, t long, v double",
    )
    assert st.seasonal_mann_kendall(pure, "p", "t", "v", period=4).collect() == []
    with pytest.raises(ValueError):
        st.seasonal_mann_kendall(df, "p", "t", "v", period=1)


def test_dunn_test_pairwise_hand_case(spark):
    # a=[1,2,3], b=[4,5,6], c=[7,8,9]: mean ranks 2, 5, 8
    # sigma2 = (9*10/12)*(2/3) = 5 -> adjacent pairs z = -3/sqrt(5)
    rows = (
        [("a", v) for v in (1, 2, 3)]
        + [("b", v) for v in (4, 5, 6)]
        + [("c", v) for v in (7, 8, 9)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        (r["g_i"], r["g_j"]): r["z_micro"]
        for r in st.dunn_test(df, "g", "v").collect()
    }
    assert out[("a", "b")] == out[("b", "c")] == -1_341_641
    assert out[("a", "c")] == -2_683_282
    assert len(out) == 3


def test_holm_vs_by_vs_bh_nesting(spark):
    # the classic battery: Holm (FWER) rejects {1,2}; BY {1,2}; BH {1..4}
    # thresholds alpha/(m-i+1): .05,.0625,.0833...: i=3 fails -> stop
    rows = [(1, 100_000), (2, 10_000), (3, 40_000), (4, 120_000), (5, 900_000)]
    df = spark.createDataFrame(rows, "hyp_id long, p_micro long")
    holm = {
        r["hyp_id"]: r["reject"]
        for r in st.holm_bonferroni(df, alpha_micro=250_000).collect()
    }
    assert holm == {2: True, 3: True, 1: False, 4: False, 5: False}
    bh = {
        r["hyp_id"]: r["reject"]
        for r in st.benjamini_hochberg(df, alpha_micro=250_000).collect()
    }
    # FWER control is never more permissive than FDR control
    assert all(bh[h] for h, rej in holm.items() if rej)
    # all-tiny battery: everything rejected (stop rank absent)
    tiny = spark.createDataFrame([(i, 10) for i in range(1, 5)],
                                 "hyp_id long, p_micro long")
    out = st.holm_bonferroni(tiny, alpha_micro=50_000).collect()
    assert all(r["reject"] for r in out)
    with pytest.raises(ValueError):
        st.holm_bonferroni(df, alpha_micro=1_000_000)


def test_icc_twoway_shrout_fleiss_canonical(spark):
    # Shrout & Fleiss 1979, Table 2: 6 targets x 4 judges,
    # ICC(2,1) = 0.28976... (the paper's canonical worked example)
    data = [
        (1, [9, 2, 5, 8]), (2, [6, 1, 3, 2]), (3, [8, 4, 6, 8]),
        (4, [7, 1, 2, 6]), (5, [10, 5, 6, 9]), (6, [6, 2, 4, 7]),
    ]
    rows = [(i, j, v) for i, vals in data for j, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "item_id long, rater long, rating long")
    [r] = st.icc_twoway(df).collect()
    assert (r["n_items"], r["k"], r["icc21_micro"]) == (6, 4, 289_763)


def test_dp_above_threshold_stop_and_budget_semantics(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    rows = [(g,) for g in range(1, 11) for _ in range(g)]
    df = spark.createDataFrame(rows, "g long")
    # huge epsilon: noise negligible -> releases are exactly the first
    # max_releases groups with count >= threshold, then the scan STOPS
    out = sorted(
        tuple(r) for r in pl.dp_above_threshold(
            df, "g", threshold=5, max_releases=2,
            epsilon_micro=50_000_000, seed=3,
        ).collect()
    )
    assert out == [
        (1, 1, False), (2, 2, False), (3, 3, False), (4, 4, False),
        (5, 5, True), (6, 6, True),
    ]
    # reproducible under the same seed; md5 family runs too
    out2 = sorted(
        tuple(r) for r in pl.dp_above_threshold(
            df, "g", threshold=5, max_releases=2,
            epsilon_micro=50_000_000, seed=3, hash_family="md5",
        ).collect()
    )
    assert [o[0] for o in out2] == [1, 2, 3, 4, 5, 6]
    with pytest.raises(ValueError):
        pl.dp_above_threshold(df, "g", threshold=5, max_releases=0)
    with pytest.raises(ValueError):
        pl.dp_above_threshold(df, "g", threshold=5, epsilon_micro=0)


def test_tagged_vocab_matches_two_frame_vocab(spark):
    # optimization r14: the single-tagged-scan vocabulary must be
    # bit-identical to the two-frame full-outer-join vocabulary,
    # including exact zeros for one-sided tokens and exclusion of
    # rows whose tag is pre-filtered (NULL lang in the gate queries).
    from pyspark.sql import functions as F

    from hdinsight_pyspark_cntk_integration_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "en", "alpha beta beta"),
            (2, "en", "alpha shared"),
            (3, "de", "gamma shared shared"),
            (4, "fr", "gamma delta"),
        ],
        "doc_id long, lang string, text string",
    )
    old = {
        r["token"]: (r["cnt_a"], r["cnt_b"])
        for r in tx._two_corpus_vocab(
            df.filter(F.col("lang") == "en"),
            df.filter(F.col("lang") != "en"),
            "text",
        ).collect()
    }
    new = {
        r["token"]: (r["cnt_a"], r["cnt_b"])
        for r in tx.two_corpus_vocab_tagged(
            df.filter(F.col("lang").isNotNull()), F.col("lang") == "en"
        ).collect()
    }
    assert len(old) > 0 and old == new
    # and the keyword statistics accept it as a drop-in
    via_vocab = tx.jsd_divergence(None, None, vocab=tx.two_corpus_vocab_tagged(
        df, F.col("lang") == "en")).collect()[0]
    direct = tx.jsd_divergence(
        df.filter(F.col("lang") == "en"),
        df.filter(F.col("lang") != "en"),
    ).collect()[0]
    assert via_vocab == direct
