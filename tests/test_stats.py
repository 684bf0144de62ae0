"""Two-sample nonparametric statistics (operators.stats): scipy-free
exactness checks against hand-computable cases plus the built-in
algebraic self-checks."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

# The operators built on the shared value-count table or pooled rank
# sums, each called on a (g string, v long) frame whose groups of
# interest are "a" and "b".
_REWRITTEN = {
    "mann_whitney_u": lambda df: st.mann_whitney_u(df, "g", "v", "a", "b"),
    "auc": lambda df: st.auc(
        df.select(F.col("v").alias("s"), (F.col("g") == "a").alias("y")), "s", "y"
    ),
    "ks_statistic": lambda df: st.ks_statistic(df, "g", "v", "a", "b"),
    "cliffs_delta": lambda df: st.cliffs_delta(df, "g", "v", "a", "b"),
    "wasserstein_1d": lambda df: st.wasserstein_1d(df, "g", "v", "a", "b"),
    "tv_distance": lambda df: st.tv_distance(df, "g", "v", "a", "b"),
    "hellinger_distance": lambda df: st.hellinger_distance(df, "g", "v", "a", "b"),
    "cvm_distance": lambda df: st.cvm_distance(df, "g", "v", "a", "b"),
    "ad_distance": lambda df: st.ad_distance(df, "g", "v", "a", "b"),
    "brunner_munzel": lambda df: st.brunner_munzel(df, "g", "v", "a", "b"),
    "kruskal_wallis": lambda df: st.kruskal_wallis(df, "g", "v"),
    "dunn_test": lambda df: st.dunn_test(df, "g", "v"),
}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_mann_whitney_u_known_case(spark):
    # classic textbook case: A = {1,2,3}, B = {4,5,6} -> U_A = 0, U_B = 9
    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [("b", v) for v in (4.0, 5.0, 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.mann_whitney_u(df, "g", "v", "a", "b").collect()
    assert (r["n_a"], r["n_b"], r["u_a"], r["u_b"]) == (3, 3, 0.0, 9.0)


def test_mann_whitney_u_ties_and_identity(spark):
    # ties across groups use average ranks; U_a + U_b == n_a * n_b always
    rows = [("a", v) for v in (1.0, 2.0, 2.0)] + [("b", v) for v in (2.0, 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.mann_whitney_u(df, "g", "v", "a", "b").collect()
    assert r["u_a"] + r["u_b"] == r["n_a"] * r["n_b"]
    # ranks: 1, then three 2.0s share (2+3+4)/3 = 3, then 5
    # R_a = 1 + 3 + 3 = 7 -> U_a = 7 - 3*4/2 = 1
    assert r["u_a"] == 1.0


@pytest.mark.parametrize("name", sorted(_REWRITTEN))
def test_mann_whitney_partition_invariance(spark, name):
    """Same rows whatever the physical plan: the input repartitioned 13
    ways, and 1 or 7 shuffle partitions with AQE off."""
    rng = np.random.default_rng(6)
    rows = (
        [("a", int(v)) for v in rng.integers(0, 50, 500)]
        + [("b", int(v)) for v in rng.integers(10, 60, 400)]
        + [("c", int(v)) for v in rng.integers(5, 30, 100)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    op = _REWRITTEN[name]
    base = _rows(op(df.repartition(13)))
    assert base
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            assert _rows(op(df)) == base, n
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# what each one-row two-group operator reports when a group is empty:
# counts read 0, a statistic whose denominator is 0 reads NULL
_EMPTY_GROUP_STATS = {
    "mann_whitney_u": {"u_a": 0.0, "u_b": 0.0},
    "ks_statistic": {"ks_d": None},
    "cliffs_delta": {"n_gt": 0, "n_lt": 0, "n_ties": 0, "delta_micro": None},
    "wasserstein_1d": {"w1_micro": None},
    "tv_distance": {"tv_micro": None},
    "hellinger_distance": {"h2_micro": None},
    "cvm_distance": {"cvm_micro": None},
    "ad_distance": {"ad_micro": None},
    "brunner_munzel": {"p_hat_micro": None, "w_micro": None, "df_micro": None},
}


@pytest.mark.parametrize("case", ["empty", "one_group_empty", "all_null"])
@pytest.mark.parametrize("name", sorted(_REWRITTEN))
def test_rank_ops_degenerate_input(spark, name, case):
    """Empty input, an empty group and all-NULL values give defined
    output, never an error."""
    rows = {
        "empty": [],
        "one_group_empty": [("a", v) for v in (1, 2, 2, 5, 7)],
        "all_null": [("a", None), ("b", None), ("b", None)],
    }[case]
    n_a = 5 if case == "one_group_empty" else 0
    out = _REWRITTEN[name](spark.createDataFrame(rows, "g string, v long")).collect()
    if name in ("auc", "dunn_test"):
        # fewer than two classes / groups: nothing to emit
        assert out == []
    elif name == "kruskal_wallis":
        [r] = out
        assert (r["n"], r["k"]) == (n_a, 1 if n_a else 0)
        assert r["h_micro"] == (0 if n_a else None)
    else:
        [r] = out
        assert (r["n_a"], r["n_b"]) == (n_a, 0)
        for col, want in _EMPTY_GROUP_STATS[name].items():
            assert r[col] == want, col


# spearman_corr ranks two columns: (v, w) and (w, v) put the NULL on
# either side of the pair
_NULL_DROP = {
    **_REWRITTEN,
    "spearman_corr_vw": lambda df: st.spearman_corr(df, "g", "v", "w"),
    "spearman_corr_wv": lambda df: st.spearman_corr(df, "g", "w", "v"),
}


@pytest.mark.parametrize("name", sorted(_NULL_DROP))
def test_rank_ops_drop_null_values(spark, name):
    """NULL values (and NULL groups) drop: adding them changes nothing."""
    rng = np.random.default_rng(21)
    v = [int(x) for x in rng.integers(0, 9, 40)] + [int(x) for x in rng.integers(3, 12, 30)]
    w = [int(x) for x in np.random.default_rng(22).integers(0, 9, 70)]
    rows = [("a" if i < 40 else "b", v[i], w[i]) for i in range(70)]
    nulls = (
        [("a", None, 5)] * 3 + [("b", None, 7)] * 2 + [(None, 4, 4), (None, None, None)]
    )
    schema = "g string, v long, w long"
    op = _NULL_DROP[name]
    clean = _rows(op(spark.createDataFrame(rows, schema)))
    assert _rows(op(spark.createDataFrame(rows + nulls, schema))) == clean


@pytest.mark.parametrize("partitioned", [False, True])
def test_doubled_midrank_matches_average_rank(spark, partitioned):
    """2 x the average rank of each value among its partition's rows,
    from a pure-Python sort of a heavily tied multiset."""
    rng = np.random.default_rng(11)
    keys, values = rng.integers(0, 3, 300), rng.integers(0, 12, 300)
    vals = [(int(k), int(v)) for k, v in zip(keys, values)]
    part = ("k",) if partitioned else ()
    vc = spark.createDataFrame(vals, "k long, v long").groupBy(*part, "v").count()
    r2 = st._doubled_midrank("count", "v", *part).alias("r2")
    got = {
        (r["k"] if partitioned else 0, r["v"]): r["r2"]
        for r in vc.select(*part, "v", r2).collect()
    }
    expected = {}
    for key in {k if partitioned else 0 for k, _ in vals}:
        xs = sorted(v for k, v in vals if not partitioned or k == key)
        for v in set(xs):
            pos = [i + 1 for i, x in enumerate(xs) if x == v]
            expected[(key, v)] = 2 * sum(pos) / len(pos)
    assert got == expected


# The agreement and trend operators built on the shared rating cells,
# margin totals or pair signs, each with the columns it reads from one
# (a, b, v, w) long frame: a is the item or partition, b the rater,
# judge or seq, v the label, value or rank, w an outcome bit or a
# second value.
_AGREEMENT_TREND = {
    "krippendorff_alpha": (st.krippendorff_alpha, "a", "b", "v"),
    "krippendorff_ordinal": (st.krippendorff_ordinal, "a", "b", "v"),
    "krippendorff_interval": (st.krippendorff_interval, "a", "b", "v"),
    "gwet_ac1": (st.gwet_ac1, "a", "b", "v"),
    "fleiss_kappa": (st.fleiss_kappa, "a", "v"),
    "icc_oneway": (st.icc_oneway, "a", "v"),
    "icc_twoway": (st.icc_twoway, "a", "b", "v"),
    "cronbach_alpha": (st.cronbach_alpha, "a", "b", "v"),
    "cochran_q": (st.cochran_q, "a", "b", "w"),
    "kendall_w": (st.kendall_w, "b", "a", "v"),
    "kendall_tau": (st.kendall_tau, "a", "b", "v", "w"),
    "mann_kendall": (st.mann_kendall, "a", "b", "v"),
    "seasonal_mann_kendall": (
        lambda df, p, t, v: st.seasonal_mann_kendall(df, p, t, v, period=3),
        "a", "b", "v",
    ),
}
_ABVW = "a long, b long, v long, w long"


def _family_rows(frame_of) -> dict:
    """Every operator's rows on ``frame_of(cols)``, the frame for the
    columns it reads."""
    return {
        name: sorted(op(frame_of(cols), *cols).collect(), key=repr)
        for name, (op, *cols) in _AGREEMENT_TREND.items()
    }


@pytest.fixture(scope="module")
def plan_variant_rows(spark):
    """Each operator's rows on 8 items (or partitions) x 6 raters (or
    points), labels 0..3 leaning to the item's own level, plus NULL
    rows: first repartitioned 13 ways, then with 1 or 7 shuffle
    partitions and AQE off; and, last, on the same frame without the
    rows NULL in a column the operator reads."""
    rng = np.random.default_rng(14)
    rows = [
        (a, b, int(a % 4 if rng.random() < 0.6 else rng.integers(0, 4)),
         int(rng.integers(0, 2)))
        for a in range(8) for b in range(6)
    ]
    nulls = [
        (None, 0, 1, 1), (1, None, 2, 0), (2, 6, None, 1), (3, 7, 1, None),
        (None, None, None, None),
    ]
    df = spark.createDataFrame(rows + nulls, _ABVW)
    runs = [_family_rows(lambda cols: df.repartition(13))]
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            runs.append(_family_rows(lambda cols: df))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return runs + [_family_rows(lambda cols: df.dropna(subset=cols))]


@pytest.mark.parametrize("name", sorted(_AGREEMENT_TREND))
def test_agreement_trend_partition_invariance(plan_variant_rows, name):
    """Same rows whatever the physical plan."""
    base, aqe_off_1, aqe_off_7, _ = (run[name] for run in plan_variant_rows)
    assert base
    assert aqe_off_1 == base and aqe_off_7 == base


@pytest.mark.parametrize("name", sorted(_AGREEMENT_TREND))
def test_agreement_trend_drop_null_rows(plan_variant_rows, name):
    """A row with a NULL in any column the operator reads drops: the
    frame with NULL rows gives the rows of the same frame filtered."""
    with_nulls, *_, filtered = (run[name] for run in plan_variant_rows)
    assert with_nulls == filtered


_DEGENERATE = {
    "empty": [],
    # one item with one rating; one point
    "one": [(0, 0, 1, 1)],
    # every rating in one category; every v series constant, w varies
    "constant": [(a, b, 2, b % 2) for a in range(3) for b in range(3)],
    # every item's raters agree, and every judge ranks the items 1..4
    "unanimous": [(a, b, a + 1, 1) for a in range(4) for b in range(3)],
}
# the statistics each one-row operator reports on the cases above, NULL
# where not listed; the per-partition operators (kendall_tau and the
# Mann-Kendall pair) drop every partition of every case: each has fewer
# than 2 points or a tied axis
_PERFECT = {"unanimous": (1_000_000,)}
_DEGENERATE_STAT = {
    "krippendorff_alpha": (("alpha_micro",), _PERFECT),
    "krippendorff_ordinal": (
        ("alpha_micro", "disagreement_micro"), {"unanimous": (1_000_000, 0)}
    ),
    "krippendorff_interval": (
        ("alpha_micro", "disagreement_micro"), {"unanimous": (1_000_000, 0)}
    ),
    "gwet_ac1": (("ac1_micro",), _PERFECT),
    "fleiss_kappa": (("kappa_micro",), _PERFECT),
    "icc_oneway": (("icc_micro",), _PERFECT),
    "icc_twoway": (("icc21_micro",), _PERFECT),
    "cronbach_alpha": (("alpha_micro",), _PERFECT),
    # constant: R_i = 1, G = (0, 3, 0) -> Q = 2 * (3 * 9 - 9) / (9 - 3)
    "cochran_q": (("q_micro",), {"constant": (6_000_000,)}),
    # constant: every rank sum equals m(n+1)/2 -> W = 0
    "kendall_w": (("w_micro",), {"constant": (0,), "unanimous": (1_000_000,)}),
}


@pytest.fixture(scope="module")
def degenerate_rows(spark):
    return {
        case: _family_rows(lambda cols, rows=rows: spark.createDataFrame(rows, _ABVW))
        for case, rows in _DEGENERATE.items()
    }


@pytest.mark.parametrize("case", sorted(_DEGENERATE))
@pytest.mark.parametrize("name", sorted(_AGREEMENT_TREND))
def test_agreement_trend_degenerate_input(degenerate_rows, name, case):
    """Empty input, one rating or point, one category or a constant
    series, and unanimous raters give defined rows, never an error."""
    out = degenerate_rows[case][name]
    if name not in _DEGENERATE_STAT:
        assert out == []
        return
    cols, want = _DEGENERATE_STAT[name]
    [r] = out
    assert tuple(r[c] for c in cols) == want.get(case, (None,) * len(cols))


def test_ks_statistic_disjoint_and_identical(spark):
    disjoint = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 11.0)], "g string, v double"
    )
    [r] = st.ks_statistic(disjoint, "g", "v", "a", "b").collect()
    assert r["ks_d"] == 1.0
    same = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)], "g string, v double"
    )
    [r2] = st.ks_statistic(same, "g", "v", "a", "b").collect()
    assert r2["ks_d"] == 0.0


def test_spearman_matches_scipy_free_reference(spark):
    """Perfect monotone -> 1; perfect inverse -> -1; pandas parity on a
    tied random case (pandas' spearman uses the same average-rank
    definition)."""
    import numpy as np
    import pandas as pd

    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    mono = spark.createDataFrame(
        [("g", float(i), float(i * i)) for i in range(1, 30)],
        "k string, x double, y double",
    )
    [r] = st.spearman_corr(mono, "k", "x", "y").collect()
    assert abs(r["spearman"] - 1.0) < 1e-12
    inv = spark.createDataFrame(
        [("g", float(i), float(-i)) for i in range(1, 30)],
        "k string, x double, y double",
    )
    [r2] = st.spearman_corr(inv, "k", "x", "y").collect()
    assert abs(r2["spearman"] + 1.0) < 1e-12

    rng = np.random.default_rng(8)
    xs = rng.integers(0, 15, 400).astype(float)  # heavy ties
    ys = xs * 2 + rng.integers(0, 10, 400).astype(float)
    df = spark.createDataFrame(
        [("g", float(a), float(b)) for a, b in zip(xs, ys)],
        "k string, x double, y double",
    ).repartition(9)
    [r3] = st.spearman_corr(df, "k", "x", "y").collect()
    # scipy-free reference: Pearson on average ranks IS Spearman
    rx = pd.Series(xs).rank(method="average")
    ry = pd.Series(ys).rank(method="average")
    expected = rx.corr(ry)
    assert abs(r3["spearman"] - expected) < 1e-9


def test_cusum_changepoint_locates_planted_shift(spark):
    import datetime as _dt

    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    base = _dt.datetime(2024, 5, 1)
    # level 10.0 for 30 steps, then 20.0 for 30 steps: |cusum| peaks at
    # the last pre-shift row (median splits the two levels)
    rows = [
        (1, i, base + _dt.timedelta(minutes=i), 10.0 if i < 30 else 20.0)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    [r] = st.cusum_changepoint(
        df, "user_id", ["ts", "event_id"], "value", "event_id"
    ).collect()
    assert r["changepoint_id"] == 29
    assert r["cusum"] < 0  # below-median run accumulates negative


def test_mad_outliers_robust_to_extreme_value(spark):
    """The property z-scores lack: ONE extreme value inflates stddev
    (shrinking everyone's z) but barely moves the median/MAD, so the
    spike is still flagged and nothing else is; constant groups and
    MAD=0 groups emit nothing."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    rows = (
        [("g", float(v)) for v in (10, 11, 12, 13, 14, 15, 16, 17, 18, 19)]
        + [("g", 1_000_000.0)]           # the spike
        + [("const", 5.0)] * 20          # MAD = 0: emit nothing
    )
    df = spark.createDataFrame(rows, "grp string, v double")
    got = st.mad_outliers(df, "grp", "v", k=3.0).collect()
    assert [r["v"] for r in got] == [1_000_000.0]
    assert got[0]["grp"] == "g"
    assert got[0]["robust_score"] > 1000
    # partition invariance
    got7 = st.mad_outliers(df.repartition(7), "grp", "v", k=3.0).collect()
    assert [r["v"] for r in got7] == [1_000_000.0]


# --- mutual_information --------------------------------------------------


def test_mutual_information_independent_is_zero(spark):
    # cell counts exactly proportional to the marginals -> ratio 1,
    # ln = 0, pmi_micro = 0 in every cell
    rows = (
        [("a", "c")] * 4 + [("a", "d")] * 4 + [("b", "c")] * 2 + [("b", "d")] * 2
    )
    df = spark.createDataFrame(rows, "x string, y string")
    got = st.mutual_information(df, "x", "y").collect()
    assert len(got) == 4
    assert all(r["pmi_micro"] == 0 for r in got)
    assert all(r["n"] == 12 for r in got)


def test_mutual_information_dependent_and_nulls(spark):
    import math

    # perfectly dependent: P(a,c)=P(b,d)=1/2 -> pmi = ln 2 each;
    # NULL-carrying rows are excluded entirely
    rows = [("a", "c")] * 5 + [("b", "d")] * 5 + [(None, "c"), ("a", None)]
    df = spark.createDataFrame(rows, "x string, y string")
    got = {(r["x"], r["y"]): r for r in st.mutual_information(df, "x", "y").collect()}
    assert set(got) == {("a", "c"), ("b", "d")}
    expect = math.floor(math.log((5 / 5) * (10 / 5)) * 1_000_000)
    for r in got.values():
        assert r["pmi_micro"] == expect
        assert r["n"] == 10


# --- theil_sen -----------------------------------------------------------


def test_theil_sen_ignores_outlier(spark):
    # 4 collinear points (slope 1) + one wild outlier: the median of the
    # 10 pairwise slopes is still 1 and the intercept median is still 0
    pts = [(0, 0), (1, 1), (2, 2), (3, 3), (10, -10_000)]
    df = spark.createDataFrame([("g", x, y) for x, y in pts], "g string, x long, y long")
    [r] = st.theil_sen(df, "g", "x", "y").collect()
    assert r["n_points"] == 5 and r["n_pairs"] == 10
    assert r["slope"] == 1.0
    assert r["intercept"] == 0.0


def test_theil_sen_even_median_interpolates(spark):
    # 4 points -> 6 slopes; median = mean of the two middles
    pts = [(0, 0), (1, 2), (2, 2), (3, 9)]
    df = spark.createDataFrame([("g", x, y) for x, y in pts], "g string, x long, y long")
    slopes = sorted(
        (y2 - y1) / (x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1 :]
    )
    want = (slopes[2] + slopes[3]) / 2
    [r] = st.theil_sen(df, "g", "x", "y").collect()
    assert r["slope"] == want


def test_theil_sen_rejects_oversized_group(spark):
    import pytest

    df = spark.createDataFrame(
        [("g", i, i) for i in range(300)], "g string, x long, y long"
    )
    with pytest.raises(Exception, match="theil_sen"):
        st.theil_sen(df, "g", "x", "y", max_points=256).collect()


# --- robust_scaler -------------------------------------------------------


def test_robust_scaler_hand_case(spark):
    # values 0..8: med=4, p25=2, p75=6, iqr=4
    rows = [("g", float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["v"]: r for r in st.robust_scaler(df, "g", "v").collect()}
    assert got[0.0]["med"] == 4.0 and got[0.0]["iqr"] == 4.0
    assert got[0.0]["robust_scaled"] == -1.0
    assert got[8.0]["robust_scaled"] == 1.0
    assert got[4.0]["robust_scaled"] == 0.0


def test_robust_scaler_outlier_immune_and_degenerate_dropped(spark):
    rows = [("a", float(v)) for v in (0, 1, 2, 3, 4, 10_000)]
    rows += [("b", 5.0)] * 4  # degenerate: IQR = 0 -> dropped
    df = spark.createDataFrame(rows, "g string, v double")
    got = st.robust_scaler(df, "g", "v").collect()
    assert {r["g"] for r in got} == {"a"}
    # the wild point inflates a stddev ~40x but the IQR barely moves:
    # in-range points stay at O(1) scaled magnitude
    in_range = [r for r in got if r["v"] <= 4]
    assert all(abs(r["robust_scaled"]) < 2 for r in in_range)


# --- burstiness ----------------------------------------------------------


def test_burstiness_metronome_poisson_burst(spark):
    import math
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1)
    rows = []
    # metronome: equal gaps -> sigma 0 -> B = -1
    for i in range(5):
        rows.append((1, base + timedelta(seconds=10 * i)))
    # bursty: 4 events in 1s then a week of silence then 4 more
    for i in range(4):
        rows.append((2, base + timedelta(milliseconds=250 * i)))
        rows.append((2, base + timedelta(days=7, milliseconds=250 * i)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r["user_id"]: r for r in st.burstiness(df, "user_id", "ts").collect()}
    assert got[1]["burstiness_micro"] == -1_000_000
    assert got[1]["mean_gap_us"] == 10_000_000
    # clearly on the bursty side of 0 (exact value pinned below: with 7
    # gaps — six 250 ms, one ~7 days — B works out to ≈0.42)
    assert got[2]["burstiness_micro"] > 300_000
    # replicate user 2 exactly in python
    ts = sorted(
        int((t - base).total_seconds() * 1e6) for (u, t) in rows if u == 2
    )
    gaps = [b - a for a, b in zip(ts, ts[1:])]
    n = len(gaps)
    mu = sum(gaps) / n
    var = (n * sum(g * g for g in gaps) - sum(gaps) ** 2) / (n * n)
    b = (math.sqrt(var) - mu) / (math.sqrt(var) + mu)
    assert got[2]["burstiness_micro"] == math.floor(b * 1e6)


def test_burstiness_min_gaps_filter(spark):
    from datetime import datetime

    rows = [(1, datetime(2026, 1, 1)), (1, datetime(2026, 1, 2))]  # 1 gap
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    assert st.burstiness(df, "user_id", "ts").count() == 0


# --- autocorrelation / seasonal_decompose --------------------------------


def test_autocorrelation_matches_numpy(spark):
    import math

    import numpy as np

    rng = np.random.default_rng(11)
    xs = rng.integers(100, 10_000, size=37).tolist()
    df = spark.createDataFrame(
        [("k", i, int(v)) for i, v in enumerate(xs)], "k string, t int, v long"
    )
    got = {
        r["lag"]: r
        for r in st.autocorrelation(df, "k", "t", "v", max_lag=5).collect()
    }
    x = np.array(xs, dtype=float)
    xb = x.mean()
    den = ((x - xb) ** 2).sum()
    for l in range(1, 6):
        # exact integer replication of the operator's scaled formula
        n = len(xs)
        S = sum(xs)
        Q = sum(v * v for v in xs)
        P = sum(xs[i] * xs[i - l] for i in range(l, n))
        T = sum(xs[l:])
        H = sum(xs[: n - l])
        m = n - l
        num = n * n * P - n * S * (T + H) + m * S * S
        dens = n * (n * Q - S * S)
        assert got[l]["acf_micro"] == math.floor(num / dens * 1e6)
        assert (got[l]["n"], got[l]["n_used"]) == (n, m)
        # and the scaled formula IS the textbook ACF (float check)
        ref = ((x[l:] - xb) * (x[:-l] - xb)).sum() / den
        assert abs(num / dens - ref) < 1e-9


def test_autocorrelation_lag1_of_alternation_is_negative(spark):
    rows = [("k", i, 100 if i % 2 else 200) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, t int, v long")
    got = {r["lag"]: r["acf_micro"] for r in
           st.autocorrelation(df, "k", "t", "v", max_lag=2).collect()}
    assert got[1] < -800_000  # strong anti-correlation at lag 1
    assert got[2] > 800_000   # strong correlation at lag 2


def test_autocorrelation_constant_series_dropped(spark):
    df = spark.createDataFrame(
        [("k", i, 7) for i in range(10)], "k string, t int, v long"
    )
    assert st.autocorrelation(df, "k", "t", "v", max_lag=3).count() == 0


def test_autocorrelation_rejects_bad_lag(spark):
    import pytest

    df = spark.createDataFrame([("k", 1, 1)], "k string, t int, v long")
    with pytest.raises(ValueError):
        st.autocorrelation(df, "k", "t", "v", max_lag=0)


def test_seasonal_decompose_matches_python(spark):
    import collections
    import math

    vals = [100 + 50 * ((i % 4) == 1) - 30 * ((i % 4) == 3) + 3 * i for i in range(23)]
    df = spark.createDataFrame(
        [("k", i, int(v)) for i, v in enumerate(vals)], "k string, t int, v long"
    )
    got = {
        r["season"]: (r["n_obs"], r["sum_d2m"], r["seasonal_micro"])
        for r in st.seasonal_decompose(df, "k", "t", "v", period=4).collect()
    }
    acc = collections.defaultdict(list)
    for i in range(len(vals)):
        if i - 2 >= 0 and i + 2 < len(vals):  # both frames full
            s1 = sum(vals[i - 2 : i + 2])
            s2 = sum(vals[i - 1 : i + 3])
            acc[i % 4].append(8 * vals[i] - (s1 + s2))
    want = {
        s: (len(d), sum(d), math.floor(sum(d) / (8 * len(d)) * 1e6))
        for s, d in acc.items()
    }
    assert got == want
    # seasonal signal recovered: slot 1 strongly positive, slot 3 negative
    assert got[1][2] > 30_000_000 and got[3][2] < -20_000_000


def test_seasonal_decompose_excludes_partial_windows(spark):
    # 12 points, period 12: no row has a full centered 2x12 window
    df = spark.createDataFrame(
        [("k", i, 100 + i) for i in range(12)], "k string, t int, v long"
    )
    assert st.seasonal_decompose(df, "k", "t", "v", period=12).count() == 0


def test_seasonal_decompose_rejects_odd_period(spark):
    import pytest

    df = spark.createDataFrame([("k", 1, 1)], "k string, t int, v long")
    with pytest.raises(ValueError):
        st.seasonal_decompose(df, "k", "t", "v", period=5)
    with pytest.raises(ValueError):
        st.seasonal_decompose(df, "k", "t", "v", period=0)


# --- holt_linear ---------------------------------------------------------


def test_holt_linear_matches_python_fold(spark):
    import math

    import numpy as np

    rng = np.random.default_rng(3)
    xs = rng.integers(100, 10_000, size=30).tolist()
    df = spark.createDataFrame(
        [("k", i, int(v)) for i, v in enumerate(xs)], "k string, t int, v long"
    )
    alpha, beta = 0.5, 0.2
    [r] = st.holt_linear(df, "k", "t", "v", alpha=alpha, beta=beta).collect()
    l, b = float(xs[1]), float(xs[1]) - float(xs[0])
    for x in map(float, xs[2:]):
        l_new = alpha * x + (1.0 - alpha) * (l + b)
        b = beta * (l_new - l) + (1.0 - beta) * b
        l = l_new
    assert r["n"] == 30
    assert r["level_micro"] == math.floor(l * 1e6)
    assert r["trend_micro"] == math.floor(b * 1e6)
    assert r["forecast_micro"] == math.floor((l + b) * 1e6)


def test_holt_linear_tracks_a_pure_trend(spark):
    # x_t = 100 + 10t: Holt converges onto level = x_n, trend = 10
    rows = [("k", i, 100 + 10 * i) for i in range(40)]
    df = spark.createDataFrame(rows, "k string, t int, v long")
    [r] = st.holt_linear(df, "k", "t", "v").collect()
    assert abs(r["trend_micro"] - 10_000_000) < 20_000
    assert abs(r["forecast_micro"] - (100 + 10 * 40) * 1_000_000) < 200_000


def test_holt_linear_drops_singletons_and_validates(spark):
    import pytest

    df = spark.createDataFrame([("k", 1, 5)], "k string, t int, v long")
    assert st.holt_linear(df, "k", "t", "v").count() == 0
    with pytest.raises(ValueError):
        st.holt_linear(df, "k", "t", "v", alpha=0.0)
    with pytest.raises(ValueError):
        st.holt_linear(df, "k", "t", "v", beta=1.5)


# --- welch_ttest ---------------------------------------------------------


def test_welch_ttest_matches_python(spark):
    import math

    import numpy as np

    rng = np.random.default_rng(5)
    rows = [("a", round(float(v), 2)) for v in rng.normal(100, 10, 40)] + [
        ("b", round(float(v), 2)) for v in rng.normal(105, 20, 35)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.welch_ttest(df, "g", "v", "a", "b").collect()
    ca = [round(v * 100) for g, v in rows if g == "a"]
    cb = [round(v * 100) for g, v in rows if g == "b"]
    na, nb = len(ca), len(cb)
    sa, sb = sum(ca), sum(cb)
    qa, qb = sum(c * c for c in ca), sum(c * c for c in cb)
    ma, mb = sa / na, sb / nb
    va = (qa - sa * sa / na) / (na - 1)
    vb = (qb - sb * sb / nb) / (nb - 1)
    sea, seb = va / na, vb / nb
    t = (ma - mb) / math.sqrt(sea + seb)
    dof = (sea + seb) ** 2 / (sea * sea / (na - 1) + seb * seb / (nb - 1))
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["t_micro"] == math.floor(t * 1e6)
    assert r["df_micro"] == math.floor(dof * 1e6)
    assert r["mean_a_micro"] == math.floor(ma * 1e4)
    # Welch df is bounded by min(na,nb)-1 below and na+nb-2 above
    assert (min(na, nb) - 1) * 1_000_000 <= r["df_micro"] <= (na + nb - 2) * 1_000_000


def test_welch_ttest_identical_groups_t_zero(spark):
    rows = [("a", 10.0), ("a", 20.0), ("b", 10.0), ("b", 20.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.welch_ttest(df, "g", "v", "a", "b").collect()
    assert r["t_micro"] == 0
    assert r["df_micro"] == 2_000_000  # equal n, equal var -> df = n_a+n_b-2


def test_welch_ttest_needs_two_per_group(spark):
    rows = [("a", 10.0), ("b", 10.0), ("b", 20.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    assert st.welch_ttest(df, "g", "v", "a", "b").count() == 0


# --- anova_f --------------------------------------------------------------


def _anova_python(groups):
    """Replicate the pico-quantized decomposition exactly."""
    import math

    cents = {g: [round(v * 100) for v in vs] for g, vs in groups.items()}
    n = sum(len(v) for v in cents.values())
    s = sum(sum(v) for v in cents.values())
    q = sum(c * c for v in cents.values() for c in v)
    k = len(cents)
    a = sum(
        math.floor(sum(v) * sum(v) / (len(v) * q) * 1e12)
        for v in cents.values()
    )
    b2 = math.floor(s * s / (n * q) * 1e12)
    ssb, ssw, sst = a - b2, 1e12 - a, 1e12 - b2
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return {
        "n_groups": k, "n_rows": n, "ssb_pico": a - b2,
        "f_micro": math.floor(f * 1e6),
        "eta2_micro": math.floor(ssb / sst * 1e6),
    }


def test_anova_f_matches_python(spark):
    groups = {
        "a": [1.0, 2.0, 3.0, 2.5],
        "b": [4.0, 5.0, 6.0],
        "c": [1.5, 1.8, 2.2, 2.0, 1.9],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.anova_f(df, "g", "v").collect()
    assert r.asDict() == _anova_python(groups)


def test_anova_f_identical_groups_f_zero(spark):
    rows = [("a", 5.0), ("a", 7.0), ("b", 5.0), ("b", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.anova_f(df, "g", "v").collect()
    assert r["ssb_pico"] == 0 and r["f_micro"] == 0


def test_anova_f_degenerate_cases_empty(spark):
    one_group = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    assert st.anova_f(one_group, "g", "v").count() == 0
    all_zero = spark.createDataFrame(
        [("a", 0.0), ("b", 0.0)], "g string, v double"
    )
    assert st.anova_f(all_zero, "g", "v").count() == 0


# --- kendall_tau ----------------------------------------------------------


def _tau_python(pts):
    import math

    c = d = tx = ty = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            sx = (pts[j][0] > pts[i][0]) - (pts[j][0] < pts[i][0])
            sy = (pts[j][1] > pts[i][1]) - (pts[j][1] < pts[i][1])
            if sx * sy == 1:
                c += 1
            elif sx * sy == -1:
                d += 1
            elif sx == 0 and sy != 0:
                tx += 1
            elif sy == 0 and sx != 0:
                ty += 1
    den = math.sqrt((c + d + tx) * (c + d + ty))
    return c, d, tx, ty, math.floor((c - d) / den * 1e6)


def test_kendall_tau_matches_python_with_ties(spark):
    pts = [(1.0, 2.0), (2.0, 1.0), (2.0, 3.0), (3.0, 3.0), (4.0, 5.0)]
    rows = [("p", i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "p string, i long, x double, y double")
    [r] = st.kendall_tau(df, "p", "i", "x", "y").collect()
    c, d, tx, ty, tau = _tau_python(pts)
    assert (
        r["concordant"], r["discordant"], r["ties_x"], r["ties_y"],
        r["tau_micro"],
    ) == (c, d, tx, ty, tau)
    assert r["n"] == 5


def test_kendall_tau_perfect_and_reversed(spark):
    up = [("u", i, float(i), float(i * 2)) for i in range(6)]
    dn = [("d", i, float(i), float(-3 * i)) for i in range(6)]
    df = spark.createDataFrame(
        up + dn, "p string, i long, x double, y double"
    )
    got = {r["p"]: r["tau_micro"] for r in
           st.kendall_tau(df, "p", "i", "x", "y").collect()}
    assert got == {"u": 1_000_000, "d": -1_000_000}


# --- rolling_corr ---------------------------------------------------------


def test_rolling_corr_matches_python(spark):
    import math

    xs = [1.0, 2.0, 4.0, 3.0, 5.0, 7.0, 6.0]
    ys = [2.0, 1.0, 5.0, 4.0, 4.0, 8.0, 9.0]
    rows = [("p", i, xs[i], ys[i]) for i in range(len(xs))]
    df = spark.createDataFrame(rows, "p string, t long, x double, y double")
    w = 4
    got = {r["t"]: r["corr_micro"] for r in
           st.rolling_corr(df, "p", "t", "x", "y", window=w).collect()}
    want = {}
    cx = [round(v * 100) for v in xs]
    cy = [round(v * 100) for v in ys]
    for t in range(w - 1, len(xs)):
        wx, wy = cx[t - w + 1 : t + 1], cy[t - w + 1 : t + 1]
        sx, sy = sum(wx), sum(wy)
        sxx = sum(v * v for v in wx)
        syy = sum(v * v for v in wy)
        sxy = sum(a * b for a, b in zip(wx, wy))
        vx, vy = w * sxx - sx * sx, w * syy - sy * sy
        r = (w * sxy - sx * sy) / math.sqrt(float(vx) * float(vy))
        want[t] = math.floor(r * 1e6)
    assert got == want


def test_rolling_corr_constant_window_drops_and_validates(spark):
    rows = [("p", i, 1.0, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "p string, t long, x double, y double")
    assert st.rolling_corr(df, "p", "t", "x", "y", window=3).count() == 0
    with pytest.raises(ValueError):
        st.rolling_corr(df, "p", "t", "x", "y", window=1)


def test_rolling_corr_partial_windows_not_emitted(spark):
    rows = [("p", i, float(i), float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "p string, t long, x double, y double")
    got = st.rolling_corr(df, "p", "t", "x", "y", window=3).collect()
    assert len(got) == 1 and got[0]["t"] == 2 and got[0]["corr_micro"] == 1_000_000


# --- kaplan_meier ---------------------------------------------------------


def _km_python(subjects):
    """Replicate the micro-nat product discipline exactly."""
    import math
    from collections import defaultdict

    per_t = defaultdict(lambda: [0, 0])
    for t, e in subjects:
        per_t[t][0 if e else 1] += 1
    total = len(subjects)
    out, cum, left = {}, 0, 0
    for t in sorted(per_t):
        d, c = per_t[t]
        n = total - left
        lf = (
            math.floor(math.log(1.0 - d / n) * 1e6)
            if d < n else -1_000_000_000_000
        )
        cum += lf
        out[t] = (n, d, c, math.floor(math.exp(cum / 1e6) * 1e6))
        left += d + c
    return out


def test_kaplan_meier_matches_python(spark):
    subjects = [
        (1, True), (2, True), (2, False), (3, True), (4, False),
        (5, True), (5, True), (6, False),
    ]
    rows = [("g", t, e) for t, e in subjects]
    df = spark.createDataFrame(rows, "g string, dur long, ev boolean")
    got = {r["t"]: (r["n_risk"], r["n_events"], r["n_censored"],
                    r["surv_micro"])
           for r in st.kaplan_meier(df, "g", "dur", "ev").collect()}
    assert got == _km_python(subjects)


def test_kaplan_meier_censoring_keeps_at_risk_semantics(spark):
    # all censored: survival stays 1.0 at every observed time
    rows = [("g", t, False) for t in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, dur long, ev boolean")
    got = st.kaplan_meier(df, "g", "dur", "ev").collect()
    assert all(r["surv_micro"] == 1_000_000 for r in got)


def test_kaplan_meier_everyone_dies_hits_zero(spark):
    rows = [("g", 1, True), ("g", 2, True)]
    df = spark.createDataFrame(rows, "g string, dur long, ev boolean")
    got = {r["t"]: r["surv_micro"]
           for r in st.kaplan_meier(df, "g", "dur", "ev").collect()}
    # floor quantization of ln(0.5) loses one micro: 499_999, not 500_000
    assert got[1] == 499_999 and got[2] == 0


# --- grouped_ols ----------------------------------------------------------


def test_grouped_ols_matches_python(spark):
    import math

    groups = {
        "a": [(1.0, 2.1), (2.0, 3.9), (3.0, 6.2), (4.0, 7.8)],
        "b": [(0.0, 5.0), (10.0, 5.0), (20.0, 6.0)],
    }
    rows = [(g, x, y) for g, pts in groups.items() for x, y in pts]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: (r["n"], r["slope_micro"], r["intercept_micro"],
                    r["r2_micro"])
           for r in st.grouped_ols(df, "g", "x", "y").collect()}
    want = {}
    for g, pts in groups.items():
        cs = [(round(x * 100), round(y * 100)) for x, y in pts]
        n = len(cs)
        sx, sy = sum(c[0] for c in cs), sum(c[1] for c in cs)
        sxy = sum(a * b for a, b in cs)
        sxx = sum(a * a for a, _ in cs)
        syy = sum(b * b for _, b in cs)
        vx, vy, cov = n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy
        if n < 2 or vx <= 0 or vy <= 0:
            continue
        slope = cov / vx
        want[g] = (
            n,
            math.floor(slope * 1e6),
            math.floor((sy - slope * sx) / n * 1e4),
            math.floor(cov * cov / (vx * vy) * 1e6),
        )
    assert got == want


def test_grouped_ols_perfect_line_and_degenerates(spark):
    rows = (
        [("lin", float(i), float(3 * i + 7)) for i in range(5)]
        + [("constx", 1.0, float(i)) for i in range(4)]   # zero x-var
        + [("consty", float(i), 5.0) for i in range(4)]   # zero y-var
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in st.grouped_ols(df, "g", "x", "y").collect()}
    assert set(got) == {"lin"}
    assert got["lin"]["slope_micro"] == 3_000_000
    # intercept is in CENT units: 7 dollars = 700 cents -> 700·1e4
    assert got["lin"]["intercept_micro"] == 7_000_000
    assert got["lin"]["r2_micro"] == 1_000_000


# --- mann_kendall ---------------------------------------------------------


def test_mann_kendall_matches_python(spark):
    import math

    series = {
        "up": [1.0, 2.0, 2.0, 3.0, 5.0, 4.0],
        "down": [9.0, 7.0, 7.0, 5.0, 1.0],
        "flat": [4.0, 4.0, 4.0],
    }
    rows = [(p, i, v) for p, vs in series.items() for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "p string, i long, v double")
    got = {r["p"]: (r["n"], r["s_stat"], r["var18"], r["z_micro"])
           for r in st.mann_kendall(df, "p", "i", "v").collect()}
    want = {}
    for p, vs in series.items():
        cs = [round(v * 100) for v in vs]
        n = len(cs)
        s = sum(
            (cs[j] > cs[i]) - (cs[j] < cs[i])
            for i in range(n) for j in range(i + 1, n)
        )
        from collections import Counter

        ties = sum(t * (t - 1) * (2 * t + 5)
                   for t in Counter(cs).values() if t > 1)
        var18 = n * (n - 1) * (2 * n + 5) - ties
        if n < 2 or var18 <= 0:
            continue
        var = var18 / 18.0
        z = ((s - 1.0) / math.sqrt(var) if s > 0
             else (s + 1.0) / math.sqrt(var) if s < 0 else 0.0)
        want[p] = (n, s, var18, math.floor(z * 1e6))
    assert got == want
    assert "flat" not in got           # all tied -> Var = 0 -> dropped
    assert got["up"][1] > 0 and got["down"][1] < 0


# --- auc ------------------------------------------------------------------


def test_auc_matches_python_with_ties(spark):
    import math

    rows = [
        (0.9, True), (0.8, True), (0.8, False), (0.5, True),
        (0.5, False), (0.5, False), (0.2, False), (0.1, False),
    ]
    df = spark.createDataFrame(rows, "s double, y boolean")
    [r] = st.auc(df, "s", "y").collect()
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    wins = sum(
        1.0 if p > q else 0.5 if p == q else 0.0 for p in pos for q in neg
    )
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    assert r["auc_micro"] == math.floor(wins / (len(pos) * len(neg)) * 1e6)


def test_auc_perfect_and_degenerate(spark):
    perfect = spark.createDataFrame(
        [(0.9, True), (0.8, True), (0.2, False), (0.1, False)],
        "s double, y boolean",
    )
    [r] = st.auc(perfect, "s", "y").collect()
    assert r["auc_micro"] == 1_000_000
    onesided = spark.createDataFrame([(0.5, True)], "s double, y boolean")
    assert st.auc(onesided, "s", "y").count() == 0


# --- cuped_ab -------------------------------------------------------------


def test_cuped_ab_matches_python(spark):
    import math

    units = [
        ("A", 10.0, 5.0), ("A", 12.0, 6.0), ("A", 14.0, 7.5),
        ("B", 9.0, 5.5), ("B", 11.0, 6.5), ("B", 10.0, 5.0),
    ]
    df = spark.createDataFrame(units, "arm string, y double, x double")
    [r] = st.cuped_ab(df, "arm", "y", "x", "A", "B").collect()
    cs = [(a, round(y * 100), round(x * 100)) for a, y, x in units]
    ya = [y for a, y, x in cs if a == "A"]; xa = [x for a, y, x in cs if a == "A"]
    yb = [y for a, y, x in cs if a == "B"]; xb = [x for a, y, x in cs if a == "B"]
    na, nb = len(ya), len(yb); nn = na + nb
    sx, sy = sum(xa) + sum(xb), sum(ya) + sum(yb)
    sxx = sum(v * v for v in xa + xb)
    sxy = sum(a * b for a, b in zip(xa + xb, ya + yb))
    theta = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    xbar = sx / nn
    diff = sum(ya) / na - sum(yb) / nb
    diff_adj = (sum(ya) / na - theta * (sum(xa) / na - xbar)) - (
        sum(yb) / nb - theta * (sum(xb) / nb - xbar))

    def s2(ys, xs, n):
        sy_, sx_ = sum(ys), sum(xs)
        vy = (sum(v * v for v in ys) - sy_ * sy_ / n) / (n - 1)
        vx = (sum(v * v for v in xs) - sx_ * sx_ / n) / (n - 1)
        cxy = (sum(a * b for a, b in zip(xs, ys)) - sx_ * sy_ / n) / (n - 1)
        return vy + theta * theta * vx - 2.0 * theta * cxy

    se = math.sqrt(s2(ya, xa, na) / na + s2(yb, xb, nb) / nb)
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["theta_micro"] == math.floor(theta * 1e6)
    assert r["diff_micro"] == math.floor(diff * 1e4)
    assert r["diff_adj_micro"] == math.floor(diff_adj * 1e4)
    assert r["se_adj_micro"] == math.floor(se * 1e4)


def test_cuped_ab_perfect_covariate_kills_variance(spark):
    # y == x exactly: theta = 1, adjusted variance = 0, se = 0
    units = [("A", float(v), float(v)) for v in (1, 2, 3)] + [
        ("B", float(v), float(v)) for v in (4, 5, 6)
    ]
    df = spark.createDataFrame(units, "arm string, y double, x double")
    [r] = st.cuped_ab(df, "arm", "y", "x", "A", "B").collect()
    assert r["theta_micro"] == 1_000_000
    assert r["se_adj_micro"] == 0
    assert r["diff_adj_micro"] == 0  # y fully explained by x


def test_cuped_ab_thin_arm_or_constant_covariate_empty(spark):
    thin = spark.createDataFrame(
        [("A", 1.0, 1.0), ("B", 1.0, 2.0), ("B", 2.0, 3.0)],
        "arm string, y double, x double",
    )
    assert st.cuped_ab(thin, "arm", "y", "x", "A", "B").count() == 0
    const = spark.createDataFrame(
        [("A", 1.0, 5.0), ("A", 2.0, 5.0), ("B", 1.0, 5.0), ("B", 3.0, 5.0)],
        "arm string, y double, x double",
    )
    assert st.cuped_ab(const, "arm", "y", "x", "A", "B").count() == 0


# --- calibration_bins -----------------------------------------------------


def test_calibration_bins_matches_python(spark):
    import math
    from collections import defaultdict

    rows = [
        (0.05, False), (0.15, False), (0.18, True), (0.55, True),
        (0.52, False), (0.95, True), (0.99, True), (1.0, True),
        (-0.1, False),  # clamps into bin 0
    ]
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = {r["bin"]: (r["n"], r["mean_pred_micro"], r["frac_pos_micro"])
           for r in st.calibration_bins(df, "s", "y", bins=10).collect()}
    per = defaultdict(list)
    for s, y in rows:
        b = max(0, min(9, math.floor(s * 10.0)))
        per[b].append((math.floor(s * 1e6), y))
    want = {}
    for b, vals in per.items():
        n = len(vals)
        want[b] = (
            n,
            math.floor(sum(v for v, _ in vals) / n),
            math.floor(sum(1 for _, y in vals if y) / n * 1e6),
        )
    assert got == want
    with pytest.raises(ValueError):
        st.calibration_bins(df, "s", "y", bins=0)


# --- holt_winters ---------------------------------------------------------


def _hw_python(xs, m, a, b, g):
    import math

    l = sum(xs[:m]) / float(m)
    bb = (sum(xs[m : 2 * m]) / float(m) - l) / float(m)
    s = [x - l for x in xs[:m]]
    i = m
    for x in xs[m:]:
        slot = i % m  # 0-based
        sm = s[slot]
        lp = a * (x - sm) + (1.0 - a) * (l + bb)
        bp = b * (lp - l) + (1.0 - b) * bb
        s[slot] = g * (x - lp) + (1.0 - g) * sm
        l, bb, i = lp, bp, i + 1
    nxt = s[len(xs) % m]
    return (
        math.floor(l * 1e6), math.floor(bb * 1e6),
        math.floor(nxt * 1e6), math.floor((l + bb + nxt) * 1e6),
    )


def test_holt_winters_matches_python(spark):
    m = 4
    xs = [10.0, 20.0, 30.0, 15.0,
          12.0, 23.0, 33.0, 18.0,
          15.0, 26.0, 35.0, 20.0, 17.0, 28.0]
    rows = [("k", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, t long, x double")
    [r] = st.holt_winters(df, "k", "t", "x", period=m).collect()
    want = _hw_python(xs, m, 0.5, 0.2, 0.3)
    assert (r["level_micro"], r["trend_micro"],
            r["season_next_micro"], r["forecast_micro"]) == want
    assert r["n"] == len(xs)


def test_holt_winters_pure_seasonal_signal(spark):
    # exact period-3 pattern, zero trend: forecast reproduces the
    # pattern closely and trend stays near zero
    pat = [100.0, 200.0, 300.0]
    xs = pat * 6
    rows = [("k", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, t long, x double")
    [r] = st.holt_winters(df, "k", "t", "x", period=3).collect()
    assert abs(r["trend_micro"]) < 2_000_000  # |b| < 2 units
    # next slot after 18 points is the '100' phase: forecast ~100
    assert 80_000_000 < r["forecast_micro"] < 120_000_000


def test_holt_winters_short_series_drops_and_validates(spark):
    rows = [("k", i, float(i)) for i in range(7)]  # n=7 < 2m=8
    df = spark.createDataFrame(rows, "k string, t long, x double")
    assert st.holt_winters(df, "k", "t", "x", period=4).count() == 0
    with pytest.raises(ValueError):
        st.holt_winters(df, "k", "t", "x", period=1)
    with pytest.raises(ValueError):
        st.holt_winters(df, "k", "t", "x", period=4, alpha=0.0)


# --- wilson_ci ------------------------------------------------------------


def test_wilson_ci_matches_python(spark):
    import math

    rows = [("g1", v) for v in [True] * 7 + [False] * 3] + [
        ("g2", v) for v in [True] * 1 + [False] * 0
    ]
    df = spark.createDataFrame(rows, "g string, ok boolean")
    got = {r["g"]: (r["n"], r["successes"], r["p_micro"],
                    r["lo_micro"], r["hi_micro"])
           for r in st.wilson_ci(df, "g", "ok").collect()}
    want = {}
    for g, n, k in (("g1", 10, 7), ("g2", 1, 1)):
        z = 1.96
        p = k / n
        z2 = z * z
        den = 1.0 + z2 / n
        c = (p + z2 / (2.0 * n)) / den
        h = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / den
        want[g] = (n, k, math.floor(p * 1e6),
                   math.floor((c - h) * 1e6), math.floor((c + h) * 1e6))
    assert got == want
    # Wilson stays inside [0, 1] even at p̂ = 1
    assert 0 <= got["g2"][3] and got["g2"][4] <= 1_000_000
    with pytest.raises(ValueError):
        st.wilson_ci(df, "g", "ok", z=0.0)


# --- survival_summary -----------------------------------------------------


def test_survival_summary_matches_km_integral(spark):
    subjects = [
        (1, True), (2, True), (2, False), (3, True), (4, False),
        (5, True), (5, True), (6, False),
    ]
    rows = [("g", t, e) for t, e in subjects]
    df = spark.createDataFrame(rows, "g string, dur long, ev boolean")
    km = {r["t"]: r["surv_micro"]
          for r in st.kaplan_meier(df, "g", "dur", "ev").collect()}
    [r] = st.survival_summary(df, "g", "dur", "ev").collect()
    ts = sorted(km)
    rmst = ts[0] * 1_000_000 + sum(
        km[ts[i]] * (ts[i + 1] - ts[i]) for i in range(len(ts) - 1)
    )
    med = min((t for t in ts if km[t] <= 500_000), default=-1)
    assert (r["horizon"], r["median_t"], r["rmst_micro"]) == (ts[-1], med, rmst)


def test_survival_summary_all_censored_median_sentinel(spark):
    rows = [("g", t, False) for t in (3, 7, 9)]
    df = spark.createDataFrame(rows, "g string, dur long, ev boolean")
    [r] = st.survival_summary(df, "g", "dur", "ev").collect()
    # S stays 1.0 -> median never reached -> sentinel; RMST = horizon
    assert r["median_t"] == -1
    assert r["rmst_micro"] == 9 * 1_000_000


# --- corr_matrix ----------------------------------------------------------


def test_corr_matrix_matches_python(spark):
    import math

    data = [
        (1.0, 2.0, 5.0), (2.0, 4.1, 4.0), (3.0, 5.9, 3.0), (4.0, 8.2, 2.0),
    ]
    df = spark.createDataFrame(data, "a double, b double, c double")
    got = {(r["col_x"], r["col_y"]): r["corr_micro"]
           for r in st.corr_matrix(df, ["a", "b", "c"]).collect()}
    cols = list(zip(*[[round(v * 100) for v in row] for row in data]))
    n = len(data)

    def corr(xi, xj):
        si, sj = sum(xi), sum(xj)
        qi = sum(v * v for v in xi)
        qj = sum(v * v for v in xj)
        cij = sum(a * b for a, b in zip(xi, xj))
        return math.floor(
            (n * cij - si * sj)
            / math.sqrt(float(n * qi - si * si) * float(n * qj - sj * sj))
            * 1e6
        )

    assert got == {
        ("a", "b"): corr(cols[0], cols[1]),
        ("a", "c"): corr(cols[0], cols[2]),
        ("b", "c"): corr(cols[1], cols[2]),
    }
    assert got[("a", "c")] == -1_000_000  # perfectly anti-correlated
    with pytest.raises(ValueError):
        st.corr_matrix(df, ["a"])


def test_corr_matrix_constant_column_drops_its_pairs(spark):
    data = [(1.0, 5.0, 2.0), (2.0, 5.0, 4.0), (3.0, 5.0, 6.0)]
    df = spark.createDataFrame(data, "a double, k double, b double")
    got = {(r["col_x"], r["col_y"]) for r in
           st.corr_matrix(df, ["a", "k", "b"]).collect()}
    assert got == {("a", "b")}


# --- cramers_v ------------------------------------------------------------


def test_cramers_v_matches_python(spark):
    import math
    from collections import Counter

    rows = (
        [("a", "x")] * 8 + [("a", "y")] * 2
        + [("b", "x")] * 3 + [("b", "y")] * 7
    )
    df = spark.createDataFrame(rows, "u string, v string")
    [r] = st.cramers_v(df, "u", "v").collect()
    cells = Counter(rows)
    n = len(rows)
    rx = Counter(u for u, _ in rows)
    cy = Counter(v for _, v in rows)
    chi2m = sum(
        math.floor((o - rx[u] * cy[v] / n) ** 2 / (rx[u] * cy[v] / n) * 1e6)
        for (u, v), o in cells.items()
    )
    vstat = math.sqrt(chi2m / 1e6 / (n * (min(len(rx), len(cy)) - 1)))
    assert (r["n"], r["n_rows_x"], r["n_cols_y"]) == (n, 2, 2)
    assert r["chi2_micro"] == chi2m
    assert r["v_micro"] == math.floor(vstat * 1e6)


def test_cramers_v_independent_near_zero_and_degenerate(spark):
    rows = [("a", "x")] * 6 + [("a", "y")] * 6 + [("b", "x")] * 3 + [("b", "y")] * 3
    df = spark.createDataFrame(rows, "u string, v string")
    [r] = st.cramers_v(df, "u", "v").collect()
    assert r["v_micro"] == 0  # exactly proportional cells
    one_col = spark.createDataFrame([("a", "x"), ("b", "x")], "u string, v string")
    assert st.cramers_v(one_col, "u", "v").count() == 0


# --- levene_bf ------------------------------------------------------------


def test_levene_bf_matches_python(spark):
    import math

    groups = {
        "tight": [10.0, 10.2, 9.8, 10.1, 9.9],
        "wide": [5.0, 15.0, 2.0, 18.0, 10.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.levene_bf(df, "g", "v").collect()

    def median(cs):
        s = sorted(cs)
        n = len(s)
        mid = n // 2
        return float(s[mid]) if n % 2 else (s[mid - 1] + s[mid]) / 2.0

    zs = {}
    for g, vs in groups.items():
        cs = [round(v * 100) for v in vs]
        med = median(cs)
        zs[g] = [abs(c - med) for c in cs]
    # replicate anova_f's pico decomposition on round(z*100)
    cents = {g: [round(z * 100) for z in v] for g, v in zs.items()}
    n = sum(len(v) for v in cents.values())
    s = sum(sum(v) for v in cents.values())
    q = sum(c * c for v in cents.values() for c in v)
    k = len(cents)
    a = sum(math.floor(sum(v) * sum(v) / (len(v) * q) * 1e12)
            for v in cents.values())
    b2 = math.floor(s * s / (n * q) * 1e12)
    f = ((a - b2) / (k - 1)) / ((1e12 - a) / (n - k))
    assert (r["n_groups"], r["n_rows"]) == (k, n)
    assert r["f_micro"] == math.floor(f * 1e6)
    assert r["f_micro"] > 1_000_000  # spreads clearly differ


def test_levene_bf_equal_spreads_small_f(spark):
    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [
        ("b", v) for v in (11.0, 12.0, 13.0)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.levene_bf(df, "g", "v").collect()
    assert r["f_micro"] == 0  # identical deviation multisets


# --- ks_drift -------------------------------------------------------------


def _ks_vs_pool_python(groups):
    """Brute-force sup over the union of jump points, both one-sided
    limits."""
    pool = sorted(v for vs in groups.values() for v in vs)
    n_pool = len(pool)
    pts = sorted(set(pool))
    out = {}
    for g, vs in groups.items():
        vs_sorted = sorted(vs)
        ng = len(vs_sorted)
        d = 0.0
        for v in pts:
            fg = sum(1 for x in vs_sorted if x <= v) / ng
            fp = sum(1 for x in pool if x <= v) / n_pool
            fg_l = sum(1 for x in vs_sorted if x < v) / ng
            fp_l = sum(1 for x in pool if x < v) / n_pool
            d = max(d, abs(fg - fp), abs(fg_l - fp_l))
        out[g] = (ng, d)
    return out


def test_ks_drift_matches_brute_force(spark):
    groups = {
        "a": [1.0, 2.0, 2.0, 3.0, 9.0],
        "b": [2.0, 5.0, 6.0, 7.0],
        "c": [1.0, 1.0, 1.0],  # heavy low mass -> drifted vs pool
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: (r["n"], r["ks_d"])
           for r in st.ks_drift(df, "g", "v").collect()}
    want = _ks_vs_pool_python(groups)
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0]
        assert abs(got[g][1] - want[g][1]) < 1e-12
    assert got["c"][1] > got["a"][1]  # the concentrated group drifts most


def test_ks_drift_single_group_is_zero(spark):
    rows = [("only", float(v)) for v in range(10)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.ks_drift(df, "g", "v").collect()
    assert r["ks_d"] == 0.0  # a group IS the pool


# --- robust_means ---------------------------------------------------------


def test_robust_means_matches_python(spark):
    import math

    groups = {"a": [1.0, 4.0, 16.0], "b": [2.5, 2.5, 10.0, 0.0, -3.0]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: (r["n"], r["amean_micro"], r["gmean_micro"],
                    r["hmean_micro"])
           for r in st.robust_means(df, "g", "v").collect()}
    want = {}
    for g, vs in groups.items():
        cs = [round(v * 100) for v in vs if round(v * 100) > 0]
        n = len(cs)
        am = sum(cs) / n
        gm = math.exp(sum(math.floor(math.log(c) * 1e6) for c in cs) / (n * 1e6))
        hm = n * 1e12 / sum(10 ** 12 // c for c in cs)
        want[g] = (n, math.floor(am * 1e4), math.floor(gm * 1e4),
                   math.floor(hm * 1e4))
    assert got == want
    # non-positive values dropped: group b keeps only 3 rows
    assert got["b"][0] == 3


def test_robust_means_am_gm_hm_ordering(spark):
    import random

    rng = random.Random(11)
    rows = [("g", rng.uniform(0.5, 500.0)) for _ in range(300)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.robust_means(df, "g", "v").collect()
    # AM >= GM >= HM (tolerate the 1-micro floor quantization)
    assert r["amean_micro"] >= r["gmean_micro"] - 1 >= r["hmean_micro"] - 2


def test_robust_means_constant_group_all_equal(spark):
    rows = [("g", 7.0)] * 5
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.robust_means(df, "g", "v").collect()
    assert r["amean_micro"] == 7_000_000
    # GM/HM within a micro of AM on a constant series
    assert abs(r["gmean_micro"] - 7_000_000) <= 70
    assert abs(r["hmean_micro"] - 7_000_000) <= 70


# --- cohens_d ---------------------------------------------------------------


def test_cohens_d_hand_values(spark):
    # a = {1,2,3}, b = {5,6,7} dollars: means 2 and 6, each ss = 2 (cents²
    # scale: 2·100²·100... work in cents: a = {100,200,300}, ss = 20000)
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0), ("b", 6.0), ("b", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.cohens_d(df, "g", "v", "a", "b").collect()
    assert r["n_a"] == 3 and r["n_b"] == 3
    # pooled sd = sqrt((20000+20000)/4) = 100 cents = 1 dollar
    assert r["pooled_sd_micro"] == 100 * 10_000
    # d = (200-600)/100 = -4
    assert r["d_micro"] == -4_000_000
    assert r["diff_micro"] == -400 * 10_000


def test_cohens_d_needs_two_per_group(spark):
    rows = [("a", 1.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    assert st.cohens_d(df, "g", "v", "a", "b").count() == 0


# --- weighted_median --------------------------------------------------------


def test_weighted_median_hand_values(spark):
    # values 1,2,3 with weights 1,1,10 → half of W=12 is reached at 3
    rows = [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 10)]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    [r] = st.weighted_median(df, "g", "v", "w").collect()
    assert r["wmedian_cents"] == 300 and r["total_weight"] == 12
    # equal weights → ordinary lower median
    rows = [("g", float(v), 1) for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    [r] = st.weighted_median(df, "g", "v", "w").collect()
    assert r["wmedian_cents"] == 200  # lower median of {1,2,3,4}


def test_weighted_median_ignores_nonpositive_weights(spark):
    rows = [("g", 9.0, 0), ("g", 1.0, 1), ("g", 9.0, -5)]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    [r] = st.weighted_median(df, "g", "v", "w").collect()
    assert r["wmedian_cents"] == 100 and r["total_weight"] == 1


# --- jackknife_means --------------------------------------------------------


def test_jackknife_means_hand_values(spark):
    # groups: a={10}, b={20}, c={30}; full mean 20
    rows = [("a", 10.0), ("b", 20.0), ("c", 30.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r for r in st.jackknife_means(df, "g", "v").collect()}
    # drop a → mean 25; drop b → 20; drop c → 15 (cent-micro = ×1e4 on cents)
    assert got["a"]["loo_mean_micro"] == 2500 * 10_000
    assert got["b"]["loo_mean_micro"] == 2000 * 10_000
    assert got["c"]["loo_mean_micro"] == 1500 * 10_000
    assert got["a"]["delta_micro"] == 500 * 10_000
    assert got["c"]["delta_micro"] == -500 * 10_000


def test_jackknife_single_group_empty(spark):
    # N == n_g for the only group → leave-one-out undefined → empty
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    assert st.jackknife_means(df, "g", "v").count() == 0


# --- poisson_bootstrap_mean --------------------------------------------------


def test_bootstrap_deterministic_and_plausible(spark):
    rows = [(i, 10.0) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double")
    out1 = {r["resample"]: r for r in st.poisson_bootstrap_mean(df, "id", "v", 16).collect()}
    out2 = {r["resample"]: r for r in st.poisson_bootstrap_mean(df, "id", "v", 16).collect()}
    assert len(out1) == 16
    for b in out1:
        # constant data → every resample mean is exactly the constant
        assert out1[b]["mean_micro"] == 10_000_000
        # deterministic: same multiplicities both runs
        assert out1[b]["n_eff"] == out2[b]["n_eff"]
        # Poisson(1) multiplicities: n_eff concentrates near n
        assert 350 <= out1[b]["n_eff"] <= 650


def test_bootstrap_mean_varies_between_resamples(spark):
    rows = [(i, float(i)) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "id long, v double")
    means = [r["mean_micro"] for r in st.poisson_bootstrap_mean(df, "id", "v", 8).collect()]
    assert len(set(means)) > 1  # resamples genuinely differ
    full_micro = (sum(range(1, 201)) / 200) * 100 * 10_000
    for m in means:  # each within ~3 bootstrap-SE of the full mean
        assert abs(m - full_micro) < 0.25 * full_micro


def test_bootstrap_validates_n(spark):
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with pytest.raises(ValueError):
        st.poisson_bootstrap_mean(df, "id", "v", 0)


# --- control_chart ------------------------------------------------------------


def test_control_chart_flags_planted_outlier(spark):
    rows = [("g", t, 100.0) for t in range(40)] + [
        ("g", 98, 99.0), ("g", 99, 500.0)
    ]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    got = st.control_chart(df, "g", "t", "v", n_sigma=3).collect()
    assert [(r["t"], r["side"]) for r in got] == [(99, 1)]


def test_control_chart_two_sided(spark):
    rows = [("g", t, 100.0) for t in range(40)] + [
        ("g", 98, -300.0), ("g", 99, 500.0)
    ]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    got = {r["t"]: r["side"] for r in st.control_chart(df, "g", "t", "v").collect()}
    assert got == {98: -1, 99: 1}


def test_control_chart_constant_series_never_fires(spark):
    rows = [("g", t, 42.0) for t in range(20)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    assert st.control_chart(df, "g", "t", "v").count() == 0


# --- lorenz_points -----------------------------------------------------------


def test_lorenz_points_uniform_and_skewed(spark):
    # 25 entities, totals 1..25: bottom bucket of 5 holds 15/325
    rows = [(i, float(i)) for i in range(1, 26)]
    df = spark.createDataFrame(rows, "k long, v double")
    got = {r["bucket"]: r for r in st.lorenz_points(df, "k", "v", 5).collect()}
    assert [got[b]["n_keys"] for b in range(1, 6)] == [5] * 5
    assert got[1]["bucket_cents"] == 1500
    assert got[5]["cum_share_micro"] == 1_000_000
    assert got[1]["cum_share_micro"] == (1500 * 1_000_000) // 32500


def test_lorenz_ntile_matches_window_ntile(spark):
    # non-divisible N: 13 entities in 5 buckets → sizes 3,3,3,2,2
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rows = [(i, float((i * 7) % 13 + 1)) for i in range(13)]
    df = spark.createDataFrame(rows, "k long, v double")
    got = st.lorenz_points(df, "k", "v", 5).orderBy("bucket").collect()
    assert [r["n_keys"] for r in got] == [3, 3, 3, 2, 2]
    # cross-check bucket assignment against a real NTILE window
    per = df.groupBy("k").agg(
        F.sum(F.round(F.col("v") * 100).cast("long")).alias("tot")
    )
    w = W.orderBy("tot", "k")
    ref = (
        per.select(F.ntile(5).over(w).alias("bucket"), "tot")
        .groupBy("bucket")
        .agg(F.sum("tot").alias("cents"))
    )
    ref_map = {r["bucket"]: r["cents"] for r in ref.collect()}
    for r in got:
        assert ref_map[r["bucket"]] == r["bucket_cents"]


def test_lorenz_negative_and_zero_totals_order(spark):
    rows = [(1, -5.0), (2, 0.0), (3, 2.0), (4, 100.0)]
    df = spark.createDataFrame(rows, "k long, v double")
    got = st.lorenz_points(df, "k", "v", 2).orderBy("bucket").collect()
    # ascending order → bucket 1 = {-5, 0}, bucket 2 = {2, 100}
    assert got[0]["bucket_cents"] == -500
    assert got[1]["bucket_cents"] == 10200


# --- exact_group_quantiles ----------------------------------------------------


def test_exact_quantiles_hand_values(spark):
    rows = [("g", float(v)) for v in range(1, 101)]  # 1..100 dollars
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["q_ppm"]: r["value_cents"]
        for r in st.exact_group_quantiles(df, "g", "v").collect()
    }
    # type-1 lower quantile: ceil(q*100)-th smallest
    assert got[250_000] == 2500 and got[500_000] == 5000
    assert got[750_000] == 7500 and got[950_000] == 9500


def test_exact_quantiles_ties_and_custom_q(spark):
    rows = [("g", 1.0)] * 9 + [("g", 100.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["q_ppm"]: r["value_cents"]
        for r in st.exact_group_quantiles(df, "g", "v", [900_000, 1_000_000]).collect()
    }
    assert got[900_000] == 100 and got[1_000_000] == 10000
    with pytest.raises(ValueError):
        st.exact_group_quantiles(df, "g", "v", [0])


# --- mase_forecast_error ------------------------------------------------------


def test_mase_perfect_forecast_is_zero(spark):
    rows = [("s", t, float(t), float(t)) for t in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, t long, a double, f double")
    [r] = st.mase_forecast_error(df, "g", "t", "a", "f", season=1).collect()
    assert r["mase_micro"] == 0 and r["mae_cents_micro"] == 0
    # naive MAE on 1..10 with lag 1 = 100 cents exactly
    assert r["naive_mae_cents_micro"] == 100 * 1_000_000


def test_mase_matches_hand_formula(spark):
    # forecast == lag-1 value, season=1. Numerator: 4 errors
    # (4,3,5,7)·100 cents; denominator: the IN-SERIES lag errors — only
    # 3 of them (3,5,7)·100, the first filtered row has no lag. MASE =
    # (se·cn·1e6) div (sn·n) = (1900·3·1e6) div (1500·4) = 950000.
    vals = [3.0, 7.0, 4.0, 9.0, 2.0]
    rows = [("s", t, vals[t], vals[t - 1]) for t in range(1, 5)]
    df = spark.createDataFrame(rows, "g string, t long, a double, f double")
    [r] = st.mase_forecast_error(df, "g", "t", "a", "f", season=1).collect()
    assert r["n"] == 4
    assert r["mae_cents_micro"] == (1900 * 1_000_000) // 4
    assert r["naive_mae_cents_micro"] == (1500 * 1_000_000) // 3
    assert r["mase_micro"] == 950_000


def test_mase_short_series_drops(spark):
    df = spark.createDataFrame([("s", 1, 5.0, 4.0)], "g string, t long, a double, f double")
    assert st.mase_forecast_error(df, "g", "t", "a", "f", season=2).count() == 0


# --- time_weighted_average ----------------------------------------------------


def test_twa_burst_sampling_invariant(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # value 10 held for 10s (sampled once), value 20 held for 10s
    # (sampled 6 times, in a burst — the last sample closes the span and
    # carries no weight, per the left-closed step convention) → TWA = 15,
    # NOT the row mean ~18.6
    rows = [("u", base, 10.0)]
    for i in range(5):
        rows.append(("u", base + dt.timedelta(seconds=10 + 2 * i), 20.0))
    rows.append(("u", base + dt.timedelta(seconds=20), 20.0))
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    [r] = st.time_weighted_average(df, "g", "ts", "v").collect()
    assert r["twa_cents_micro"] == 1500 * 1_000_000
    assert r["span_micros"] == 20_000_000


def test_twa_single_point_drops(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [("u", dt.datetime(2024, 1, 1), 5.0)], "g string, ts timestamp, v double"
    )
    assert st.time_weighted_average(df, "g", "ts", "v").count() == 0


# --- population_stability_index -----------------------------------------------


def test_psi_identical_populations_near_zero(spark):
    rows = [(True, float(v % 50)) for v in range(1000)] + [
        (False, float(v % 50)) for v in range(1000)
    ]
    df = spark.createDataFrame(rows, "ref boolean, v double")
    got = st.population_stability_index(df, "ref", "v").collect()
    assert len(got) == 10 and {r["bin"] for r in got} == set(range(1, 11))
    # identical distributions → every term ~0 (only smoothing jitter)
    assert sum(abs(r["psi_term_micro"]) for r in got) < 1000


def test_psi_shifted_population_flags_drift(spark):
    rows = [(True, float(v % 50)) for v in range(1000)] + [
        (False, 40.0 + float(v % 50)) for v in range(1000)
    ]
    df = spark.createDataFrame(rows, "ref boolean, v double")
    got = st.population_stability_index(df, "ref", "v").collect()
    psi = sum(r["psi_term_micro"] for r in got) / 1e6
    assert psi > 0.25  # retrain-grade drift
    # every bin row carries both raw counts
    assert sum(r["ref_n"] for r in got) == 1000
    assert sum(r["cur_n"] for r in got) == 1000


def test_psi_validates_bins(spark):
    df = spark.createDataFrame([(True, 1.0)], "ref boolean, v double")
    with pytest.raises(ValueError):
        st.population_stability_index(df, "ref", "v", n_bins=1)


# --- trimmed_mean --------------------------------------------------------------


def test_trimmed_mean_drops_exact_tails(spark):
    # 1..10 with 10% trim: drop exactly one from each end → mean(2..9)=5.5
    rows = [("g", float(v)) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.trimmed_mean(df, "g", "v", trim_ppm=100_000).collect()
    assert (r["n"], r["n_kept"]) == (10, 8)
    assert r["tmean_micro"] == 550 * 10_000


def test_trimmed_mean_outlier_robust_and_tie_exact(spark):
    rows = [("g", 10.0)] * 8 + [("g", -1e6), ("g", 1e6)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.trimmed_mean(df, "g", "v", trim_ppm=100_000).collect()
    assert r["tmean_micro"] == 1000 * 10_000  # outliers gone exactly
    # trim_ppm=0 degrades to the plain mean
    [r0] = st.trimmed_mean(df, "g", "v", trim_ppm=0).collect()
    assert r0["n_kept"] == 10
    with pytest.raises(ValueError):
        st.trimmed_mean(df, "g", "v", trim_ppm=500_000)


# --- vector_dq ------------------------------------------------------------------


def test_vector_dq_counts_every_defect(spark):
    rows = [
        (1, [1.0, 2.0]),
        (2, None),
        (3, []),
        (4, [1.0, 2.0, 3.0]),
        (5, [float("nan"), 1.0]),
        (6, [float("inf"), 1.0]),
        (7, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    [r] = st.vector_dq(df, "vec_id", "embedding", expected_dim=2).collect()
    assert r["n_vecs"] == 7 and r["n_null"] == 1 and r["n_empty"] == 1
    assert r["n_wrong_dim"] == 2  # the [] and the 3-dim row
    assert r["n_nonfinite"] == 2 and r["n_allzero"] == 1
    with pytest.raises(ValueError):
        st.vector_dq(df, "vec_id", "embedding", expected_dim=0)


# --- pass_at_k (round 11, code-eval estimator) ---


def test_pass_at_k_known_combinatorics(spark):
    # problem 1: n=5, c=2 -> pass@3 = 1 - C(3,3)/C(5,3) = 1 - 1/10 = 0.9
    # problem 2: n=3, c=0 -> pass@3 = 0
    # problem 3: n=4, c=4 -> numerator zero-crosses -> pass@3 = 1
    # problem 4: n=2 (< k) -> filtered out entirely
    rows = (
        [(1, x) for x in (1, 1, 0, 0, 0)]
        + [(2, 0), (2, 0), (2, 0)]
        + [(3, 1), (3, 1), (3, 1), (3, 1)]
        + [(4, 1), (4, 1)]
    )
    df = spark.createDataFrame(rows, "problem_id long, correct int")
    out = {
        (r["n_samples"], r["n_correct"]): r
        for r in st.pass_at_k(df, k=3).collect()
    }
    assert set(out) == {(5, 2), (3, 0), (4, 4)}
    assert out[(5, 2)]["pass_at_k_micro"] == 900_000
    assert out[(3, 0)]["pass_at_k_micro"] == 0
    assert out[(4, 4)]["pass_at_k_micro"] == 1_000_000
    assert all(r["n_problems"] == 1 for r in out.values())


def test_pass_at_k_floor_rounding_and_validation(spark):
    # n=4, c=1 -> 1 - C(3,3)/C(4,3) = 1 - 1/4 = 0.75 exactly
    df = spark.createDataFrame(
        [(1, 1), (1, 0), (1, 0), (1, 0)], "problem_id long, correct int"
    )
    [r] = st.pass_at_k(df, k=3).collect()
    assert r["pass_at_k_micro"] == 750_000
    with pytest.raises(ValueError):
        st.pass_at_k(df, k=0)


# --- self_consistency (round 11, majority-vote eval) ---


def test_self_consistency_majority_and_tiebreak(spark):
    # p1: votes {7:2, 3:1}, gold 7 -> correct, share 2/3
    # p2: tie {1:1, 5:1}, tie-break smallest answer -> 1, gold 5 -> wrong
    rows = [
        (1, 7, 7), (1, 7, 7), (1, 3, 7),
        (2, 5, 5), (2, 1, 5),
    ]
    df = spark.createDataFrame(rows, "problem_id long, answer long, gold long")
    [r] = st.self_consistency(df).collect()
    assert r["n_problems"] == 2
    assert r["n_majority_correct"] == 1
    assert r["accuracy_micro"] == 500_000
    # shares: floor(2e6/3)=666666, floor(1e6/2)=500000 -> mean 583333
    assert r["mean_vote_share_micro"] == (666_666 + 500_000) // 2


def test_self_consistency_unanimous(spark):
    df = spark.createDataFrame(
        [(1, 4, 4), (1, 4, 4)], "problem_id long, answer long, gold long"
    )
    [r] = st.self_consistency(df).collect()
    assert r["n_majority_correct"] == 1 and r["accuracy_micro"] == 1_000_000
    assert r["mean_vote_share_micro"] == 1_000_000


# --- fleiss_kappa (round 11, inter-annotator agreement) ---


def test_fleiss_kappa_perfect_and_worse_than_chance(spark):
    # perfect within-item agreement -> kappa = 1
    rows = [(1, "a"), (1, "a"), (2, "a"), (2, "a"), (3, "b"), (3, "b")]
    df = spark.createDataFrame(rows, "item_id long, category string")
    [r] = st.fleiss_kappa(df).collect()
    assert (r["n_items"], r["n_raters"], r["total_ratings"]) == (3, 2, 6)
    assert r["kappa_micro"] == 1_000_000
    # systematic disagreement, balanced marginals -> kappa = -1
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b")]
    df = spark.createDataFrame(rows, "item_id long, category string")
    [r] = st.fleiss_kappa(df).collect()
    assert r["kappa_micro"] == -1_000_000


def test_fleiss_kappa_matches_fraction_reference(spark):
    # 4 items x 3 raters, mixed agreement; reference via exact fractions
    from fractions import Fraction

    ratings = {1: ["a", "a", "b"], 2: ["b", "b", "b"], 3: ["a", "c", "c"], 4: ["a", "a", "a"]}
    rows = [(i, c) for i, cats in ratings.items() for c in cats]
    df = spark.createDataFrame(rows, "item_id long, category string")
    [r] = st.fleiss_kappa(df).collect()
    n_items, n = 4, 3
    t = n_items * n
    from collections import Counter

    s_sq = sum(c * c for cats in ratings.values() for c in Counter(cats).values())
    col = Counter(c for cats in ratings.values() for c in cats)
    c_sq = sum(v * v for v in col.values())
    num = (s_sq - t) * t - (n - 1) * c_sq
    den = (n - 1) * (t * t - c_sq)
    expected = int(Fraction(num * 1_000_000, den))  # trunc toward zero
    assert (r["s_sq"], r["c_sq"]) == (s_sq, c_sq)
    assert r["kappa_micro"] == expected


# --- bradley_terry_quantized (round 11, pairwise-preference ranking) ---


def test_bradley_terry_orders_by_strength(spark):
    # round-robin: 1 beats 2 twice, 2 beats 3 twice, 1 beats 3 twice,
    # plus one upset each way to keep all wins positive.
    rows = (
        [(1, 2)] * 4 + [(2, 1)] + [(2, 3)] * 4 + [(3, 2)] + [(1, 3)] * 4 + [(3, 1)]
    )
    df = spark.createDataFrame(rows, "winner long, loser long")
    out = {r["player"]: r for r in st.bradley_terry_quantized(df, iters=4).collect()}
    assert out[1]["wins"] == 8 and out[1]["n_matches"] == 10
    # monotone: more wins against the same opposition -> higher rating
    assert out[1]["rating_micro"] > out[2]["rating_micro"] > out[3]["rating_micro"]
    assert all(r["rating_micro"] >= 1 for r in out.values())


def test_bradley_terry_matches_python_reference(spark):
    # replay the quantized MM update exactly in Python
    matches = [(1, 2), (1, 2), (2, 3), (3, 1)]
    df = spark.createDataFrame(matches, "winner long, loser long")
    out = {r["player"]: r["rating_micro"] for r in st.bradley_terry_quantized(df, iters=4).collect()}

    from collections import Counter

    wins = Counter(w for w, _ in matches)
    pairs = Counter(tuple(sorted(m)) for m in matches)
    players = sorted({p for m in matches for p in m})
    SQ = 1_000_000**2
    r = {p: 1_000_000 for p in players}
    for _ in range(4):
        d = {}
        for (a, b), n in pairs.items():
            d[a] = d.get(a, 0) + (n * SQ) // (r[a] + r[b])
            d[b] = d.get(b, 0) + (n * SQ) // (r[a] + r[b])
        r = {p: max(((wins.get(p, 0) + 1) * SQ) // d[p], 1) for p in players}
    assert out == r


def test_bradley_terry_zero_win_player_survives(spark):
    df = spark.createDataFrame([(1, 2), (1, 2)], "winner long, loser long")
    out = {r["player"]: r for r in st.bradley_terry_quantized(df).collect()}
    assert out[2]["wins"] == 0
    assert out[2]["rating_micro"] >= 1
    assert out[1]["rating_micro"] > out[2]["rating_micro"]


def test_bradley_terry_d_zero_saturates_to_one(spark):
    """ADVICE r11: when every D_i term truncates to 0 the update must
    saturate the rating at the explicit fixpoint 1 — not ride Spark's
    null-skipping GREATEST over a DIV-by-zero NULL. scale=1 forces the
    edge on round 1: D = (1·1²) DIV (1+1) = 0 for both players."""
    df = spark.createDataFrame([(1, 2)], "winner long, loser long")
    out = {
        r["player"]: r["rating_micro"]
        for r in st.bradley_terry_quantized(df, iters=2, scale=1).collect()
    }
    assert out == {1: 1, 2: 1}


# --- cliffs_delta (round 11, ordinal effect size) ---


def test_cliffs_delta_hand_case(spark):
    # a = {1,2}, b = {1,3}: pairs (1,1)=tie (1,3)=lt (2,1)=gt (2,3)=lt
    rows = [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.cliffs_delta(df, "g", "v", "a", "b").collect()
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert (r["n_gt"], r["n_lt"], r["n_ties"]) == (1, 2, 1)
    assert r["n_gt"] + r["n_lt"] + r["n_ties"] == r["n_a"] * r["n_b"]
    assert r["delta_micro"] == -250_000  # (1-2)/4


def test_cliffs_delta_complete_dominance(spark):
    rows = [("a", 10.0), ("a", 11.0), ("b", 1.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = st.cliffs_delta(df, "g", "v", "a", "b").collect()
    assert r["delta_micro"] == 1_000_000
    [r] = st.cliffs_delta(df, "g", "v", "b", "a").collect()
    assert r["delta_micro"] == -1_000_000


# --- mcnemar_test (round 11, paired model comparison) ---


def test_mcnemar_known_cells(spark):
    # items: both-right x2, only-a x3, only-b x1, both-wrong x1
    rows = (
        [(True, True)] * 2 + [(True, False)] * 3 + [(False, True)] + [(False, False)]
    )
    df = spark.createDataFrame(rows, "correct_a boolean, correct_b boolean")
    [r] = st.mcnemar_test(df).collect()
    assert (r["n_both_right"], r["n_only_a"], r["n_only_b"], r["n_both_wrong"]) == (
        2, 3, 1, 1,
    )
    # (|3-1| - 1)^2 / (3+1) = 1/4
    assert r["chi2_micro"] == 250_000


def test_mcnemar_no_disagreement_null(spark):
    rows = [(True, True), (False, False)]
    df = spark.createDataFrame(rows, "correct_a boolean, correct_b boolean")
    [r] = st.mcnemar_test(df).collect()
    assert r["chi2_micro"] is None


def test_mcnemar_equal_discordance_continuity(spark):
    # b == c: statistic is (0-1)^2/(b+c) = 1/(2b)
    rows = [(True, False)] * 2 + [(False, True)] * 2
    df = spark.createDataFrame(rows, "correct_a boolean, correct_b boolean")
    [r] = st.mcnemar_test(df).collect()
    assert r["chi2_micro"] == 250_000


# --- dawid_skene_hard (round 11, consensus labeling) ---


def test_dawid_skene_matches_python_replay(spark):
    # deterministic mixed-quality votes; replay the hard-EM loop exactly
    votes = []
    for it in range(1, 21):
        for r in range(3):
            m = (((it * 3 + r) % 1_000_003) * 2654435761) % 1_000_003
            true = (it * 7) % 4
            label = true if m % 10 < 4 + 2 * r else (m % 4)
            votes.append((it, r, label))
    df = spark.createDataFrame(votes, "item_id long, rater long, label long")
    out = {r["rater"]: r for r in st.dawid_skene_hard(df, iters=2).collect()}

    from collections import defaultdict

    def argmax(weights):  # max weight, ties -> smallest label
        return min(weights, key=lambda l: (-weights[l], l))

    by_item = defaultdict(list)
    for it, r, l in votes:
        by_item[it].append((r, l))
    labels = {}
    for it, vs in by_item.items():
        w = defaultdict(int)
        for _, l in vs:
            w[l] += 1
        labels[it] = argmax(w)
    for _ in range(2):
        agree, total = defaultdict(int), defaultdict(int)
        for it, vs in by_item.items():
            for r, l in vs:
                total[r] += 1
                agree[r] += l == labels[it]
        acc = {r: agree[r] * 1_000_000 // total[r] for r in total}
        labels = {}
        for it, vs in by_item.items():
            w = defaultdict(int)
            for r, l in vs:
                w[l] += acc[r]
            labels[it] = argmax(w)
    agree, total = defaultdict(int), defaultdict(int)
    for it, vs in by_item.items():
        for r, l in vs:
            total[r] += 1
            agree[r] += l == labels[it]
    for r in total:
        assert out[r]["n_votes"] == total[r]
        assert out[r]["n_agree"] == agree[r]
        assert out[r]["accuracy_micro"] == agree[r] * 1_000_000 // total[r]


def test_dawid_skene_rewards_reliable_rater(spark):
    # rater 2 always matches the eventual consensus; rater 0 is noise
    votes = []
    for it in range(1, 31):
        t = it % 4
        votes.append((it, 0, ((it * 2654435761) % 1_000_003) % 4))
        votes.append((it, 1, t))
        votes.append((it, 2, t))
    df = spark.createDataFrame(votes, "item_id long, rater long, label long")
    out = {r["rater"]: r["accuracy_micro"] for r in st.dawid_skene_hard(df).collect()}
    assert out[2] == 1_000_000 and out[1] == 1_000_000
    assert out[0] < 1_000_000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        st.dawid_skene_hard(df, iters=0)


# --- round-12 eval/agreement stats ---


def test_krippendorff_alpha_hand_case(spark):
    # 2 raters, 4 double-rated items (one disagreement) + 1 single-
    # rated item that must be EXCLUDED everywhere: alpha = 1 - 2/(30/7)
    rows = [
        (1, "r1", "A"), (1, "r2", "A"),
        (2, "r1", "B"), (2, "r2", "B"),
        (3, "r1", "A"), (3, "r2", "B"),
        (4, "r1", "B"), (4, "r2", "B"),
        (5, "r1", "A"),  # single rating: no agreement information
    ]
    df = spark.createDataFrame(rows, "item_id long, rater string, label string")
    [r] = st.krippendorff_alpha(df).collect()
    assert r["n_items"] == 4 and r["n_ratings"] == 8
    assert r["do_scaled"] == 2_000_000
    assert (r["de_num"], r["de_den"]) == (30, 7)
    assert r["alpha_micro"] == 1_000_000 - 14_000_000 // 30  # 533334


def test_cochran_q_hand_case(spark):
    # 3 systems, 4 items: G=(2,3,1), R=(2,3,1,0) -> Q = 2*6/4 = 3
    rows = [
        (1, "a", 1), (1, "b", 1), (1, "c", 0),
        (2, "a", 1), (2, "b", 1), (2, "c", 1),
        (3, "a", 0), (3, "b", 1), (3, "c", 0),
        (4, "a", 0), (4, "b", 0), (4, "c", 0),
    ]
    df = spark.createDataFrame(rows, "item_id long, treatment string, correct int")
    [r] = st.cochran_q(df).collect()
    assert (r["n_items"], r["k"], r["total_successes"]) == (4, 3, 6)
    assert (r["g_sq"], r["r_sq"]) == (14, 14)
    assert r["q_micro"] == 3_000_000


def test_kendall_w_extremes(spark):
    # identical rankings -> W = 1
    same = spark.createDataFrame(
        [(j, i, i) for j in range(3) for i in range(1, 4)],
        "judge long, item_id long, rank long",
    )
    [r] = st.kendall_w(same).collect()
    assert (r["n_items"], r["n_judges"]) == (3, 3)
    assert r["w_micro"] == 1_000_000
    # Latin-square rotation -> every rank sum equal -> W = 0
    rot = [
        (0, 1, 1), (0, 2, 2), (0, 3, 3),
        (1, 1, 2), (1, 2, 3), (1, 3, 1),
        (2, 1, 3), (2, 2, 1), (2, 3, 2),
    ]
    [r2] = st.kendall_w(
        spark.createDataFrame(rot, "judge long, item_id long, rank long")
    ).collect()
    assert r2["s_dev"] == 0 and r2["w_micro"] == 0


def test_wilcoxon_signed_rank_hand_case(spark):
    # d = x-y in {1,-2,3,-4,5}: W+ = 1+3+5 = 9 (doubled 18),
    # z = 3/sqrt(55) -> 404519 micro (floor)
    rows = [(11, 10), (10, 12), (13, 10), (6, 10), (15, 10)]
    df = spark.createDataFrame(rows, "x long, y long")
    [r] = st.wilcoxon_signed_rank(df).collect()
    assert (r["n_pairs"], r["n_zero"]) == (5, 0)
    assert (r["w_plus_double"], r["w_minus_double"]) == (18, 12)
    assert r["z_micro"] == 404519


def test_wilcoxon_ties_and_zeros(spark):
    # d in {1, 1, -1, 0}: zero drops; |d|=1 x3 -> avg rank 2
    # (doubled 4): W2+ = 8, W2- = 4
    rows = [(2, 1), (3, 2), (1, 2), (5, 5)]
    df = spark.createDataFrame(rows, "x long, y long")
    [r] = st.wilcoxon_signed_rank(df).collect()
    assert (r["n_pairs"], r["n_zero"]) == (3, 1)
    assert (r["w_plus_double"], r["w_minus_double"]) == (8, 4)
    # doubled ranks always sum to n(n+1)
    assert r["w_plus_double"] + r["w_minus_double"] == 3 * 4


def test_friedman_hand_case(spark):
    # 2 blocks, 3 treatments, identical order -> R=(2,4,6), chi2 = 4
    rows = [
        (1, "a", 10), (1, "b", 20), (1, "c", 30),
        (2, "a", 10), (2, "b", 20), (2, "c", 30),
    ]
    df = spark.createDataFrame(rows, "item_id long, treatment string, score long")
    [r] = st.friedman_test(df).collect()
    assert (r["n_blocks"], r["k"], r["r_sq"]) == (2, 3, 56)
    assert r["chi2_micro"] == 4_000_000
    # tie-break convention: equal scores rank by treatment id, so a
    # fully-tied block is a defined 1..k permutation, not an error
    tied = spark.createDataFrame(
        [(1, "a", 5), (1, "b", 5), (1, "c", 5)],
        "item_id long, treatment string, score long",
    )
    [r2] = st.friedman_test(tied).collect()
    assert (r2["n_blocks"], r2["k"], r2["r_sq"]) == (1, 3, 14)


def test_item_analysis_hand_case(spark):
    # 4 subjects x 3 items; rest-score point-biserial by hand:
    # item a: r = 4/sqrt(32), item b/c: 3/sqrt(33)
    rows = [
        (1, "a", 1), (1, "b", 1), (1, "c", 1),
        (2, "a", 1), (2, "b", 0), (2, "c", 1),
        (3, "a", 0), (3, "b", 0), (3, "c", 1),
        (4, "a", 0), (4, "b", 0), (4, "c", 0),
    ]
    df = spark.createDataFrame(rows, "subject long, item_id string, correct int")
    out = {
        r["item"]: r
        for r in st.item_analysis(df, "item_id", "subject", "correct").collect()
    }
    import math

    assert out["a"]["n_subjects"] == 4 and out["a"]["n_correct"] == 2
    assert out["a"]["p_micro"] == 500_000
    assert out["a"]["r_pb_micro"] == math.floor(4 / math.sqrt(32) * 1e6)
    assert out["b"]["r_pb_micro"] == math.floor(3 / math.sqrt(33) * 1e6)
    assert out["c"]["r_pb_micro"] == math.floor(3 / math.sqrt(33) * 1e6)
    # unanimous item -> zero variance -> NULL discrimination
    uni = spark.createDataFrame(
        [(s, "z", 1) for s in range(4)] + [(s, "w", s % 2) for s in range(4)],
        "subject long, item_id string, correct int",
    )
    out2 = {
        r["item"]: r
        for r in st.item_analysis(uni, "item_id", "subject", "correct").collect()
    }
    assert out2["z"]["r_pb_micro"] is None


# --- round-12 batch 2: ordinal agreement / stratified OR / conformal /
# forecast eval / calibration decomposition / sequential testing ---


def test_weighted_kappa_hand_case(spark):
    # o: (0,0)x2 (1,1)x2 (0,1)x1 (2,2)x1 -> swo=1 (quadratic);
    # marginals a=(3,2,1) b=(2,3,1) -> swe=38; kappa = 1 - 6/38
    rows = [(0, 0), (0, 0), (1, 1), (1, 1), (0, 1), (2, 2)]
    df = spark.createDataFrame(rows, "rating_a long, rating_b long")
    [r] = st.weighted_kappa(df).collect()
    assert (r["n_items"], r["n_categories"]) == (6, 3)
    assert (r["sum_w_obs"], r["sum_w_exp"]) == (1, 38)
    assert r["kappa_micro"] == 1_000_000 - 6_000_000 // 38  # 842106
    # linear weights change the metric; perfect agreement is 1e6 in both
    perfect = spark.createDataFrame(
        [(i % 3, i % 3) for i in range(9)], "rating_a long, rating_b long"
    )
    for wt in ("quadratic", "linear"):
        [p] = st.weighted_kappa(perfect, weights=wt).collect()
        assert p["kappa_micro"] == 1_000_000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        st.weighted_kappa(df, weights="cubic")


def test_mantel_haenszel_hand_case(spark):
    # stratum 1: a=10 b=10 c=5 d=15; stratum 2: a=2 b=8 c=4 d=16
    rows = (
        [("s1", 1, 1)] * 10 + [("s1", 1, 0)] * 10
        + [("s1", 0, 1)] * 5 + [("s1", 0, 0)] * 15
        + [("s2", 1, 1)] * 2 + [("s2", 1, 0)] * 8
        + [("s2", 0, 1)] * 4 + [("s2", 0, 0)] * 16
    )
    df = spark.createDataFrame(rows, "stratum string, treated int, outcome int")
    [r] = st.mantel_haenszel(df).collect()
    assert (r["n_strata"], r["n_rows"]) == (2, 70)
    r1, s1 = 10 * 15 * 10**6 // 40, 10 * 5 * 10**6 // 40
    r2, s2 = 2 * 16 * 10**6 // 30, 8 * 4 * 10**6 // 30
    assert r["sum_r_micro"] == r1 + r2 and r["sum_s_micro"] == s1 + s2
    assert r["or_mh_micro"] == (r1 + r2) * 10**6 // (s1 + s2)
    assert r["or_crude_micro"] == 12 * 31 * 10**6 // (18 * 9)


def test_conformal_calibration_hand_case(spark):
    cal = spark.createDataFrame([(i,) for i in range(1, 11)], "score long")
    test = spark.createDataFrame([(i,) for i in range(1, 21)], "score long")
    [r] = st.conformal_calibration(cal, test).collect()
    # n=10, alpha=1/10 -> k = ceil(11*0.9) = 10 -> qhat = 10
    assert (r["n_cal"], r["k"], r["qhat"]) == (10, 10, 10)
    assert (r["n_test"], r["n_covered"]) == (20, 10)
    assert r["coverage_micro"] == 500_000 and r["target_micro"] == 900_000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        st.conformal_calibration(cal, test, alpha_num=0)


def test_pinball_loss_hand_case(spark):
    df = spark.createDataFrame([(12, 10), (9, 10)], "y long, yhat long")
    out = {
        (r["tau_num"], r["tau_den"]): r
        for r in st.pinball_loss(df, taus=[(1, 10), (1, 2), (9, 10)]).collect()
    }
    # d = {2, -1}: tau=.5 -> mean .75; tau=.1 -> mean .55; tau=.9 -> .95
    assert out[(1, 2)]["mean_loss_micro"] == 750_000
    assert out[(1, 10)]["mean_loss_micro"] == 550_000
    assert out[(9, 10)]["mean_loss_micro"] == 950_000
    assert all(r["n"] == 2 for r in out.values())


def test_brier_decomposition_murphy_identity(spark):
    # p=.25 on 4 items (1 success), p=.75 on 4 (3 successes):
    # REL=0, RES=62500, UNC=250000 -> Brier 187500 = mean (p-y)^2
    rows = [(250_000, 1), (250_000, 0), (250_000, 0), (250_000, 0),
            (750_000, 1), (750_000, 1), (750_000, 1), (750_000, 0)]
    df = spark.createDataFrame(rows, "p_micro long, outcome int")
    [r] = st.brier_decomposition(df).collect()
    assert (r["n"], r["n_bins"]) == (8, 10)
    assert (r["rel_micro"], r["res_micro"], r["unc_micro"]) == (0, 62_500, 250_000)
    assert r["brier_check_micro"] == 187_500


def test_sprt_eval_crossing(spark):
    import math

    # 20 straight successes at p0=1/2 vs p1=3/5: crossing at step 17
    df = spark.createDataFrame([(i, 1) for i in range(1, 21)], "item_id long, correct int")
    [r] = st.sprt_eval(df).collect()
    pos = math.floor(math.log(1.2) * 1e6)
    assert (r["n_items"], r["n_successes"]) == (20, 20)
    assert r["final_llr_micro"] == 20 * pos
    assert r["upper_micro"] == math.floor(math.log(19.0) * 1e6)
    assert r["first_cross_step"] == 17 and r["decision"] == "accept_h1"
    # alternating outcomes never cross: decision 'continue'
    alt = spark.createDataFrame(
        [(i, i % 2) for i in range(1, 21)], "item_id long, correct int"
    )
    [r2] = st.sprt_eval(alt).collect()
    assert r2["decision"] == "continue" and r2["first_cross_step"] is None


def test_krippendorff_ordinal_two_categories_equals_nominal(spark):
    # with exactly two categories the ordinal pair weight is constant,
    # so ordinal alpha == nominal alpha by construction
    rows = [
        (1, "r1", 0), (1, "r2", 0),
        (2, "r1", 1), (2, "r2", 1),
        (3, "r1", 0), (3, "r2", 1),
        (4, "r1", 1), (4, "r2", 1),
        (5, "r1", 0),  # single rating excluded everywhere
    ]
    df = spark.createDataFrame(rows, "item_id long, rater string, label long")
    [o] = st.krippendorff_ordinal(df).collect()
    [n] = st.krippendorff_alpha(df).collect()
    assert o["n_items"] == n["n_items"] == 4
    assert o["n_ratings"] == n["n_ratings"] == 8
    assert o["alpha_micro"] == n["alpha_micro"]


def test_krippendorff_ordinal_penalizes_distance(spark):
    # same disagreement COUNT, but 1-vs-5 disagreements must score
    # lower than 1-vs-2 ones on a 1..5 scale (the nominal form can't
    # tell them apart) — anchor items pin the margins of every level
    anchors = [(100 + l, r, l) for l in (1, 2, 3, 4, 5) for r in ("a", "b")]
    near = anchors + [(1, "a", 1), (1, "b", 2), (2, "a", 1), (2, "b", 2)]
    far = anchors + [(1, "a", 1), (1, "b", 5), (2, "a", 1), (2, "b", 5)]
    dn = spark.createDataFrame(near, "item_id long, rater string, label long")
    df_ = spark.createDataFrame(far, "item_id long, rater string, label long")
    [rn] = st.krippendorff_ordinal(dn).collect()
    [rf] = st.krippendorff_ordinal(df_).collect()
    assert rn["alpha_micro"] > rf["alpha_micro"]
    # nominal alpha sees the same disagreement count in both
    from pyspark.sql import functions as F

    [nn] = st.krippendorff_alpha(
        dn.withColumn("label", F.col("label").cast("string"))
    ).collect()
    [nf] = st.krippendorff_alpha(
        df_.withColumn("label", F.col("label").cast("string"))
    ).collect()
    assert nn["do_scaled"] == nf["do_scaled"]


def test_krippendorff_ordinal_matches_float_reference(spark):
    # exact micro result vs the standard float formulation computed in
    # numpy on a ragged 3-rater, 5-level fixture
    import numpy as np

    rng = [(i, r, 1 + ((i * 7 + r * 3) % 5)) for i in range(12)
           for r in range(3) if (i * 5 + r) % 4 != 0]
    df = spark.createDataFrame(rng, "item_id long, rater long, label long")
    [got] = st.krippendorff_ordinal(df).collect()

    from collections import Counter, defaultdict
    per = defaultdict(Counter)
    for i, r, l in rng:
        per[i][l] += 1
    per = {i: c for i, c in per.items() if sum(c.values()) >= 2}
    margins = Counter()
    for c in per.values():
        margins.update(c)
    labels = sorted(margins)
    n = sum(margins.values())

    def delta2(c, k):
        lo_, hi_ = min(c, k), max(c, k)
        s = sum(margins[g] for g in labels if lo_ <= g <= hi_)
        return (s - (margins[c] + margins[k]) / 2.0) ** 2

    d_o = 0.0
    for cnt in per.values():
        m = sum(cnt.values())
        for c in cnt:
            for k in cnt:
                if c < k:
                    d_o += cnt[c] * cnt[k] * delta2(c, k) / (m - 1)
    d_e = 0.0
    for c in labels:
        for k in labels:
            if c < k:
                d_e += margins[c] * margins[k] * delta2(c, k)
    alpha = 1.0 - (n - 1) * d_o / d_e
    assert got["n_ratings"] == n
    assert abs(got["alpha_micro"] / 1e6 - alpha) < 2e-6


def test_pass_at_k_ci_brackets_and_shrinks(spark):
    # 30 problems, 4 samples each, known per-problem pass counts
    rows = [(p, s, 1 if s < p % 3 else 0) for p in range(30) for s in range(4)]
    df = spark.createDataFrame(rows, "problem_id long, sample long, correct long")
    [r] = st.pass_at_k_ci(df, "problem_id", "correct", k=2).collect()
    assert r["k"] == 2 and r["n_problems"] == 30
    assert 0 <= r["lo_micro"] <= r["pass_at_k_mean_micro"] <= r["hi_micro"] <= 1_000_000
    # mean must equal the profile-weighted pass_at_k mean exactly
    prof = st.pass_at_k(df, "problem_id", "correct", k=2).collect()
    s_micro = sum(p["n_problems"] * p["pass_at_k_micro"] for p in prof)
    import math
    assert r["pass_at_k_mean_micro"] == math.floor(s_micro / 30 / 1e6 * 1e6)
    # 4x the problems at the same rate -> strictly narrower interval
    rows4 = [(p, s, 1 if s < p % 3 else 0) for p in range(120) for s in range(4)]
    df4 = spark.createDataFrame(rows4, "problem_id long, sample long, correct long")
    [r4] = st.pass_at_k_ci(df4, "problem_id", "correct", k=2).collect()
    assert (r4["hi_micro"] - r4["lo_micro"]) < (r["hi_micro"] - r["lo_micro"])
    # degenerate extremes stay inside [0, 1] (the Wilson property)
    allpass = spark.createDataFrame(
        [(p, s, 1) for p in range(5) for s in range(3)],
        "problem_id long, sample long, correct long",
    )
    [ra] = st.pass_at_k_ci(allpass, "problem_id", "correct", k=2).collect()
    assert ra["pass_at_k_mean_micro"] == 1_000_000
    assert ra["lo_micro"] < 1_000_000 and ra["hi_micro"] >= 1_000_000


def test_cusum_two_sided_hand_walk(spark):
    # target=0, slack=0, threshold=15 over [10, -20, 25]:
    # upper walk S+ = 10, 0, 25 ; lower walk S- = 0, 20, 0
    # -> lower breaches first (step 2), upper later (step 3)
    rows = [(1, 1, 10), (1, 2, -20), (1, 3, 25)]
    df = spark.createDataFrame(rows, "g long, t long, v long")
    [r] = st.cusum_two_sided(df, "g", "t", "v",
                             target=0, slack=0, threshold=15).collect()
    assert (r["n"], r["max_cusum_upper"], r["max_cusum_lower"]) == (3, 25, 20)
    assert r["first_alarm_step"] == 2 and r["alarm_side"] == "lower"


def test_cusum_two_sided_upper_matches_one_sided(spark):
    # on any series the upper walk must equal cusum_detect exactly
    rows = [(g, t, (g * 37 + t * 91) % 200) for g in range(3) for t in range(40)]
    df = spark.createDataFrame(rows, "g long, t long, v long")
    two = {r["group"]: r for r in st.cusum_two_sided(
        df, "g", "t", "v", target=80, slack=10, threshold=300).collect()}
    one = {r["group"]: r for r in st.cusum_detect(
        df, "g", "t", "v", target=80, slack=10, threshold=300).collect()}
    for g in one:
        assert two[g]["max_cusum_upper"] == one[g]["max_cusum"]
        assert two[g]["n"] == one[g]["n"]


def test_cusum_two_sided_catches_downward_shift(spark):
    # steady at target, then the metric falls off a cliff: the
    # one-sided (upper) detector never alarms; the two-sided one must
    rows = [(1, t, 100 if t <= 20 else 40) for t in range(1, 41)]
    df = spark.createDataFrame(rows, "g long, t long, v long")
    [one] = st.cusum_detect(df, "g", "t", "v",
                            target=100, slack=5, threshold=200).collect()
    assert one["first_alarm_step"] is None
    [two] = st.cusum_two_sided(df, "g", "t", "v",
                               target=100, slack=5, threshold=200).collect()
    assert two["alarm_side"] == "lower"
    # drop of 55/step below (target - slack): breach after ceil(200/55)+20
    assert two["first_alarm_step"] == 24


def test_cvm_distance_hand_case_and_zero(spark):
    # a=[1,2], b=[3,4]: T = (nm/N^2) * sum (F_a-F_b)^2 over pooled
    # points = (4/16) * (0.25 + 1 + 0.25 + 0) = 0.375 exactly
    rows = [("a", 1), ("a", 2), ("b", 3), ("b", 4)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = st.cvm_distance(df, "g", "v", "a", "b").collect()
    assert (r["n_a"], r["n_b"], r["cvm_micro"]) == (2, 2, 375_000)
    # identical samples -> exactly 0
    same = spark.createDataFrame(
        [("a", v) for v in (1, 2, 3)] + [("b", v) for v in (1, 2, 3)],
        "g string, v long",
    )
    [rz] = st.cvm_distance(same, "g", "v", "a", "b").collect()
    assert rz["cvm_micro"] == 0


def test_cvm_distance_orders_separation(spark):
    # fully separated slices must score far above interleaved ones
    sep = spark.createDataFrame(
        [("a", v) for v in range(10)] + [("b", v + 100) for v in range(10)],
        "g string, v long",
    )
    mix = spark.createDataFrame(
        [("a", 2 * v) for v in range(10)] + [("b", 2 * v + 1) for v in range(10)],
        "g string, v long",
    )
    [rs] = st.cvm_distance(sep, "g", "v", "a", "b").collect()
    [rm] = st.cvm_distance(mix, "g", "v", "a", "b").collect()
    assert rs["cvm_micro"] > 10 * rm["cvm_micro"] > 0


def test_theil_u_determined_independent_asymmetric(spark):
    # Y determines X (X = Y mod 2, Y uniform on 0..3):
    # U(X|Y) = 1, U(Y|X) = H(X)/H(Y) = 1/2
    rows = [(y % 2, y) for y in range(4) for _ in range(5)]
    df = spark.createDataFrame(rows, "x long, y long")
    [r] = st.theil_u(df, "x", "y").collect()
    assert abs(r["u_micro"] - 1_000_000) <= 300
    [rr] = st.theil_u(df, "y", "x").collect()
    assert abs(rr["u_micro"] - 500_000) <= 300
    # independence -> every cell's PMI term is ln(1) = 0 -> U = 0
    ind = spark.createDataFrame(
        [(x, y) for x in range(3) for y in range(4) for _ in range(2)],
        "x long, y long",
    )
    [ri] = st.theil_u(ind, "x", "y").collect()
    assert ri["mi_micro"] == 0 and ri["u_micro"] == 0
    # degenerate X (one category): H(X) = 0 -> NULL
    deg = spark.createDataFrame([(1, y) for y in range(4)], "x long, y long")
    [rd] = st.theil_u(deg, "x", "y").collect()
    assert rd["u_micro"] is None


def test_krippendorff_interval_two_values_equals_family(spark):
    # adjacent integer values make the interval weight constant ->
    # interval == ordinal == nominal on the same data
    rows = [
        (1, "r1", 0), (1, "r2", 0),
        (2, "r1", 1), (2, "r2", 1),
        (3, "r1", 0), (3, "r2", 1),
        (4, "r1", 1), (4, "r2", 1),
    ]
    df = spark.createDataFrame(rows, "item_id long, rater string, label long")
    [i] = st.krippendorff_interval(df).collect()
    [o] = st.krippendorff_ordinal(df).collect()
    [n] = st.krippendorff_alpha(df).collect()
    assert i["alpha_micro"] == o["alpha_micro"] == n["alpha_micro"]


def test_krippendorff_interval_penalizes_distance(spark):
    anchors = [(100 + l, r, l) for l in (1, 2, 3, 4, 5) for r in ("a", "b")]
    near = anchors + [(1, "a", 1), (1, "b", 2)]
    far = anchors + [(1, "a", 1), (1, "b", 5)]
    dn = spark.createDataFrame(near, "item_id long, rater string, label long")
    df_ = spark.createDataFrame(far, "item_id long, rater string, label long")
    [rn] = st.krippendorff_interval(dn).collect()
    [rf] = st.krippendorff_interval(df_).collect()
    assert rn["alpha_micro"] > rf["alpha_micro"]
    # perfect agreement and one-value degeneracy
    perfect = spark.createDataFrame(
        [(i, r, 10 * i) for i in range(4) for r in ("a", "b")],
        "item_id long, rater string, label long",
    )
    [rp] = st.krippendorff_interval(perfect).collect()
    assert rp["alpha_micro"] == 1_000_000
    degen = spark.createDataFrame(
        [(i, r, 7) for i in range(3) for r in ("a", "b")],
        "item_id long, rater string, label long",
    )
    [rd] = st.krippendorff_interval(degen).collect()
    assert rd["alpha_micro"] is None


def test_cochran_armitage_hand_case(spark):
    import math

    # doses 0/1/2, 10 subjects each, cases 1/3/6 -> clear rising trend
    rows = ([(0, 1)] * 1 + [(0, 0)] * 9 + [(1, 1)] * 3 + [(1, 0)] * 7
            + [(2, 1)] * 6 + [(2, 0)] * 4)
    df = spark.createDataFrame(rows, "dose long, case long")
    [r] = st.cochran_armitage(df, "dose", "case").collect()
    assert (r["k"], r["n_total"], r["n_cases"]) == (3, 30, 10)
    # float reference
    N, R = 30, 10
    per = {0: (10, 1), 1: (10, 3), 2: (10, 6)}
    t = sum(w * (ri - ni * R / N) for w, (ni, ri) in per.items())
    var = (R * (N - R) * (N * sum(w * w * ni for w, (ni, _) in per.items())
           - sum(w * ni for w, (ni, _) in per.items()) ** 2)) / N ** 3
    z = t / math.sqrt(var)
    assert abs(r["z_micro"] / 1e6 - z) < 2e-6 and r["z_micro"] > 2_000_000
    # flat rates -> |z| tiny; degenerate all-cases -> NULL
    flat = spark.createDataFrame(
        [(d, 1 if i < 3 else 0) for d in range(3) for i in range(10)],
        "dose long, case long",
    )
    [rf] = st.cochran_armitage(flat, "dose", "case").collect()
    assert abs(rf["z_micro"]) < 2
    allc = spark.createDataFrame([(d, 1) for d in range(3)], "dose long, case long")
    [ra] = st.cochran_armitage(allc, "dose", "case").collect()
    assert ra["z_micro"] is None
