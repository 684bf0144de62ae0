"""Unit tests for relational operators on tiny literal frames, plus
property tests (SURVEY.md §5: count preservation under repartition,
pivot row/col sums)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


def test_accuracy_literal(spark):
    df = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 4)], "true_label int, predicted_label int"
    )
    row = rel.accuracy(df).collect()[0]
    assert row["num_correct"] == 2
    assert row["num_total"] == 3
    assert abs(row["accuracy_pct"] - 200.0 / 3) < 1e-12


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (3, 7, "d")],
        "k int, ts int, name string",
    )
    right = spark.createDataFrame(
        [(1, 9, 100), (1, 15, 200), (2, 5, 300), (3, 8, 400)],
        "k int, rts int, val int",
    )
    out = rel.asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="rts", right_value_cols=["val"]
    )
    got = {r["name"]: r["val"] for r in out.collect()}
    # a@10 -> 9/100; b@20 -> 15/200; c@5 -> 5/300 (same-instant matches); d@7 -> none
    assert got == {"a": 100, "b": 200, "c": 300, "d": None}


def test_asof_join_strict(spark):
    left = spark.createDataFrame([(1, 5, "x")], "k int, ts int, name string")
    right = spark.createDataFrame([(1, 5, 42)], "k int, rts int, val int")
    non_strict = rel.asof_join(left, right, ["k"], "ts", "rts", ["val"])
    strict = rel.asof_join(left, right, ["k"], "ts", "rts", ["val"], strict=True)
    assert non_strict.collect()[0]["val"] == 42
    assert strict.collect()[0]["val"] is None


def test_asof_join_single_shuffle(spark):
    left = spark.createDataFrame([(1, 5, "x")], "k int, ts int, name string")
    right = spark.createDataFrame([(1, 5, 42)], "k int, rts int, val int")
    from plan_checks import count_shuffles

    out = rel.asof_join(left, right, ["k"], "ts", "rts", ["val"])
    # union of two local relations + one window shuffle — no join explosion
    assert count_shuffles(out) <= 2


def test_asof_join_dedup_right(spark):
    """Duplicate (key, ts) right rows: dedup_right=True keeps max(val) per
    instant, making the match deterministic."""
    left = spark.createDataFrame([(1, 10, "x")], "k int, ts int, name string")
    right = spark.createDataFrame(
        [(1, 10, 7), (1, 10, 42), (1, 10, 3)], "k int, rts int, val int"
    )
    out = rel.asof_join(left, right, ["k"], "ts", "rts", ["val"], dedup_right=True)
    assert out.collect()[0]["val"] == 42


def test_topn_per_group_ties(spark):
    df = spark.createDataFrame(
        [("g", 5, 1), ("g", 5, 2), ("g", 3, 3), ("h", 9, 4)],
        "grp string, score int, id int",
    )
    out = rel.topn_per_group(df, ["grp"], [F.desc("score"), F.asc("id")], 2)
    got = sorted((r["grp"], r["id"], r["rn"]) for r in out.collect())
    assert got == [("g", 1, 1), ("g", 2, 2), ("h", 4, 1)]


def test_confusion_matrix_dense(spark):
    df = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 1), (1, 1)], "true_label int, predicted_label int"
    )
    cm = rel.confusion_matrix(df, [0, 1, 2]).toPandas().set_index("true_label")
    assert cm.loc[0, "0"] == 1 and cm.loc[0, "1"] == 1 and cm.loc[0, "2"] == 0
    assert cm.loc[1, "1"] == 2
    assert int(cm.to_numpy().sum()) == 4


def test_count_preserved_under_repartition(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    assert li.repartition(13).count() == n
    assert li.coalesce(1).count() == n


def test_range_join_covers_all_rows(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    tiers = spark.createDataFrame(
        [(1.0, 25.0, "lo"), (26.0, 50.0, "hi")], "lo double, hi double, tier string"
    )
    joined = rel.range_join_broadcast(li, tiers, F.col("l_quantity"), "lo", "hi")
    assert joined.count() == li.count()  # quantities are integers in [1, 50]


def test_dim_lookup_broadcasts(spark, sf_dir):
    from plan_checks import has_broadcast_join

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    out = rel.dim_lookup(cust, nation, cust.c_nationkey == nation.n_nationkey)
    assert has_broadcast_join(out)


def test_apply_changes_merge_semantics(spark):
    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    chg = spark.createDataFrame(
        [
            (1, 100, "U", "a2", 11.0),   # update, older
            (1, 200, "U", "a3", 12.0),   # update, latest wins
            (2, 100, "D", None, None),   # delete key 2
            (4, 100, "I", "new", 40.0),  # insert brand-new key
        ],
        "k long, ts long, op string, name string, bal double",
    )
    out = {r["k"]: r for r in rel.apply_changes(snap, chg, "k", "ts").collect()}
    assert set(out) == {1, 3, 4}  # 2 deleted, 3 untouched, 4 inserted
    assert out[1]["name"] == "a3" and out[1]["bal"] == 12.0
    assert out[3]["name"] == "c" and out[3]["bal"] == 30.0
    assert out[4]["name"] == "new" and out[4]["bal"] == 40.0


def test_apply_changes_validates_columns(spark):
    snap = spark.createDataFrame([(1, "a")], "k long, name string")
    chg = spark.createDataFrame([(1, 1, "U")], "k long, ts long, op string")
    with pytest.raises(ValueError, match="missing snapshot columns"):
        rel.apply_changes(snap, chg, "k", "ts")


def test_resample_ffill_fills_gaps(spark):
    rows = [
        # user 1: observations in hours 0, 3 (gap 1-2), 5
        (1, dt.datetime(2024, 1, 1, 0, 30), 10.0),
        (1, dt.datetime(2024, 1, 1, 3, 10), 30.0),
        (1, dt.datetime(2024, 1, 1, 3, 50), 35.0),  # later in same slot wins
        (1, dt.datetime(2024, 1, 1, 5, 0), 50.0),
        # user 2: single observation -> single grid row
        (2, dt.datetime(2024, 1, 1, 7, 15), 70.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = rel.resample_ffill(df, "ts", "user_id", "value").toPandas()
    u1 = out[out.user_id == 1].sort_values("slot")
    # continuous hourly grid from first to last observed hour
    assert list(u1.slot - u1.slot.min()) == [0, 1, 2, 3, 4, 5]
    assert list(u1.value) == [10.0, 10.0, 10.0, 35.0, 35.0, 50.0]
    assert list(u1.is_observed) == [True, False, False, True, False, True]
    u2 = out[out.user_id == 2]
    assert len(u2) == 1 and u2.value.iloc[0] == 70.0 and bool(u2.is_observed.iloc[0])
    with pytest.raises(ValueError, match="step_seconds"):
        rel.resample_ffill(df, "ts", "user_id", "value", step_seconds=0)


def test_profile_table_with_nulls_and_types(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", None), (2, None, 10.0), (3, "a", 9.0)],
        "k long, s string, v double",
    )
    prof = {r["column"]: r for r in rel.profile_table(df).collect()}
    assert prof["k"]["n_rows"] == 4 and prof["k"]["n_nulls"] == 0
    assert prof["k"]["n_distinct"] == 3
    assert prof["k"]["min_str"] == "1" and prof["k"]["max_str"] == "3"
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["s"]["min_str"] == "a" and prof["s"]["max_str"] == "b"
    # numeric min/max computed on the native type, not lexicographically:
    # string MIN would have been "10.0"
    assert prof["v"]["min_str"] == "2.5" and prof["v"]["max_str"] == "10.0"
    assert prof["v"]["n_nulls"] == 1


def test_scd2_history_intervals(spark):
    feed = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (2, 5, "x")],
        "k long, ts long, val string",
    )
    out = sorted(
        rel.scd2_history(feed, "k", "ts").collect(), key=lambda r: (r["k"], r["ts"])
    )
    k1 = [r for r in out if r["k"] == 1]
    assert [(r["valid_from"], r["valid_to"]) for r in k1] == [(10, 20), (20, 30), (30, None)]
    assert [r["is_current"] for r in k1] == [False, False, True]
    k2 = [r for r in out if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["is_current"] and k2[0]["valid_to"] is None


def test_asof_join_forward_direction(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (3, 7, "d")],
        "k int, ts int, name string",
    )
    right = spark.createDataFrame(
        [(1, 12, 100), (1, 9, 200), (2, 5, 300), (3, 6, 400)],
        "k int, rts int, val int",
    )
    out = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["val"], direction="forward"
    )
    got = {r["name"]: r["val"] for r in out.collect()}
    # a@10 -> next at 12; b@20 -> none after; c@5 -> same-instant 5;
    # d@7 -> none (6 is before)
    assert got == {"a": 100, "b": None, "c": 300, "d": None}
    strict = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["val"], direction="forward", strict=True
    )
    got_s = {r["name"]: r["val"] for r in strict.collect()}
    assert got_s["c"] is None  # same-instant excluded when strict


def test_asof_join_tolerance_matches_pandas_merge_asof(spark):
    import pandas as pd

    left_rows = [(1, 10), (1, 40), (1, 100), (2, 7), (3, 50)]
    right_rows = [(1, 8, 100), (1, 35, 200), (2, 1, 300), (3, 49, 400)]
    left = spark.createDataFrame(left_rows, "k int, ts long")
    right = spark.createDataFrame(right_rows, "k int, rts long, val int")
    out = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["val"], tolerance_seconds=5
    )
    lpdf = pd.DataFrame(left_rows, columns=["k", "ts"]).sort_values("ts")
    rpdf = pd.DataFrame(right_rows, columns=["k", "rts", "val"]).sort_values("rts")
    expect = pd.merge_asof(
        lpdf, rpdf, left_on="ts", right_on="rts", by="k", tolerance=5
    )
    got = {(r["k"], r["ts"]): r["val"] for r in out.collect()}
    for _, row in expect.iterrows():
        want = None if pd.isna(row["val"]) else int(row["val"])
        assert got[(row["k"], row["ts"])] == want, (row["k"], row["ts"])


def test_asof_join_tolerance_timestamps_exact_boundary(spark):
    import datetime as dtm

    t0 = dtm.datetime(2024, 1, 1, 0, 0, 0)
    left = spark.createDataFrame(
        [(1, t0 + dtm.timedelta(seconds=3600))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t0, 7)], "k int, rts timestamp, val int"
    )
    on_boundary = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["val"], tolerance_seconds=3600
    )
    beyond = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["val"], tolerance_seconds=3599.999999
    )
    assert on_boundary.collect()[0]["val"] == 7
    assert beyond.collect()[0]["val"] is None


def test_asof_join_bad_direction_raises(spark):
    left = spark.createDataFrame([(1, 5, "x")], "k int, ts int, name string")
    right = spark.createDataFrame([(1, 5, 42)], "k int, rts int, val int")
    with pytest.raises(ValueError, match="direction"):
        rel.asof_join(left, right, ["k"], "ts", "rts", ["val"], direction="sideways")


def test_point_in_time_join_gap_and_leakage_semantics(spark):
    facts = spark.createDataFrame(
        [(1, 5, "before"), (1, 15, "inside1"), (1, 25, "inside2"),
         (1, 35, "in_gap"), (1, 45, "inside3"), (2, 10, "no_history")],
        "k int, ts long, name string",
    )
    # intervals: [10,20) v=100; [20,30) v=200; GAP [30,40); [40,null) v=300
    history = spark.createDataFrame(
        [(1, 10, 20, 100), (1, 20, 30, 200), (1, 40, None, 300)],
        "k int, valid_from long, valid_to long, v int",
    )
    out = rel.point_in_time_join(
        facts, history, keys=["k"], fact_ts="ts", attr_cols=["v"]
    )
    got = {r["name"]: r["v"] for r in out.collect()}
    assert got == {
        "before": None,      # before first interval
        "inside1": 100,
        "inside2": 200,      # boundary: valid_from=20 inclusive
        "in_gap": None,      # interval [20,30) closed before ts=35
        "inside3": 300,      # open interval
        "no_history": None,  # key absent from history; row preserved
    }
    assert out.count() == 6


def test_asof_join_null_safe_does_not_carry_stale_values(spark):
    """A matched right row whose value is legitimately NULL must yield
    NULL — not the previous right row's value (the ignorenulls-carry
    caveat null_safe=True exists for)."""
    left = spark.createDataFrame([(1, 20, "x")], "k int, ts long, name string")
    right = spark.createDataFrame(
        [(1, 10, 7), (1, 20, None)], "k int, rts long, val int"
    )
    default = rel.asof_join(left, right, ["k"], "ts", "rts", ["val"])
    safe = rel.asof_join(left, right, ["k"], "ts", "rts", ["val"], null_safe=True)
    assert default.collect()[0]["val"] == 7   # documented stale-carry behavior
    assert safe.collect()[0]["val"] is None   # exact row semantics


def test_asof_join_tolerance_long_keys_beyond_2pow53(spark):
    """Epoch-nanos-scale long ordering keys: tolerance decisions must be
    boundary-exact in the native integer domain. 2^53+1 and its neighbors
    are indistinguishable after a double round-trip, so this fails if the
    implementation casts the keys to double (ADVICE round 4)."""
    base = (1 << 53) + 1  # not representable as a double (rounds to 2^53)
    left = spark.createDataFrame([(1, base + 10, "x")], "k int, ts long, name string")
    right = spark.createDataFrame([(1, base, 7)], "k int, rts long, val int")
    on_boundary = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["val"], tolerance_seconds=10
    )
    beyond = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["val"], tolerance_seconds=9
    )
    assert on_boundary.collect()[0]["val"] == 7
    assert beyond.collect()[0]["val"] is None
    # fractional tolerance on integer keys: diff<=9 iff diff<=9.5
    frac = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["val"], tolerance_seconds=9.5
    )
    assert frac.collect()[0]["val"] is None


def test_asof_join_tolerance_long_keys_span_overflow(spark):
    """A left/right span that overflows int64 subtraction must come back
    as 'outside tolerance' (NULL value), not crash or wrap around."""
    left = spark.createDataFrame([(1, (1 << 62), "x")], "k int, ts long, name string")
    right = spark.createDataFrame([(1, -(1 << 62), 7)], "k int, rts long, val int")
    out = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["val"], tolerance_seconds=100
    )
    assert out.collect()[0]["val"] is None


def test_asof_join_dedup_right_with_right_ts_in_values(spark):
    """Passing right_ts inside right_value_cols together with
    dedup_right=True must not produce a duplicate/ambiguous column
    (ADVICE round 4): the grouping column is excluded from the dedup
    aggregation and still flows through as a value column."""
    left = spark.createDataFrame([(1, 10, "x")], "k int, ts int, name string")
    right = spark.createDataFrame(
        [(1, 8, 7), (1, 8, 42)], "k int, rts int, val int"
    )
    out = rel.asof_join(
        left, right, ["k"], "ts", "rts", ["rts", "val"], dedup_right=True
    )
    row = out.collect()[0]
    assert row["val"] == 42
    assert row["rts"] == 8


def test_histogram_fixed_exact_buckets(spark):
    df = spark.createDataFrame(
        [(v,) for v in [-5.0, 0.0, 9.99, 10.0, 55.0, 99.9, 100.0, 250.0]],
        "v double",
    )
    out = {r["bucket"]: r for r in rel.histogram_fixed(df, "v", 0.0, 100.0, 10).collect()}
    # -5 clamps into bucket 0; 100 and 250 clamp into bucket 9
    assert out[0]["n"] == 3 and out[0]["min_v"] == -5.0
    assert out[1]["n"] == 1 and out[1]["min_v"] == 10.0
    assert out[5]["n"] == 1
    assert out[9]["n"] == 3 and out[9]["max_v"] == 250.0
    assert sum(r["n"] for r in out.values()) == 8
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hi > lo"):
        rel.histogram_fixed(df, "v", 1.0, 1.0, 4)
    with _pytest.raises(ValueError, match="n_buckets"):
        rel.histogram_fixed(df, "v", 0.0, 1.0, 0)


def test_interpolate_linear_hand_computed(spark):
    """Observations at hours 0, 3 (values 10 -> 40): interior slots lerp
    to 20 and 30; the trailing observation emits itself only."""
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(1, t0, 10.0), (1, t0 + dt.timedelta(hours=3), 40.0)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {r["slot"]: r for r in rel.interpolate_linear(df, "ts", "user_id", "value").collect()}
    base = min(out)
    vals = [out[base + i]["value"] for i in range(4)]
    assert vals == [10.0, 20.0, 30.0, 40.0]
    assert [out[base + i]["is_observed"] for i in range(4)] == [True, False, False, True]
    with pytest.raises(ValueError, match="step_seconds"):
        rel.interpolate_linear(df, "ts", "user_id", "value", step_seconds=0)


def test_interpolate_at_matches_window_form_on_grid(spark):
    """Cogrouped np.interp twin: querying exactly the grid timestamps
    reproduces interpolate_linear's values (for in-range queries);
    out-of-range queries return NULL (no extrapolation)."""
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (u, t0 + dt.timedelta(hours=h), float(v))
        for u, h, v in [(1, 0, 10), (1, 3, 40), (1, 7, 12), (2, 1, 5), (2, 2, 7)]
    ]
    obs = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    grid = rel.interpolate_linear(obs, "ts", "user_id", "value")
    queries = grid.select("user_id", F.col("grid_ts").alias("qts"))
    got = {
        (r["user_id"], r["qts"]): r["value"]
        for r in rel.interpolate_at(obs, queries, "user_id", "ts", "value", "qts").collect()
    }
    for r in grid.collect():
        assert got[(r["user_id"], r["grid_ts"])] == pytest.approx(r["value"], abs=1e-9)
    # out-of-range -> NULL
    far = spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=100)), (1, t0 - dt.timedelta(hours=1))],
        "user_id long, qts timestamp",
    )
    vals = [r["value"] for r in rel.interpolate_at(obs, far, "user_id", "ts", "value", "qts").collect()]
    assert vals == [None, None]


def test_cohort_retention_hand_computed(spark):
    t0 = dt.datetime(2024, 1, 1)  # Monday
    week = dt.timedelta(days=7)
    rows = [
        (1, t0), (1, t0 + week), (1, t0 + 2 * week),   # cohort w0, returns w1 w2
        (2, t0), (2, t0 + 2 * week),                     # cohort w0, returns w2
        (3, t0 + week),                                  # cohort w1, never returns
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r["cohort_period"] , r["period_offset"]): r["n_users"]
           for r in rel.cohort_retention(df, "ts", "user_id").collect()}
    cohorts = sorted({c for c, _ in out})
    w0, w1 = cohorts[0], cohorts[1]
    assert out[(w0, 0)] == 2 and out[(w0, 1)] == 1 and out[(w0, 2)] == 2
    assert out[(w1, 0)] == 1 and (w1, 1) not in out
    with pytest.raises(ValueError, match="period_seconds"):
        rel.cohort_retention(df, "ts", "user_id", period_seconds=0)


# --------------------------------------------------------------------------
# round-5 continuation: ewma / skyline / run-lengths / zscore / contingency
# --------------------------------------------------------------------------
def test_ewma_bounded_matches_truncated_formula(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (int(k), int(i), float(v))
        for k in range(3)
        for i, v in enumerate(rng.uniform(0, 10, size=20).round(2))
    ]
    df = spark.createDataFrame(rows, "k int, i int, x double")
    out = {
        (r["k"], r["i"]): r["ewma"]
        for r in rel.ewma_bounded(
            df, key_col="k", order_cols=["i"], value_col="x", alpha=0.3, depth=5
        ).collect()
    }
    series = {}
    for k, i, v in rows:
        series.setdefault(k, []).append(v)
    for k, xs in series.items():
        for t in range(len(xs)):
            num = den = 0.0
            for j in range(5):
                if t - j < 0:
                    break
                c = 0.3 * (0.7**j)
                num += c * xs[t - j]
                den += c
            assert abs(out[(k, t)] - num / den) < 1e-9


def test_ewma_head_is_unbiased(spark):
    # First row of each series must equal the raw value exactly (the
    # normalizer divides by the weight actually present).
    df = spark.createDataFrame([(1, 0, 42.0)], "k int, i int, x double")
    [r] = rel.ewma_bounded(
        df, key_col="k", order_cols=["i"], value_col="x", alpha=0.25, depth=8
    ).collect()
    assert r["ewma"] == 42.0


def _brute_skyline(points):
    out = []
    for a in points:
        dominated = any(
            b[0] <= a[0] and b[1] >= a[1] and (b[0] < a[0] or b[1] > a[1])
            for b in points
        )
        if not dominated:
            out.append(a)
    return sorted(out)


def test_skyline_2d_matches_brute_force(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    pts = [
        (float(p), int(s))
        for p, s in zip(
            rng.integers(1, 40, size=200).astype(float), rng.integers(1, 40, size=200)
        )
    ]
    df = spark.createDataFrame(
        [(i, p, s) for i, (p, s) in enumerate(pts)], "id int, price double, size int"
    ).repartition(7)
    got = sorted(
        (r["price"], r["size"])
        for r in rel.skyline_2d(df, "price", "size").collect()
    )
    assert got == _brute_skyline(pts)


def test_skyline_2d_ties_are_co_skyline(spark):
    # Two identical optimal points: neither strictly dominates the other.
    df = spark.createDataFrame(
        [(1, 1.0, 10), (2, 1.0, 10), (3, 2.0, 5)], "id int, price double, size int"
    )
    got = sorted(r["id"] for r in rel.skyline_2d(df, "price", "size").collect())
    assert got == [1, 2]


def test_run_lengths_islands(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, "a"), (2, 1, "b"), (2, 2, "b")],
        "k int, t int, s string",
    )
    runs = sorted(
        (r["k"], r["s"], r["run_len"], r["t_first"], r["t_last"])
        for r in rel.run_lengths(df, "k", ["t"], "s").collect()
    )
    assert runs == sorted(
        [(1, "a", 2, 1, 2), (1, "a", 1, 4, 4), (1, "b", 1, 3, 3), (2, "b", 2, 1, 2)]
    )


def test_zscore_outliers_flags_planted_spike(spark):
    rows = [(i, "g", 10.0) for i in range(50)] + [(99, "g", 1000.0)]
    df = spark.createDataFrame(rows, "id int, g string, v double")
    got = rel.zscore_outliers(df, "g", "v", threshold=3.0).collect()
    assert [r["id"] for r in got] == [99]
    assert got[0]["zscore"] > 3.0


def test_contingency_cells_marginals(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 1), ("b", 2), ("b", 2)],
        "r string, c int",
    )
    cells = rel.contingency_cells(df, "r", "c").collect()
    assert sum(r["observed"] for r in cells) == 6
    # expected counts preserve marginals exactly
    from collections import defaultdict

    exp_row = defaultdict(float)
    for r in cells:
        exp_row[r["r"]] += r["expected"]
    assert all(abs(v - 3.0) < 1e-9 for v in exp_row.values())
    # uniform-ish table: contributions are finite and non-negative
    assert all(r["contribution"] >= 0.0 for r in cells)


def test_rolling_zscore_flags_spike_only(spark):
    rows = [(1, t, 10.0 + (t % 3) * 0.1) for t in range(30)]
    rows[25] = (1, 25, 500.0)
    df = spark.createDataFrame(rows, "k int, t int, v double")
    got = rel.rolling_zscore(
        df, "k", ["t"], "v", window_rows=20, min_periods=10, threshold=2.5
    ).collect()
    assert [r["t"] for r in got] == [25]
    assert got[0]["roll_z"] > 2.5


def test_rolling_zscore_constant_window_emits_nothing(spark):
    df = spark.createDataFrame([(1, t, 7.0) for t in range(15)], "k int, t int, v double")
    assert (
        rel.rolling_zscore(df, "k", ["t"], "v", window_rows=10, min_periods=5).count()
        == 0
    )


def test_interval_overlap_join_matches_brute_force(spark):
    import datetime as _dt
    import random

    rnd = random.Random(5)
    base = _dt.datetime(2024, 1, 1)
    mk = lambda m: base + _dt.timedelta(minutes=m)
    left, right = [], []
    for i in range(60):
        s = rnd.randrange(0, 3000)
        left.append((i % 3, i, mk(s), mk(s + rnd.randrange(10, 200))))
    for j in range(60):
        s = rnd.randrange(0, 3000)
        right.append((j % 3, 1000 + j, mk(s), mk(s + rnd.randrange(10, 200))))
    ldf = spark.createDataFrame(left, "k int, lid int, ls timestamp, le timestamp")
    rdf = spark.createDataFrame(right, "k int, rid int, rs timestamp, re timestamp")
    got = sorted(
        (r["lid"], r["rid"])
        for r in rel.interval_overlap_join(
            ldf, rdf, ["k"], "ls", "le", "rs", "re", bin_seconds=600
        ).collect()
    )
    want = sorted(
        (l[1], r[1])
        for l in left
        for r in right
        if l[0] == r[0] and l[2] < r[3] and r[2] < l[3]
    )
    assert got == want


def test_interval_overlap_halfopen_boundary(spark):
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1, 0, 0)
    t1 = _dt.datetime(2024, 1, 1, 1, 0)
    t2 = _dt.datetime(2024, 1, 1, 2, 0)
    ldf = spark.createDataFrame([(1, 1, t0, t1)], "k int, lid int, ls timestamp, le timestamp")
    rdf = spark.createDataFrame([(1, 2, t1, t2)], "k int, rid int, rs timestamp, re timestamp")
    # [t0,t1) and [t1,t2) touch but do not overlap
    assert (
        rel.interval_overlap_join(ldf, rdf, ["k"], "ls", "le", "rs", "re").count() == 0
    )


def test_running_distinct_counts_first_appearances(spark):
    import datetime as _dt

    d = lambda day, u: ("g", u, _dt.datetime(2024, 1, day, 12))
    rows = [d(1, 10), d(1, 11), d(2, 10), d(2, 12), d(4, 13), d(4, 10)]
    df = spark.createDataFrame(rows, "g string, u long, ts timestamp")
    got = {r["day"]: r["cum_distinct"] for r in rel.running_distinct(df, "g", "u", "ts").collect()}
    assert got == {"2024-01-01": 2, "2024-01-02": 3, "2024-01-04": 4}


def test_differential_join_equals_plain_join_and_broadcasts(spark):
    from plan_checks import has_broadcast_join

    # 1 hot key (80% of rows) + 50 cold keys
    rows = [(0, i) for i in range(800)] + [(1 + i % 50, i) for i in range(200)]
    left = spark.createDataFrame(rows, "k long, v long")
    right = spark.createDataFrame([(k, k * 10) for k in range(51)], "k long, r long")
    out = rel.differential_join(left, right, "k", top_k=3)
    plain = left.join(right, "k")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
    assert has_broadcast_join(out)


def test_differential_join_no_hot_keys_falls_back(spark):
    left = spark.createDataFrame([(1, 1)], "k long, v long")
    right = spark.createDataFrame([(1, 10)], "k long, r long")
    out = rel.differential_join(left, right, "k", top_k=5, min_count=999)
    assert out.collect() == [(1, 1, 10)] or sorted(map(tuple, out.collect())) == [(1, 1, 10)]


def test_gini_extremes_and_partition_invariance(spark):
    # perfectly equal distribution -> G = (n-1)/n - ... -> 0 as expected
    eq = spark.createDataFrame([("g", 10.0)] * 50, "k string, v double")
    [r] = rel.gini_coefficient(eq, "k", "v").collect()
    assert abs(r["gini"]) < 1e-12
    # one row owns everything -> G -> (n-1)/n
    conc = spark.createDataFrame(
        [("g", 0.01)] * 49 + [("g", 10000.0)], "k string, v double"
    )
    [r2] = rel.gini_coefficient(conc, "k", "v").collect()
    assert r2["gini"] > 0.95
    # partition invariance (decimal sums + tie-invariant ranks)
    [r3] = rel.gini_coefficient(conc.repartition(7), "k", "v").collect()
    assert r3["gini"] == r2["gini"]


def test_skyline_2d_drops_null_axes(spark):
    df = spark.createDataFrame(
        [(1, 1.0, 10), (2, None, 99), (3, 5.0, None)],
        "id int, price double, size int",
    )
    got = [r["id"] for r in rel.skyline_2d(df, "price", "size").collect()]
    assert got == [1]


def test_zscore_outliers_constant_group_emits_nothing(spark):
    """Round-6 pin: a constant group has var == 0 (and fp64 can round
    sxx/n - mean^2 to a tiny NEGATIVE, whose sqrt is NaN; under Spark's
    NaN ordering abs(NaN) > t is TRUE) — the guard must emit ZERO rows
    for the constant group while still catching a planted spike."""
    rows = [("const", 7.25)] * 40 + [("varied", 10.0)] * 30 + [("varied", 10.5)] * 9
    rows += [("varied", 10_000.0)]  # planted spike
    df = spark.createDataFrame(rows, "g string, v double")
    got = rel.zscore_outliers(df, "g", "v", threshold=3.0).collect()
    assert all(r["g"] == "varied" for r in got)
    assert any(r["v"] == 10_000.0 for r in got)


def test_interval_overlap_join_preserves_duplicate_rows(spark):
    """Round-6 pin: bag semantics — genuinely duplicate input rows must
    each produce their own output row (the old whole-row .distinct()
    collapsed them), and a pair spanning several shared bins is still
    emitted exactly once via the canonical-bin filter."""
    import datetime as _dt

    t0 = _dt.datetime(2024, 5, 1, 0, 0)

    def ts(minutes):
        return t0 + _dt.timedelta(minutes=minutes)

    # two IDENTICAL left rows spanning 3 one-minute bins
    left = spark.createDataFrame(
        [("k", ts(0), ts(3)), ("k", ts(0), ts(3))],
        "k string, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [("k", ts(1), ts(2))], "k string, rs timestamp, re timestamp"
    )
    out = rel.interval_overlap_join(
        left, right, ["k"], "ls", "le", "rs", "re", bin_seconds=60
    ).collect()
    # SQL bag semantics: 2 left dups x 1 right = exactly 2 rows
    assert len(out) == 2


def test_skyline_2d_grouped_matches_per_group_naive(spark):
    """Round-7 (verdict order 6): partition_cols computes an independent
    Pareto front per group; verified against the quadratic per-group
    NOT-EXISTS definition, including cross-group non-domination (a
    globally-dominated row survives if nothing in ITS group beats it)."""
    import itertools
    import random

    rng = random.Random(7)
    rows = [
        (g, i, float(rng.randint(1, 20)), rng.randint(1, 15))
        for g in ("a", "b", "c")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "grp string, id int, price double, size int")
    got = {
        (r["grp"], r["id"])
        for r in rel.skyline_2d(
            df.repartition(5), "price", "size", partition_cols=["grp"]
        ).collect()
    }
    naive = set()
    for g, i, p, s in rows:
        dominated = any(
            g2 == g and p2 <= p and s2 >= s and (p2 < p or s2 > s)
            for g2, i2, p2, s2 in rows
        )
        if not dominated:
            naive.add((g, i))
    assert got == naive
    # a globally-dominated row can be in its group's skyline
    assert any(
        (g, i) in got
        and any(
            g2 != g and p2 <= p and s2 >= s and (p2 < p or s2 > s)
            for g2, i2, p2, s2 in rows
        )
        for g, i, p, s in rows
    )


# --- interpolate_segments (round 11, oracle-provable interpolation) ---


def test_interpolate_segments_planted(spark):
    import datetime as dt

    def ts(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    obs = spark.createDataFrame(
        [(1, ts(0), 0.0), (1, ts(10), 10.0), (2, ts(0), 4.0)],
        "user_id long, ts timestamp, value double",
    )
    qs = spark.createDataFrame(
        [(1, ts(5)), (1, ts(10)), (1, ts(11)), (2, ts(0)), (2, ts(1))],
        "user_id long, ts timestamp",
    )
    out = {
        (r["user_id"], r["ts"].second): r["value_micro"]
        for r in rel.interpolate_segments(obs, qs, "user_id", "ts", "value", "ts").collect()
    }
    # midpoint interpolates, endpoint exact, out-of-range dropped,
    # single-obs key answers only the exact point
    assert out == {(1, 5): 5_000_000, (1, 10): 10_000_000, (2, 0): 4_000_000}


def test_interpolate_segments_matches_float_twin(spark, sf_dir):
    """On the gate slice, the provable twin agrees with interpolate_at
    (np.interp) to within 1 micro-unit on every in-range point."""
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    obs = ev.filter(F.col("event_type") == "view")
    qs = ev.filter(F.col("event_type") == "click")
    prov = {
        (r["user_id"], r["ts"]): r["value_micro"]
        for r in rel.interpolate_segments(obs, qs, "user_id", "ts", "value", "ts").collect()
    }
    ref = {
        (r["user_id"], r["ts"]): r["value"]
        for r in rel.interpolate_at(obs, qs, "user_id", "ts", "value", "ts").collect()
        # drop out-of-range points (surface as NULL or NaN)
        if r["value"] is not None and r["value"] == r["value"]
    }
    # the float twin keeps duplicate-ts obs differently (keep=last vs max)
    # only where duplicates exist; fixture event ts are unique per user.
    assert set(prov) == set(ref)
    for k, vm in prov.items():
        assert abs(vm - ref[k] * 1_000_000) <= 1.0, (k, vm, ref[k])


def test_interpolate_segments_duplicate_ts_takes_max(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 1, 0, 0, 10)
    obs = spark.createDataFrame(
        [(1, t0, 1.0), (1, t0, 3.0), (1, t1, 3.0)],
        "user_id long, ts timestamp, value double",
    )
    qs = spark.createDataFrame([(1, t0)], "user_id long, ts timestamp")
    out = rel.interpolate_segments(obs, qs, "user_id", "ts", "value", "ts").collect()
    assert len(out) == 1 and out[0]["value_micro"] == 3_000_000


def test_interpolate_at_production_wrapper_smoke(spark, sf_dir):
    """interpolate_at was registry-demoted round 14 (the oracle-green
    gate form is interpolate_provable); this pin keeps the production
    cogrouped-pandas wrapper exercised end-to-end at fixture scale."""
    import __spark_entry__ as entry

    df = entry.q_interpolate_at(spark, sf_dir)
    rows = df.limit(50).collect()
    assert len(rows) > 0
    assert {"user_id", "qts", "value"} <= set(df.columns)
