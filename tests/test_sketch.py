"""DataSketches HLL operators: the mergeability algebra that makes
sketches worth storing (union of partial sketches == sketch of the
whole), plus the bounded-error gate shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators.sketch import (
    distinct_bounded,
    hll_sliding_distinct,
)
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


def test_hll_union_of_group_sketches_equals_whole(spark, sf_dir):
    """estimate(union(per-group sketches)) == estimate(one sketch over
    everything): the incremental-maintenance property. The groups are
    days: a trailing window wide enough to hold every day unions all the
    per-day sketches. HLL register merge is exact (max per register), so
    the two are EQUAL, not just close."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))).first()[0]
    per_day = hll_sliding_distinct(ev, "ts", "user_id", window_days=days + 1)
    unioned = per_day.orderBy(F.desc("day")).first()["est"]
    whole = (
        ev.agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(12))
            ).alias("e")
        ).collect()[0]["e"]
    )
    assert unioned == whole


def test_hll_estimate_within_bound(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    rows = distinct_bounded(ev, "event_type", "user_id", rel_tol=0.05).collect()
    assert rows, "expected at least one event_type group"
    for r in rows:
        assert r["sketch_ok"], (r["event_type"], r["exact_distinct"])
        assert r["exact_distinct"] > 0


def test_hll_sketch_insensitive_to_partitioning(spark, sf_dir):
    """Sketch estimates are deterministic under repartitioning — register
    merge is commutative/associative, so the physical plan can't change
    the answer."""
    ev = load_table(spark, sf_dir, "events")
    a = hll_sliding_distinct(ev, "ts", "user_id")
    b = hll_sliding_distinct(ev.repartition(13, "user_id"), "ts", "user_id")
    rows = sorted(map(tuple, a.collect()))
    assert rows and rows == sorted(map(tuple, b.collect()))


def test_heavy_hitters_exact_guarantee_and_partition_invariance(spark):
    """Planted zipf-ish skew: every value above the n/capacity support
    must be reported with its exact count, none below it, and the output
    must not depend on partitioning (1 vs 17 partitions) even though the
    MG candidate superset does."""
    from collections import Counter

    from hdinsight_pyspark_cntk_integration_spark.operators.sketch import heavy_hitters_exact

    vals = []
    for v in range(40):
        vals.extend([v] * (3 + (200 if v < 3 else v)))  # 3 hot values
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "row_id long, v long")
    exact = Counter(vals)
    n = len(vals)
    cap = 10
    want = {v: c for v, c in exact.items() if c * cap > n}
    assert 1 <= len(want) < len(exact)

    for parts in (1, 17):
        out = heavy_hitters_exact(df.repartition(parts), "v", capacity=cap)
        got = {r["v"]: r["n_occurrences"] for r in out.collect()}
        assert got == want, parts


# --------------------------------------------------------------------------
# t-digest
# --------------------------------------------------------------------------
def test_tdigest_rank_error_bounded_across_partitionings(spark):
    import numpy as np

    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    rng = np.random.default_rng(3)
    vals = np.concatenate(
        [rng.uniform(0, 100, 4000), rng.lognormal(3.0, 1.0, 4000)]
    )
    rows = [("g", float(v)) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    srt = np.sort(vals)
    for parts in (1, 13):
        est = {
            r["q"]: r["est"]
            for r in sk.tdigest_quantiles(
                df.repartition(parts), "g", "v", [0.1, 0.5, 0.9, 0.99], delta=200
            ).collect()
        }
        for q, e in est.items():
            rank = float(np.searchsorted(srt, e, side="right")) / len(srt)
            assert abs(rank - q) <= 0.015, (parts, q, e, rank)


def test_tdigest_centroid_count_bounded(spark):
    # the whole point: digest size is O(delta), independent of n
    import numpy as np

    from hdinsight_pyspark_cntk_integration_spark.operators.sketch import _td_compress

    rng = np.random.default_rng(5)
    vals = rng.normal(0, 1, 50_000)
    m, w = _td_compress(vals, np.ones_like(vals), delta=100)
    # one-pass greedy midpoint-q merging lands ~4.6·delta centroids on
    # 50k normals — O(delta), constant-factor above the ~2·delta ideal
    assert len(m) <= 5 * 100
    assert abs(float(w.sum()) - 50_000.0) < 1e-6


def test_hll_sliding_distinct_tracks_exact(spark):
    import datetime as _dt

    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    base = _dt.datetime(2024, 3, 1)
    rows = []
    # 10 days; day d sees users [d*40, d*40+120) — overlapping cohorts
    for d in range(10):
        for u in range(d * 40, d * 40 + 120):
            rows.append((base + _dt.timedelta(days=d, hours=u % 24), u))
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    est = {
        str(r["day"]): r["est"]
        for r in sk.hll_sliding_distinct(df, "ts", "user_id", window_days=3).collect()
    }
    for d in range(10):
        lo = max(0, d - 2) * 40
        exact = (d * 40 + 120) - lo
        day = str((base + _dt.timedelta(days=d)).date())
        assert abs(est[day] / exact - 1.0) <= 0.05, (day, est[day], exact)


def test_tdigest_weighted_quantiles_match_numpy(spark):
    import numpy as np

    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    rng = np.random.default_rng(11)
    vals = rng.uniform(0, 100, 3000)
    wts = rng.integers(1, 50, 3000).astype(float)
    df = spark.createDataFrame(
        [("g", float(v), float(w)) for v, w in zip(vals, wts)],
        "g string, v double, w double",
    ).repartition(7)
    est = {
        r["q"]: r["est"]
        for r in sk.tdigest_quantiles(
            df, "g", "v", [0.25, 0.5, 0.9], delta=200, weight_col="w"
        ).collect()
    }
    order = np.argsort(vals, kind="stable")
    cw = np.cumsum(wts[order]) / wts.sum()
    for q, e in est.items():
        # weighted rank of the estimate must sit within 0.015 of q
        rank = cw[np.searchsorted(vals[order], e, side="right") - 1]
        assert abs(rank - q) <= 0.015, (q, e, rank)


def test_hll_sliding_distinct_calendar_gap(spark):
    """Round-6 pin: the window is CALENDAR-based (rangeBetween over an
    integer day number), so a gap in the day sequence shrinks the union
    to the days actually inside the trailing N calendar days. Days
    {1, 2, 10} with window 3: day 10's estimate covers ONLY day 10 —
    a rowsBetween frame would reach back to days 1-2 and report ~17."""
    import datetime as _dt

    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    base = _dt.datetime(2024, 3, 1)
    rows = []
    for day, users in ((1, range(0, 5)), (2, range(5, 10)), (10, range(100, 107))):
        for u in users:
            rows.append((base + _dt.timedelta(days=day), u))
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    est = {
        r["day"].day: int(r["est"])
        for r in sk.hll_sliding_distinct(df, "ts", "user_id", window_days=3).collect()
    }
    # HLL is exact at these cardinalities (sparse mode).
    assert est[2] == 5  # 2024-03-02: its own 5 users
    assert est[3] == 10  # 2024-03-03: days 2+3 inside the 3-day window
    assert est[11] == 7  # 2024-03-11: the gap means ONLY its own 7 users


def test_cms_never_undercounts_and_merges_exactly(spark):
    """The CMS one-sided guarantee (est >= exact for every key, exact
    when no collisions) and the mergeability contract: sketch(A) merged
    with sketch(B) cell-equals sketch(A union B), and estimates from the
    merged sketch match the whole-corpus sketch."""
    from pyspark.sql import functions as F

    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    rows = [(k,) for k in range(50) for _ in range(k % 7 + 1)]
    df = spark.createDataFrame(rows, "k long")
    a, b = df.filter(F.col("k") < 25), df.filter(F.col("k") >= 25)
    whole = sk.cms_build(df, "k", depth=4, width=256)
    # merge = union + per-cell sum (the storage contract cms_build documents)
    merged = (
        sk.cms_build(a, "k", depth=4, width=256)
        .unionByName(sk.cms_build(b, "k", depth=4, width=256))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    cells_w = sorted(map(tuple, whole.collect()))
    cells_m = sorted(map(tuple, merged.collect()))
    assert cells_w == cells_m
    probes = df.select("k").distinct()
    est = {r["k"]: r["est"] for r in sk.cms_estimate(whole, probes, "k", depth=4, width=256).collect()}
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(est[k] >= exact[k] for k in exact)
    # at 50 keys x 256 buckets x 4 rows, expect most estimates exact
    assert sum(est[k] == exact[k] for k in exact) >= 45
    # absent key: estimate is >= 0 and bounded by total mass
    absent = spark.createDataFrame([(999,)], "k long")
    [r] = sk.cms_estimate(whole, absent, "k", depth=4, width=256).collect()
    assert 0 <= r["est"] <= len(rows)
