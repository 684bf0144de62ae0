"""Market-basket / customer-value mining (operators.mining) plus the
round-7 KMV, sentence-dedup, DSIR and random-projection additions:
hand-computed expectations on planted fixtures, boundary semantics, and
plan-shape assertions (no shuffles where the design promises none)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn
from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk
from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
from hdinsight_pyspark_cntk_integration_spark.operators import text as tx
from hdinsight_pyspark_cntk_integration_spark.operators import similarity as sim
from plan_checks import count_shuffles


# --- frequent_pairs ------------------------------------------------------


def test_frequent_pairs_hand_computed(spark):
    # 4 baskets; A and B co-occur in 3, C joins once, D appears once.
    rows = [
        (1, "A"), (1, "B"),
        (2, "A"), (2, "B"), (2, "C"),
        (3, "A"), (3, "B"),
        (4, "A"), (4, "C"), (4, "D"),
        # duplicate (basket, item) row must not inflate counts
        (1, "A"),
    ]
    df = spark.createDataFrame(rows, "basket int, item string")
    out = mn.frequent_pairs(df, "basket", "item", min_support=2, min_pair_support=1)
    got = {(r["item_a"], r["item_b"]): r.asDict() for r in out.collect()}
    # D has support 1 < 2 -> pruned from every pair (Apriori).
    assert all("D" not in k for k in got)
    ab = got[("A", "B")]
    assert ab["pair_n"] == 3 and ab["n_a"] == 4 and ab["n_b"] == 3
    assert ab["n_baskets"] == 4
    assert ab["conf_a_b_micro"] == 3 * 1_000_000 // 4  # P(B|A)
    assert ab["conf_b_a_micro"] == 1_000_000  # P(A|B) = 3/3
    assert ab["lift_micro"] == 3 * 4 * 1_000_000 // (4 * 3)  # = 1.0
    ac = got[("A", "C")]
    assert ac["pair_n"] == 2 and ac["lift_micro"] == 2 * 4 * 1_000_000 // (4 * 2)


def test_frequent_pairs_min_pair_support_filters(spark):
    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "C"), (3, "A"), (3, "B")]
    df = spark.createDataFrame(rows, "basket int, item string")
    out = mn.frequent_pairs(df, "basket", "item", min_support=1, min_pair_support=2)
    pairs = {(r["item_a"], r["item_b"]) for r in out.collect()}
    assert pairs == {("A", "B")}


# --- rfm_segments --------------------------------------------------------


def test_rfm_segments_quartiles_deterministic(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    # 4 customers in one market: recency 0/10/20/30 days before ref,
    # frequency 4/3/2/1, monetary descending with the same order.
    for cust, (days_ago, n_orders) in enumerate(
        [(0, 4), (10, 3), (20, 2), (30, 1)]
    ):
        for i in range(n_orders):
            rows.append(
                ("m1", cust, base - dt.timedelta(days=days_ago + i * 40), 100.0 * (4 - cust))
            )
    df = spark.createDataFrame(rows, "mkt string, cust long, dt timestamp, amt double")
    out = mn.rfm_segments(df, "mkt", customer_col="cust", date_col="dt", amount_col="amt")
    by_cust = {r["customer"]: r for r in out.collect()}
    assert by_cust[0]["segment"] == "111"  # most recent, most frequent, biggest
    assert by_cust[3]["segment"] == "444"
    assert by_cust[0]["recency_days"] == 0 and by_cust[3]["recency_days"] == 30
    assert by_cust[1]["monetary_cents"] == 3 * 30000


def test_rfm_segments_partitioned_not_global(spark):
    import datetime as dt

    rows = [
        ("a", 1, dt.datetime(2024, 1, 1), 10.0),
        ("b", 2, dt.datetime(2024, 1, 5), 20.0),
    ]
    df = spark.createDataFrame(rows, "mkt string, cust long, dt timestamp, amt double")
    out = mn.rfm_segments(df, "mkt", customer_col="cust", date_col="dt", amount_col="amt")
    # each market has one customer -> every quartile is 1, computed
    # against its OWN market's reference date
    for r in out.collect():
        assert r["recency_days"] == 0 and r["segment"] == "111"


# --- pareto_contribution -------------------------------------------------


def test_pareto_exact_boundary(spark):
    rows = [("g", e, amt) for e, amt in [(1, 50), (2, 30), (3, 10), (4, 5), (5, 5)]]
    df = spark.createDataFrame(rows, "grp string, entity long, cents long")
    out = mn.pareto_contribution(df, "grp", "entity", "cents").collect()
    assert len(out) == 1
    r = out[0]
    # cum before entity 3 is exactly 80% of 100 -> entity 3 NOT needed:
    # the covering set is minimal-inclusive ({50, 30} = 80%).
    assert r["n_to_threshold"] == 2
    assert r["n_entities"] == 5
    assert r["top_share_micro"] == 800_000


def test_pareto_ties_break_on_entity(spark):
    rows = [("g", 2, 50), ("g", 1, 50), ("g", 3, 1)]
    df = spark.createDataFrame(rows, "grp string, entity long, cents long")
    r = mn.pareto_contribution(df, "grp", "entity", "cents").collect()[0]
    # 50+50 = 100/101 > 80%; entity 1 sorts before entity 2 on the tie,
    # and the set {e1, e2} is needed (e1 alone is 49.5%).
    assert r["n_to_threshold"] == 2


# --- KMV sketches --------------------------------------------------------


def test_kmv_exact_below_k(spark):
    rows = [("A", i) for i in range(40)] + [("B", i) for i in range(20, 80)]
    df = spark.createDataFrame(rows, "grp string, v long")
    sketches = sk.kmv_sketch_by_group(df, "grp", "v", k=512)
    est = sk.kmv_intersect_estimate(sketches, k=512).collect()[0]
    # both sets below k -> sketches complete -> everything exact
    assert est["union_est"] == 80
    assert est["intersect_est"] == 20
    assert est["jaccard_micro"] == 20 * 1_000_000 // 80


def test_kmv_estimate_above_k_bounded(spark):
    n, overlap = 4000, 1500
    rows = [("A", i) for i in range(n)] + [("B", i) for i in range(n - overlap, 2 * n - overlap)]
    df = spark.createDataFrame(rows, "grp string, v long")
    sketches = sk.kmv_sketch_by_group(df, "grp", "v", k=256)
    for r in sketches.collect():
        assert r["n_kept"] == 256  # threshold prefilter still fills the sketch
    est = sk.kmv_intersect_estimate(sketches, k=256).collect()[0]
    exact_union = 2 * n - overlap
    assert abs(est["union_est"] - exact_union) <= 0.25 * exact_union
    assert abs(est["intersect_est"] - overlap) <= 0.35 * overlap + 64


def test_kmv_sketch_is_k_smallest(spark):
    # the sketch must equal the true k smallest hashes — verify against
    # a brute-force computation of the same hash pipeline
    rows = [("A", i) for i in range(1000)]
    df = spark.createDataFrame(rows, "grp string, v long")
    got = sk.kmv_sketch_by_group(df, "grp", "v", k=16).collect()[0]["kmv"]
    brute = (
        df.select(F.pmod(F.xxhash64(F.col("v").cast("string")), F.lit((1 << 61) - 1)).alias("h"))
        .distinct().orderBy("h").limit(16).collect()
    )
    assert got == [r["h"] for r in brute]


# --- sentence_dedup ------------------------------------------------------


def test_sentence_dedup_keeper_semantics(spark):
    rows = [
        (1, "Alpha beta. Common line here. Gamma!"),
        (2, "Common line here. Delta epsilon."),
        (3, "Common line here."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dd.sentence_dedup(df, min_docs=2).collect()}
    # doc 1 is the keeper: nothing dropped, order preserved
    assert out[1]["n_dropped"] == 0
    assert out[1]["cleaned_text"] == "Alpha beta Common line here Gamma"
    # docs 2 and 3 lose the common sentence
    assert out[2]["n_dropped"] == 1 and out[2]["cleaned_text"] == "Delta epsilon"
    # doc 3 was ONLY the common sentence -> empty text, row still present
    assert out[3]["n_dropped"] == 1 and out[3]["cleaned_text"] == ""
    assert out[3]["n_sentences"] == 1


def test_sentence_dedup_min_docs_threshold(spark):
    rows = [(1, "Same line. Unique a."), (2, "Same line. Unique b.")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out3 = dd.sentence_dedup(df, min_docs=3).collect()
    assert all(r["n_dropped"] == 0 for r in out3)


def test_sentence_dedup_within_doc_repeats_kept_in_keeper(spark):
    rows = [(1, "Echo! Echo! Tail."), (2, "Echo! Other.")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dd.sentence_dedup(df, min_docs=2).collect()}
    # keeper doc keeps BOTH occurrences
    assert out[1]["cleaned_text"] == "Echo Echo Tail"
    assert out[2]["cleaned_text"] == "Other"


def test_sentence_dedup_fp128_twin_and_collision_behavior(spark):
    """fp_bits=128 (two 60-bit md5 halves) must match the default
    64-bit path exactly on a collision-free corpus. Collision behavior
    is pinned through the fp_expr seam (genuine xxhash64 collisions are
    not constructible in CI): a deliberately weak fingerprint —
    hash of the first 6 chars — makes 'Zebra prefix one' / 'Zebra
    prefix two' collide, so the non-keeper doc wrongly loses a DISTINCT
    sentence; fp_bits=128 on the same corpus keeps it."""
    rows = [
        (1, "Alpha beta. Common line here. Gamma!"),
        (2, "Common line here. Delta epsilon."),
        (3, "Common line here."),
        (4, "Zebra prefix one. Solo x."),
        (5, "Zebra prefix two. Solo y."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r64 = sorted(dd.sentence_dedup(df, min_docs=2).collect())
    r128 = sorted(dd.sentence_dedup(df, min_docs=2, fp_bits=128).collect())
    assert r64 == r128
    ok = {r["doc_id"]: r for r in r128}
    assert ok[4]["n_dropped"] == 0 and ok[5]["n_dropped"] == 0

    weak = F.xxhash64(F.substring(F.col("sentence"), 1, 6))
    bad = {r["doc_id"]: r for r in
           dd.sentence_dedup(df, min_docs=2, fp_expr=weak).collect()}
    # the planted collision ("Zebra " prefix) merges the two distinct
    # sentences: doc 4 keeps (min doc id), doc 5 wrongly drops its variant
    assert bad[4]["n_dropped"] == 0
    assert bad[5]["n_dropped"] == 1 and bad[5]["cleaned_text"] == "Solo y"

    with pytest.raises(ValueError):
        dd.sentence_dedup(df, fp_bits=32)


# --- dsir_weights --------------------------------------------------------


def test_dsir_scores_rank_target_like_docs_higher(spark):
    rows = (
        [(i, "alpha beta gamma delta", "t") for i in range(5)]
        + [(10, "alpha beta gamma delta", "r"), (11, "zz qq ww ee", "r")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {r["doc_id"]: r for r in
           tx.dsir_weights(df, F.col("src") == "t", dim=64).collect()}
    assert set(out) == {10, 11}  # only raw docs scored
    assert out[10]["dsir_micro"] > out[11]["dsir_micro"]
    assert out[10]["n_tokens"] == 4


def test_dsir_rejects_tiny_dim(spark):
    df = spark.createDataFrame([(1, "x", "t")], "doc_id long, text string, src string")
    with pytest.raises(ValueError):
        tx.dsir_weights(df, F.col("src") == "t", dim=1)


# --- random_projection ---------------------------------------------------


def _md5_sign(i: int, j: int) -> int:
    h = int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 1 else -1


def test_random_projection_matches_python(spark):
    import math

    vec = [0.5, -1.25, 2.0, 0.3]
    df = spark.createDataFrame([(7, vec)], "vec_id long, embedding array<float>")
    got = {r["j"]: r["proj"] for r in sim.random_projection(df, out_dim=3).collect()}
    import numpy as np

    # quantize through float32 exactly as the parquet/arrow column does
    q = [math.floor(float(np.float32(v)) * 1024) for v in vec]
    for j in range(3):
        assert got[j] == sum(q[i] * _md5_sign(i, j) for i in range(len(vec)))


def test_random_projection_zero_shuffles(spark):
    df = spark.createDataFrame([(1, [0.1] * 8)], "vec_id long, embedding array<float>")
    out = sim.random_projection(df, out_dim=4)
    assert count_shuffles(out) == 0


def test_random_projection_rejects_bad_dim(spark):
    df = spark.createDataFrame([(1, [0.1])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        sim.random_projection(df, out_dim=0)
    with pytest.raises(ValueError):
        sim.random_projection(df, out_dim=2, input_dim=0)


def test_random_projection_precomputed_matrix_twin(spark):
    """input_dim precomputes the sign matrix at plan time (VERDICT r7
    #2); output must be bit-identical to the per-row md5 path — on
    in-range rows AND on a row LONGER than input_dim, which exercises
    the per-element hash fallback. Still zero shuffles."""
    rows = [
        (1, [0.5, -1.25, 2.0, 0.3]),
        (2, [0.0, 3.5, -0.75, 9.1]),
        (3, [1.0] * 6),  # longer than input_dim=4 → fallback for i=4,5
        (4, [2.25]),     # shorter: fast path only, partial row
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    slow = {(r["vec_id"], r["j"]): r["proj"]
            for r in sim.random_projection(df, out_dim=5).collect()}
    fast = {(r["vec_id"], r["j"]): r["proj"]
            for r in sim.random_projection(df, out_dim=5, input_dim=4).collect()}
    assert fast == slow
    assert count_shuffles(sim.random_projection(df, out_dim=5, input_dim=4)) == 0


def test_kmv_ignores_nulls_like_count_distinct(spark):
    rows = [("A", 1), ("A", None), ("B", 1), ("B", 2), ("B", None)]
    df = spark.createDataFrame(rows, "grp string, v long")
    sketches = {r["grp"]: r for r in
                sk.kmv_sketch_by_group(df, "grp", "v", k=64).collect()}
    assert sketches["A"]["n_kept"] == 1  # NULL not a phantom member
    assert sketches["B"]["n_kept"] == 2
    est = sk.kmv_intersect_estimate(
        sk.kmv_sketch_by_group(df, "grp", "v", k=64), k=64
    ).collect()[0]
    assert est["union_est"] == 2 and est["intersect_est"] == 1


def test_kmv_complete_pair_exact_even_when_union_exceeds_k(spark):
    # both sketches complete (400 < k) but union 800 > k: estimates
    # must still be EXACT because the full hash sets are in hand
    rows = [("A", i) for i in range(400)] + [("B", i + 1000) for i in range(400)]
    df = spark.createDataFrame(rows, "grp string, v long")
    est = sk.kmv_intersect_estimate(
        sk.kmv_sketch_by_group(df, "grp", "v", k=512), k=512
    ).collect()[0]
    assert est["union_est"] == 800
    assert est["intersect_est"] == 0 and est["jaccard_micro"] == 0


def test_kmv_clipped_flag_forces_estimator_branch(spark):
    """VERDICT r7 #4: n_kept < k must NOT be read as 'sketch is exact'
    when the HLL-derived prefilter threshold clipped the group — real
    hashes may have been dropped. Hand-built sketches pin the branch:
    identical tiny kmv arrays, n_kept=3 < k, and only the clipped flag
    differs. Unclipped ⇒ exact union (5); clipped ⇒ the s-minima
    estimator, which on a threshold-scale kth value is astronomically
    larger. A sketch table WITHOUT the flag (pre-flag persistence) keeps
    the old exact behavior."""
    rows = [
        ("A", [10, 20, 30], 3),
        ("B", [10, 40, 50], 3),
    ]

    def est(clipped_vals):
        df = spark.createDataFrame(
            [(g, kmv, n, c) for (g, kmv, n), c in zip(rows, clipped_vals)],
            "grp string, kmv array<long>, n_kept long, clipped boolean",
        )
        return sk.kmv_intersect_estimate(df, k=512).collect()[0]

    exact = est([False, False])
    assert exact["union_est"] == 5 and exact["intersect_est"] == 1

    clipped = est([True, True])
    assert clipped["union_est"] > 10**9  # estimator branch, not |union|=5

    legacy = spark.createDataFrame(
        [(g, kmv, n) for (g, kmv, n) in rows],
        "grp string, kmv array<long>, n_kept long",
    )
    old = sk.kmv_intersect_estimate(legacy, k=512).collect()[0]
    assert old["union_est"] == 5 and old["intersect_est"] == 1


def test_kmv_clipped_pair_uses_observed_minima_not_k(spark):
    """ADVICE r8: two CLIPPED small sketches (|X| << k) must estimate
    the union from the OBSERVED |X|-1 minima, not a hardcoded k-1 —
    the old expression inflated the union by ~(k-1)/(|X|-1) (~50x at
    |X|=10, k=512). Hand-built sketches with hashes at exact fractions
    of P pin the expected value; a 1-hash pair (|X|=1, estimator
    undefined) degrades to |X| instead of dividing by kth with s-1=0."""
    P = sk._KMV_P
    k = 512
    # 6 hashes each, overlap of 2 → X = 10 distinct minima, kth = P//10
    ha = [P // 100 * i for i in (1, 2, 3, 4, 5, 6)]
    hb = [P // 100 * i for i in (5, 6, 7, 8, 9, 10)]
    df = spark.createDataFrame(
        [("A", ha, 6, True), ("B", hb, 6, True)],
        "grp string, kmv array<long>, n_kept long, clipped boolean",
    )
    got = sk.kmv_intersect_estimate(df, k=k).collect()[0]
    x = sorted(set(ha) | set(hb))
    assert len(x) == 10
    expect_union = int((len(x) - 1) * P // x[-1])  # 9*P/(P/10) ≈ 90
    assert got["union_est"] == expect_union
    assert 80 <= got["union_est"] <= 95  # nowhere near the old ~(k-1)x scale
    # intersection estimate inherits the fix: common/|X| * union
    assert got["intersect_est"] == int(2 * expect_union / 10)

    one = spark.createDataFrame(
        [("A", [P // 7], 1, True), ("B", [P // 7], 1, True)],
        "grp string, kmv array<long>, n_kept long, clipped boolean",
    )
    tiny = sk.kmv_intersect_estimate(one, k=k).collect()[0]
    assert tiny["union_est"] == 1


def test_kmv_clipped_sketch_property(spark):
    """safety=1 with k far below the group cardinality forces the
    prefilter to clip (thr << P): the flag must be set, the pair must
    take the estimator branch (pinned by recomputing the estimator in
    Python from the collected sketches), and the estimates must stay in
    the right ballpark of the true union/intersection."""
    P = sk._KMV_P
    k = 16
    rows = [("A", i) for i in range(200)] + [("B", i + 100) for i in range(200)]
    df = spark.createDataFrame(rows, "grp string, v long")
    sk_df = sk.kmv_sketch_by_group(df, "grp", "v", k=k, safety=1)
    sketches = {r["grp"]: r for r in sk_df.collect()}
    assert sketches["A"]["clipped"] and sketches["B"]["clipped"]

    got = sk.kmv_intersect_estimate(sk_df, k=k).collect()[0]
    union_all = sorted(set(sketches["A"]["kmv"]) | set(sketches["B"]["kmv"]))
    x = union_all[:k]
    expect_union = (len(x) - 1) * P // x[-1]
    assert got["union_est"] == expect_union
    # truth: |A ∪ B| = 300, |A ∩ B| = 100; s≈16 minima ⇒ ~25% rel. stderr
    assert 120 <= got["union_est"] <= 750
    rows = [(1, [0.5, 1.0]), (2, []), (3, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.random_projection(df, out_dim=2)
    assert {r["vec_id"] for r in out.collect()} == {1}


def test_dsir_null_predicate_routes_to_raw(spark):
    rows = [
        (1, "alpha beta", "t"),
        (2, "alpha beta", None),  # NULL predicate -> raw model
        (3, "alpha beta", "r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {r["doc_id"]: r for r in
           tx.dsir_weights(df, F.col("src") == "t", dim=32).collect()}
    # docs 2 and 3 are both raw and identical -> identical scores
    assert set(out) == {2, 3}
    assert out[2]["dsir_micro"] == out[3]["dsir_micro"]


def test_frequent_pairs_lift_survives_huge_counts(spark):
    # counts scaled so pair_n * n_baskets * 1e6 would wrap int64 if the
    # lift arithmetic were a long product: verify DECIMAL keeps it exact
    from hdinsight_pyspark_cntk_integration_spark.operators.mining import MICRO

    n = 10_000_000_000  # 1e10 baskets worth of counts, planted directly
    pairs = spark.createDataFrame(
        [("A", "B", n, n, n, n)],
        "item_a string, item_b string, pair_n long, n_a long, n_b long, n_baskets long",
    )
    lift = pairs.select(
        F.floor(
            F.col("pair_n").cast("decimal(38,0)")
            * F.col("n_baskets").cast("decimal(38,0)")
            * F.lit(MICRO).cast("decimal(38,0)")
            / (F.col("n_a").cast("decimal(38,0)") * F.col("n_b").cast("decimal(38,0)"))
        ).cast("long").alias("lift_micro")
    ).collect()[0]["lift_micro"]
    assert lift == MICRO  # exact 1.0 despite a 1e26 intermediate


# --- weighted_reservoir_sample -------------------------------------------


def _es_priority(doc_id: int, w: int) -> int:
    return max(
        int(hashlib.md5(f"{doc_id}_{c}".encode()).hexdigest()[:15], 16)
        for c in range(1, w + 1)
    )


def test_weighted_reservoir_matches_python_replication(spark):
    rows = [("g", i, 1 + (i % 5)) for i in range(40)]
    df = spark.createDataFrame(rows, "grp string, id long, w long")
    got = sorted(
        (r["rank"], r["id"], r["priority"])
        for r in mn.weighted_reservoir_sample(df, "grp", "id", "w", k=7).collect()
    )
    pri = sorted(
        ((-_es_priority(i, w), i) for (_, i, w) in rows)
    )[:7]
    want = sorted(
        (rank + 1, i, -np_) for rank, (np_, i) in enumerate(pri)
    )
    assert got == want


def test_weighted_reservoir_excludes_nonpositive_and_caps_weight(spark):
    rows = [("g", 1, 3), ("g", 2, 0), ("g", 3, -2)]
    df = spark.createDataFrame(rows, "grp string, id long, w long")
    got = {r["id"] for r in
           mn.weighted_reservoir_sample(df, "grp", "id", "w", k=5).collect()}
    assert got == {1}
    big = spark.createDataFrame([("g", 1, 65)], "grp string, id long, w long")
    with pytest.raises(Exception, match="max_weight"):
        mn.weighted_reservoir_sample(big, "grp", "id", "w", k=1).collect()


def test_weighted_reservoir_heavier_rows_sampled_more(spark):
    # inclusion frequency over many groups must grow with weight:
    # in each of 200 groups, one weight-16 row competes with seven
    # weight-1 rows for k=1 — the heavy row must win far more often
    # than 1/8 of the time (its true inclusion probability is 16/23)
    rows = [(g, g * 10 + i, 16 if i == 0 else 1) for g in range(200) for i in range(8)]
    df = spark.createDataFrame(rows, "grp long, id long, w long")
    got = mn.weighted_reservoir_sample(df, "grp", "id", "w", k=1).collect()
    heavy_wins = sum(1 for r in got if r["id"] % 10 == 0)
    assert len(got) == 200
    assert heavy_wins > 100  # expect ~139, binomial sd ~6.5


# --- funnel_steps --------------------------------------------------------


def test_funnel_steps_hand_case(spark):
    from datetime import datetime

    def t(m):
        return datetime(2026, 1, 1, 0, m)

    rows = [
        # u1 completes the whole funnel in order
        (1, "view", t(0)), (1, "click", t(1)), (1, "buy", t(2)),
        # u2 clicks BEFORE viewing -> click doesn't count, no progress
        (2, "click", t(0)), (2, "view", t(1)),
        # u3 views and clicks at the SAME instant -> strictly-after fails
        (3, "view", t(5)), (3, "click", t(5)),
        # u4 views only
        (4, "view", t(0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {r["step"]: r for r in
           mn.funnel_steps(df, ["view", "click", "buy"]).collect()}
    assert got["view"]["n_users"] == 4
    assert got["click"]["n_users"] == 1
    assert got["buy"]["n_users"] == 1
    assert got["view"]["conv_from_first_micro"] == 1_000_000
    assert got["click"]["conv_from_first_micro"] == 250_000
    assert got["buy"]["conv_from_prev_micro"] == 1_000_000


def test_funnel_steps_horizon_and_dead_step(spark):
    from datetime import datetime

    rows = [
        (1, "view", datetime(2026, 1, 1)),
        # click lands 2 hours after first view: outside a 1-hour horizon
        (1, "click", datetime(2026, 1, 1, 2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {r["step"]: r for r in
           mn.funnel_steps(df, ["view", "click", "buy"], horizon_seconds=3600).collect()}
    assert got["click"]["n_users"] == 0
    # dead tail: prev count 0 -> conv_from_prev is NULL, not an error
    assert got["buy"]["n_users"] == 0
    assert got["buy"]["conv_from_prev_micro"] is None
    assert got["buy"]["conv_from_first_micro"] == 0


def test_funnel_steps_empty_first_step_emits_nothing(spark):
    from datetime import datetime

    df = spark.createDataFrame(
        [(1, "click", datetime(2026, 1, 1))],
        "user_id long, event_type string, ts timestamp",
    )
    assert mn.funnel_steps(df, ["view", "click"]).count() == 0


# --- zipf_slope / pmi_cooccur --------------------------------------------


def test_zipf_slope_matches_python_ols(spark):
    import math

    # vocabulary with known counts: 'a'x8 'b'x4 'c'x2 'd'x1
    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    [r] = tx.zipf_slope(df, top_n=64).collect()
    counts = [8, 4, 2, 1]
    xs = [math.floor(math.log(i + 1) * 1e6) for i in range(4)]
    ys = [math.floor(math.log(c) * 1e6) for c in counts]
    n, sx, sy = 4, sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert r["n_terms"] == 4
    assert r["slope_micro"] == math.floor(slope * 1e6)
    assert r["intercept_micro"] == math.floor((sy - slope * sx) / n)
    assert r["slope_micro"] < 0  # frequencies fall with rank


def test_zipf_slope_rank_ties_break_on_token(spark):
    # equal counts rank alphabetically -> deterministic on any engine
    df = spark.createDataFrame([(1, "b a b a")], "doc_id long, text string")
    [r] = tx.zipf_slope(df, top_n=2).collect()
    assert r["n_terms"] == 2


def test_pmi_cooccur_hand_collocation(spark):
    import math

    # 'new york' always adjacent; 'the' is everywhere -> pmi(new,york)
    # must be high and exactly reproduce the formula
    rows = [(i, "the new york times the report") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]): r for r in
           tx.pmi_cooccur(df, window=2, min_pairs=5).collect()}
    r = got[("new", "york")]
    # 6 tokens/doc, window 2: pairs/doc = 5 + 4 = 9 -> 45 total; tokens 30
    assert r["n_ab"] == 5 and r["n_a"] == 5 and r["n_b"] == 5
    expect = math.floor(
        math.log((5 / 45) * (30 / 5) * (30 / 5)) * 1e6
    )
    assert r["pmi_micro"] == expect


def test_pmi_cooccur_short_docs_no_pairs(spark):
    rows = [(1, "solo"), (2, ""), (3, None), (4, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = tx.pmi_cooccur(df, window=2, min_pairs=1).collect()
    assert {(r["a"], r["b"]) for r in got} == {("a", "b")}


# --- markov_transitions --------------------------------------------------


def test_markov_transitions_hand_case(spark):
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1)
    seq1 = ["view", "click", "view", "click", "buy"]
    seq2 = ["view", "view"]
    rows = [(1, s, base + timedelta(minutes=i)) for i, s in enumerate(seq1)]
    rows += [(2, s, base + timedelta(minutes=i)) for i, s in enumerate(seq2)]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {(r["src"], r["dst"]): r for r in
           mn.markov_transitions(df, "user_id", "event_type", "ts").collect()}
    # transitions: u1 v->c, c->v, v->c, c->b; u2 v->v
    assert got[("view", "click")]["n"] == 2
    assert got[("view", "view")]["n"] == 1
    assert got[("click", "buy")]["n"] == 1
    assert got[("view", "click")]["n_src"] == 3
    assert got[("view", "click")]["prob_micro"] == 2 * 1_000_000 // 3
    # probabilities out of each src sum to 1e6 up to floor loss
    from collections import defaultdict
    sums = defaultdict(int)
    for (s, _), r in got.items():
        sums[s] += r["prob_micro"]
    for s, total in sums.items():
        assert 1_000_000 - 3 <= total <= 1_000_000


def test_markov_transitions_tie_order_deterministic(spark):
    from datetime import datetime

    # two events at the SAME ts: ordering falls back to state name, so
    # the chain is a->b deterministically (never b->a)
    rows = [
        (1, "b", datetime(2026, 1, 1)),
        (1, "a", datetime(2026, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = [(r["src"], r["dst"]) for r in
           mn.markov_transitions(df, "user_id", "event_type", "ts").collect()]
    assert got == [("a", "b")]


# --- script_histogram ----------------------------------------------------


def test_script_histogram_classes_sum_to_n_chars(spark):
    rows = [
        (1, "Hello, world! 123"),
        (2, "   "),
        (3, ""),
        (4, None),
        (5, "a\tb\nc"),
        (6, "ünïcödé stays other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.script_histogram(df).collect()}
    assert 4 not in got  # NULL text -> no row
    for r in got.values():
        assert (
            r["n_letters"] + r["n_digits"] + r["n_space"] + r["n_punct"] + r["n_other"]
            == r["n_chars"]
        )
    r1 = got[1]
    assert r1["n_letters"] == 10 and r1["n_digits"] == 3
    assert r1["n_punct"] == 2 and r1["n_space"] == 2
    assert r1["alpha_ppm"] == 1_000_000 * 10 // 17
    assert got[3]["n_chars"] == 0 and got[3]["alpha_ppm"] == 0
    assert got[5]["n_space"] == 2
    assert got[6]["n_other"] > 0  # non-ASCII letters are 'other' by design


# --- kneser_ney_bigram / textrank_keywords -------------------------------


def test_kneser_ney_matches_python_and_mass_identity(spark):
    import math
    from collections import Counter, defaultdict

    docs = [
        "the cat sat on the mat",
        "the dog sat on the rug",
        "san francisco is foggy",
        "san francisco is hilly",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {(r["w1"], r["w2"]): r for r in
           tx.kneser_ney_bigram(df, min_count=1).collect()}

    bigrams = Counter()
    for t in docs:
        ws = t.split()
        bigrams.update(zip(ws, ws[1:]))
    c1 = Counter()
    follow, context = defaultdict(set), defaultdict(set)
    for (a, b), c in bigrams.items():
        c1[a] += c
        follow[a].add(b)
        context[b].add(a)
    T = len(bigrams)
    d = 0.75
    for (a, b), c in bigrams.items():
        want = max(c - d, 0.0) / c1[a] + (d * len(follow[a]) / c1[a]) * (
            len(context[b]) / T
        )
        r = got[(a, b)]
        assert r["pkn_micro"] == math.floor(want * 1e6), (a, b)
        assert r["c12"] == c and r["c1"] == c1[a]
        assert r["n_follow"] == len(follow[a])
        assert r["n_context"] == len(context[b])
    # interpolated-KN mass identity: sum over observed followers of w1
    # equals 1 EXACTLY when every follower type of w1 is emitted AND the
    # continuation distribution is restricted... verify in float from
    # the python replication (the engine's floor loses <=1e-6 per term)
    for a in c1:
        mass = sum(
            max(c - d, 0.0) / c1[a]
            + (d * len(follow[a]) / c1[a]) * (len(context[b]) / T)
            for (x, b), c in bigrams.items()
            if x == a
        )
        cont_mass = sum(len(context[b]) for b in follow[a]) / T
        # mass = (c1[a] - d*|follow|)/c1[a] + d*|follow|/c1[a] * cont_mass
        want_mass = (c1[a] - d * len(follow[a])) / c1[a] + (
            d * len(follow[a]) / c1[a]
        ) * cont_mass
        assert abs(mass - want_mass) < 1e-12
    # the continuation count does its job: 'francisco' follows ONLY
    # 'san', so its left-context count is 1 despite frequency 2
    assert got[("san", "francisco")]["n_context"] == 1
    assert got[("san", "francisco")]["c12"] == 2


def test_kneser_ney_rejects_bad_discount(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        tx.kneser_ney_bigram(df, discount_centi=0)
    with pytest.raises(ValueError):
        tx.kneser_ney_bigram(df, discount_centi=100)


def test_textrank_hub_token_wins(spark):
    # 'hub' co-occurs with every spoke; spokes only see 'hub' — the
    # hub must out-rank every spoke, and the result must equal running
    # pagerank_integer on the hand-built merged edge list
    from hdinsight_pyspark_cntk_integration_spark.operators.graph import pagerank_integer

    docs = [(i, f"hub spoke{i} hub spoke{i} hub spoke{i}") for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = tx.textrank_keywords(df, window=2, min_cooccur=2, iters=3, top_k=10).collect()
    ranks = {r["token"]: r["rank_micro"] for r in got}
    assert max(ranks, key=ranks.get) == "hub"
    from collections import Counter
    pairs = Counter()
    for _, t in docs:
        ws = t.split()
        for i in range(len(ws) - 1):
            for d in (1, 2):
                if i + d < len(ws):
                    pairs[(ws[i], ws[i + d])] += 1
    merged = Counter()
    for (a, b), n in pairs.items():
        if n >= 2:
            merged[(a, b)] += n
            merged[(b, a)] += n
    edges = spark.createDataFrame(
        [(s, t, n) for (s, t), n in merged.items()], "src string, dst string, weight long"
    )
    want = {r["node"]: r["rank_micro"]
            for r in pagerank_integer(edges, iters=3).collect()}
    for tok, rm in ranks.items():
        assert want[tok] == rm


# --- target_encode / woe_iv / dictionary_tag -----------------------------


def test_target_encode_loo_and_smoothing(spark):
    import math

    rows = [
        (1, "a", 10.00), (2, "a", 20.00), (3, "a", 30.00),
        (4, "b", 40.00), (5, "c", 50.00), (6, "c", 70.00),
    ]
    df = spark.createDataFrame(rows, "id long, cat string, y double")
    S = {"a": 6000, "b": 4000, "c": 12000}
    N = {"a": 3, "b": 1, "c": 2}
    ybar = 22000 / 6
    for sm in (0, 5):
        got = {
            r["id"]: r["enc_micro"]
            for r in mn.target_encode(df, "cat", "y", "id", smoothing=sm).collect()
        }
        for i, c, y in rows:
            den = N[c] - 1 + sm
            want = ((S[c] - round(y * 100)) + sm * ybar) / den if den > 0 else ybar
            assert got[i] == math.floor(want * 1e6), (sm, i)
    # leakage check: with m=0 the encoding NEVER equals the naive
    # category mean when targets differ within the category
    got0 = {
        r["id"]: r["enc_micro"]
        for r in mn.target_encode(df, "cat", "y", "id", smoothing=0).collect()
    }
    assert got0[1] != math.floor(S["a"] / N["a"] * 1e6)
    # singleton category with m=0 falls back to the global mean
    assert got0[4] == math.floor(ybar * 1e6)


def test_target_encode_rejects_negative_smoothing(spark):
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, cat string, y double")
    with pytest.raises(ValueError):
        mn.target_encode(df, "cat", "y", "id", smoothing=-1)


def test_woe_iv_hand_case_and_zero_cell_drop(spark):
    import math

    rows = (
        [("a", True)] * 8 + [("a", False)] * 2
        + [("b", True)] * 3 + [("b", False)] * 7
        + [("c", True)] * 5          # zero negatives -> dropped
        + [(None, True)] * 3         # NULL category -> excluded
    )
    df = spark.createDataFrame(rows, "cat string, f boolean")
    got = {r["category"]: r for r in mn.woe_iv(df, "cat", "f").collect()}
    assert set(got) == {"a", "b"}
    P, Nn = 16, 9  # totals over the surviving cells (c counts in totals)
    for c, (np_, nn) in {"a": (8, 2), "b": (3, 7)}.items():
        woe = math.log((np_ / P) * (Nn / nn))
        iv = (np_ / P - nn / Nn) * woe
        r = got[c]
        assert r["woe_micro"] == math.floor(woe * 1e6)
        assert r["iv_micro"] == math.floor(iv * 1e6)
        assert (r["pos_total"], r["neg_total"]) == (P, Nn)
    # sign semantics: the positive-heavy category has positive WOE
    assert got["a"]["woe_micro"] > 0 > got["b"]["woe_micro"]
    # IV contributions are nonnegative by construction: (p-q) and
    # ln(p/q) always share a sign
    assert got["a"]["iv_micro"] >= 0 and got["b"]["iv_micro"] >= 0


def test_dictionary_tag_paths_agree_and_manual(spark):
    docs = [
        (1, "The cat SAT on the mat cat"),
        (2, "dog  runs"),
        (3, ""),
        (4, "zzz"),
        (5, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    terms = {"cat": 5, "the": 1, "dog": 3}
    lit = {tuple(r) for r in tx.dictionary_tag(df, terms).collect()}
    jn = {tuple(r) for r in tx.dictionary_tag(df, terms, use_join=True).collect()}
    assert lit == jn
    by_id = {t[0]: t[1:] for t in lit}
    # doc 1: 7 tokens, hits the/cat/the/cat, 2 distinct terms, 5+1+5+1
    assert by_id[1] == (7, 4, 2, 12)
    assert by_id[3] == (0, 0, 0, 0)
    assert by_id[4] == (1, 0, 0, 0)
    assert by_id[5] == (0, 0, 0, 0)  # NULL text == empty


def test_dictionary_tag_literal_path_has_no_shuffle(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = tx.dictionary_tag(df, {"a": 1})
    assert count_shuffles(out) == 0


def test_dictionary_tag_rejects_empty_dict(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        tx.dictionary_tag(df, {})


# --- heaps_law / simpson_diversity ---------------------------------------


def test_heaps_law_matches_python(spark):
    import math

    docs = [
        (1, "a b c a"),
        (2, "a d e"),
        (3, "f f g a b"),
        (4, ""),
        (5, "h i j k"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    [r] = tx.heaps_law(df).collect()
    # python replication: first-occurrence births + cumulative curve
    seen, curve, N = set(), [], 0
    for _, t in docs:
        toks = t.split()
        if not toks:
            continue
        N += len(toks)
        for tok in toks:
            seen.add(tok)
        curve.append((N, len(seen)))
    pts = [
        (math.floor(math.log(n) * 1e6), math.floor(math.log(v) * 1e6))
        for n, v in curve
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    assert r["n_points"] == n
    assert r["n_tokens"] == N and r["n_types"] == len(seen)
    assert r["beta_micro"] == math.floor((n * sxy - sx * sy) / den * 1e6)
    assert r["lnk_micro"] == math.floor((sy * sxx - sx * sxy) / den)


def test_heaps_law_templated_corpus_has_low_beta(spark):
    # identical docs: V freezes after doc 1 -> beta near 0; diverse
    # corpus keeps minting types -> beta near 1
    same = [(i, "alpha beta gamma delta") for i in range(1, 21)]
    [r_same] = tx.heaps_law(
        spark.createDataFrame(same, "doc_id long, text string")
    ).collect()
    fresh = [(i, f"w{i}a w{i}b w{i}c w{i}d") for i in range(1, 21)]
    [r_fresh] = tx.heaps_law(
        spark.createDataFrame(fresh, "doc_id long, text string")
    ).collect()
    assert r_same["beta_micro"] < 100_000
    assert r_fresh["beta_micro"] > 900_000


def test_simpson_diversity_matches_python_and_bounds(spark):
    import math
    from collections import Counter

    docs = [
        ("a", "x x x x y"),
        ("a", "x z"),
        ("b", "p q r s t u v w"),
        ("c", "only"),
    ]
    df = spark.createDataFrame(docs, "source string, text string")
    got = {r["source"]: r for r in tx.simpson_diversity(df, "source").collect()}
    assert "c" not in got  # N < 2 dropped
    for src in ("a", "b"):
        cnt = Counter(
            tok for s, t in docs if s == src for tok in t.split()
        )
        N = sum(cnt.values())
        num = sum(n * (n - 1) for n in cnt.values())
        d = num / (N * (N - 1))
        r = got[src]
        assert r["n_tokens"] == N and r["n_types"] == len(cnt)
        assert r["simpson_micro"] == math.floor(d * 1e6)
        assert r["gini_simpson_micro"] == math.floor((1.0 - d) * 1e6)
    # concentration ordering: the skewed source is less diverse
    assert got["a"]["simpson_micro"] > got["b"]["simpson_micro"]


def test_heaps_law_bucketing_caps_curve_points(spark):
    import math

    # 600 docs with sparse ids over [0, 1199]: width = ceil(1200/256)=5
    docs = [(i * 2, f"w{i} w{i % 7} common")
            for i in range(600)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    [r] = tx.heaps_law(df, n_buckets=256).collect()
    assert r["n_points"] <= 256
    # python replication with the same bucketing
    lo, hi = 0, 1198
    width = (hi - lo + 256) // 256
    from collections import defaultdict
    ntok = defaultdict(int)
    first = {}
    for d, t in docs:
        toks = t.split()
        ntok[(d - lo) // width] += len(toks)
        for tok in toks:
            if tok not in first or d < first[tok]:
                first[tok] = d
    nnew = defaultdict(int)
    for tok, d in first.items():
        nnew[(d - lo) // width] += 1
    N = V = 0
    pts = []
    for b in sorted(ntok):
        N += ntok[b]
        V += nnew[b]
        pts.append((math.floor(math.log(N) * 1e6), math.floor(math.log(V) * 1e6)))
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    assert r["n_points"] == n
    assert r["beta_micro"] == math.floor((n * sxy - sx * sy) / den * 1e6)
    with pytest.raises(ValueError):
        tx.heaps_law(df, n_buckets=1)


# --- readability / attribution -------------------------------------------


def test_readability_matches_python(spark):
    import math
    import re

    docs = [
        (1, "The cat sat. The dog ran! Was it fun?"),
        (2, "xyz"),                      # zero-vowel word -> 1 syllable
        (3, ""),                         # dropped
        (4, "beautiful analysis today"), # no terminators -> S = 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.readability(df).collect()}
    assert 3 not in got
    for i, t in docs:
        toks = re.sub(r"\s+", " ", t.lower()).strip().split()
        if not toks:
            continue
        S = max(1, len(re.findall(r"[.!?]+", t)))
        W = len(toks)
        syl = sum(max(1, len(re.findall(r"[aeiouy]+", w))) for w in toks)
        ease = 206.835 - 1.015 * (W / S) - 84.6 * (syl / W)
        grade = 0.39 * (W / S) + 11.8 * (syl / W) - 15.59
        r = got[i]
        assert (r["n_sentences"], r["n_words"], r["n_syllables"]) == (S, W, syl)
        assert r["ease_micro"] == math.floor(ease * 1e6)
        assert r["grade_micro"] == math.floor(grade * 1e6)


def test_attribution_hand_case(spark):
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1)
    ev = [
        (1, base + timedelta(0), 1, "ad", False),
        (1, base + timedelta(1), 2, "email", False),
        (1, base + timedelta(2), 3, "buy", True),
        (1, base + timedelta(3), 4, "search", False),
        (1, base + timedelta(4), 5, "buy", True),
        (2, base + timedelta(0), 6, "ad", False),   # no conversion
        (3, base + timedelta(0), 7, "buy", True),   # no touches
    ]
    df = spark.createDataFrame(ev, "u long, ts timestamp, id long, ch string, conv boolean")
    got = {
        r["channel"]: (r["first_touch"], r["last_touch"], r["linear_micro"], r["n_touches"])
        for r in mn.attribution(df, "u", "ts", "ch", F.col("conv"), "id").collect()
    }
    # conv 1 (user 1): touches ad, email -> first=ad, last=email, 1/2 each
    # conv 2 (user 1): touch search -> all three models to search
    assert got == {
        "ad": (1, 0, 500_000, 1),
        "email": (0, 1, 500_000, 1),
        "search": (1, 1, 1_000_000, 1),
    }


def test_attribution_simultaneous_touches_break_on_id(spark):
    from datetime import datetime

    base = datetime(2026, 1, 1)
    ev = [
        (1, base, 10, "a", False),
        (1, base, 11, "b", False),   # same ts: id decides first/last
        (1, base, 12, "buy", True),
    ]
    df = spark.createDataFrame(ev, "u long, ts timestamp, id long, ch string, conv boolean")
    got = {
        r["channel"]: (r["first_touch"], r["last_touch"])
        for r in mn.attribution(df, "u", "ts", "ch", F.col("conv"), "id").collect()
    }
    assert got == {"a": (1, 0), "b": (0, 1)}


def test_canonical_docs_cluster_and_singletons(spark):
    docs = [(1, 50), (2, 90), (3, 70), (4, 10), (5, 90)]
    pairs = [(1, 2), (2, 3)]
    got = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"], r["is_canonical"])
        for r in dd.canonical_docs(
            spark.createDataFrame(docs, "doc_id long, n_chars long"),
            spark.createDataFrame(pairs, "id_a long, id_b long"),
        ).collect()
    }
    assert got == {
        1: (2, 3, False), 2: (2, 3, True), 3: (2, 3, False),
        4: (4, 1, True), 5: (5, 1, True),
    }
    # quality tie -> smaller id canonical
    got2 = {
        r["doc_id"]: r["canonical_id"]
        for r in dd.canonical_docs(
            spark.createDataFrame([(7, 90), (8, 90)], "doc_id long, n_chars long"),
            spark.createDataFrame([(7, 8)], "id_a long, id_b long"),
        ).collect()
    }
    assert got2 == {7: 7, 8: 7}
    # exactly one canonical per cluster, and every doc maps into its own cluster
    rows = dd.canonical_docs(
        spark.createDataFrame(docs, "doc_id long, n_chars long"),
        spark.createDataFrame(pairs, "id_a long, id_b long"),
    ).collect()
    n_canon = sum(1 for r in rows if r["is_canonical"])
    assert n_canon == len({(r["canonical_id"]) for r in rows})


# --- ngram_novelty / compression_ratio / cohort_ltv ----------------------


def test_ngram_novelty_matches_python(spark):
    import math
    from collections import Counter

    docs = [(1, "a b c d e"), (2, "a b c x y"), (3, "zz qq ww"), (4, "a b")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_micro"])
        for r in tx.ngram_novelty(df, n=3).collect()
    }

    def g3(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    all_g = Counter()
    for _, t in docs:
        all_g.update(g3(t))
    want = {}
    for i, t in docs:
        gs = g3(t)
        if not gs:
            continue  # doc 4 has < 3 words -> no full trigram -> dropped
        nov = sum(1 for g in gs if all_g[g] == 1)
        want[i] = (len(gs), nov, math.floor(nov / len(gs) * 1e6))
    assert got == want
    with pytest.raises(ValueError):
        tx.ngram_novelty(df, n=0)


def test_ngram_novelty_duplicate_corpus_is_zero(spark):
    docs = [(i, "one two three four five") for i in range(1, 6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = tx.ngram_novelty(df, n=3).collect()
    assert all(r["novelty_micro"] == 0 for r in rows)


def test_compression_ratio_matches_stdlib_zlib(spark):
    import math
    import zlib

    docs = [(1, "abc" * 200), (2, "hello world"), (3, ""), (4, None), (5, "ü" * 50)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: tuple(r)[1:] for r in tx.compression_ratio(df).collect()}
    for i, t in docs:
        b = (t or "").encode("utf-8")
        c = len(zlib.compress(b, 6)) if b else 0
        ratio = math.floor(c / len(b) * 1e6) if b else 0
        assert got[i] == (len(b), c, ratio), i
    # the repetitive doc compresses far better than prose
    assert got[1][2] < 100_000 < got[2][2]
    with pytest.raises(ValueError):
        tx.compression_ratio(df, level=0)


def test_cohort_ltv_hand_case(spark):
    from datetime import date

    orders = [
        (1, date(2024, 1, 5), 100.00),
        (1, date(2024, 2, 5), 50.00),
        (2, date(2024, 1, 20), 200.00),
        (3, date(2024, 2, 1), 10.00),
        (3, date(2024, 4, 1), 20.00),
    ]
    df = spark.createDataFrame(
        orders, "o_custkey long, o_orderdate date, o_totalprice double"
    )
    got = {
        (r["cohort_month"], r["age_months"]): (
            r["n_customers"], r["rev_cents"], r["cum_rev_cents"], r["ltv_micro"]
        )
        for r in mn.cohort_ltv(df).collect()
    }
    m = lambda y, mo: y * 12 + mo - 1  # noqa: E731
    assert got == {
        (m(2024, 1), 0): (2, 30000, 30000, 30000 * 1_000_000 // 200),
        (m(2024, 1), 1): (2, 5000, 35000, 35000 * 1_000_000 // 200),
        (m(2024, 2), 0): (1, 1000, 1000, 1000 * 1_000_000 // 100),
        (m(2024, 2), 2): (1, 2000, 3000, 3000 * 1_000_000 // 100),
    }


# --- hhi_concentration ----------------------------------------------------


def test_hhi_matches_python(spark):
    import math

    rows = [
        ("m1", "s1", 60.0), ("m1", "s2", 30.0), ("m1", "s3", 10.0),
        ("m1", "s1", 40.0),  # s1 appears twice: member values aggregate
        ("m2", "x", 5.0),
    ]
    df = spark.createDataFrame(rows, "m string, s string, v double")
    got = {r["m"]: (r["n_members"], r["top_share_ppm"], r["hhi_pico"])
           for r in mn.hhi_concentration(df, "m", "s", "v").collect()}
    vals = {"m1": {"s1": 10000, "s2": 3000, "s3": 1000}, "m2": {"x": 500}}
    want = {}
    for m, mem in vals.items():
        tot = sum(mem.values())
        shares = [v / tot for v in mem.values()]
        want[m] = (
            len(mem),
            max(math.floor(s * 1e6) for s in shares),
            sum(math.floor(s * s * 1e12) for s in shares),
        )
    assert got == want
    # monopoly market: HHI = 1e12 exactly, even split of n: ~1e12/n
    assert got["m2"] == (1, 1_000_000, 1_000_000_000_000)


def test_hhi_zero_total_market_drops(spark):
    rows = [("z", "a", 0.0), ("z", "b", 0.0), ("ok", "a", 1.0)]
    df = spark.createDataFrame(rows, "m string, s string, v double")
    got = mn.hhi_concentration(df, "m", "s", "v").collect()
    assert [r["m"] for r in got] == ["ok"]


def test_hhi_even_split_bound(spark):
    n = 8
    rows = [("m", f"s{i}", 12.5) for i in range(n)]
    df = spark.createDataFrame(rows, "m string, s string, v double")
    [r] = mn.hhi_concentration(df, "m", "s", "v").collect()
    assert r["hhi_pico"] == n * 15_625_000_000  # n·(1/n)²·1e12


# --- diff_in_diff ---------------------------------------------------------


def test_diff_in_diff_matches_python(spark):
    import math

    cells = {
        (True, False): [10.0, 12.0, 11.0],
        (True, True): [20.0, 23.0, 21.0, 22.0],
        (False, False): [10.0, 11.0],
        (False, True): [13.0, 14.0, 15.0],
    }
    rows = [(tr, po, v) for (tr, po), vs in cells.items() for v in vs]
    df = spark.createDataFrame(rows, "tr boolean, po boolean, v double")
    [r] = mn.diff_in_diff(df, "tr", "po", "v").collect()

    def mom(key):
        cs = [round(v * 100) for v in cells[key]]
        n, s, q = len(cs), sum(cs), sum(c * c for c in cs)
        return n, s / n, ((q - s * s / n) / (n - 1)) / n

    nt0, mt0, vt0 = mom((True, False))
    nt1, mt1, vt1 = mom((True, True))
    nc0, mc0, vc0 = mom((False, False))
    nc1, mc1, vc1 = mom((False, True))
    did = (mt1 - mt0) - (mc1 - mc0)
    se = math.sqrt(vt1 + vt0 + vc1 + vc0)
    assert (r["n_t_pre"], r["n_t_post"], r["n_c_pre"], r["n_c_post"]) == (
        nt0, nt1, nc0, nc1)
    assert r["did_micro"] == math.floor(did * 1e4)
    assert r["se_micro"] == math.floor(se * 1e4)
    assert r["t_micro"] == math.floor(did / se * 1e6)


def test_diff_in_diff_parallel_trends_zero(spark):
    # control and treatment move by exactly the same amount -> DiD = 0
    rows = (
        [(True, False, 10.0), (True, False, 20.0)]
        + [(True, True, 15.0), (True, True, 25.0)]
        + [(False, False, 50.0), (False, False, 60.0)]
        + [(False, True, 55.0), (False, True, 65.0)]
    )
    df = spark.createDataFrame(rows, "tr boolean, po boolean, v double")
    [r] = mn.diff_in_diff(df, "tr", "po", "v").collect()
    assert r["did_micro"] == 0


def test_diff_in_diff_thin_cell_drops(spark):
    rows = [
        (True, False, 1.0), (True, True, 2.0), (True, True, 3.0),
        (False, False, 1.0), (False, False, 2.0),
        (False, True, 1.0), (False, True, 2.0),
    ]
    df = spark.createDataFrame(rows, "tr boolean, po boolean, v double")
    assert mn.diff_in_diff(df, "tr", "po", "v").count() == 0


# --- fellegi_sunter_patterns (round 12, probabilistic record linkage) ---


def test_fellegi_sunter_patterns_hand_case(spark):
    import math

    rows = [(1, "blk", "x", "p"), (2, "blk", "x", "p"),
            (3, "blk", "x", "q"), (4, "blk", "y", "q")]
    df = spark.createDataFrame(rows, "id long, blk string, f1 string, f2 string")
    out = {
        r["pattern"]: r
        for r in mn.fellegi_sunter_patterns(
            df, ["blk"], ["f1", "f2"], "id"
        ).collect()
    }
    wa = math.floor(math.log(9.0) * 1e6)       # agree: ln(.9/.1)
    wd = math.floor(math.log(1 / 9) * 1e6)     # disagree: ln(.1/.9)
    # pairs: (1,2)->11b=3, (1,3)&(2,3)->01b=1, (3,4)->10b=2, (1,4)&(2,4)->0
    assert out[3]["n_pairs"] == 1 and out[3]["weight_micro"] == 2 * wa
    assert out[1]["n_pairs"] == 2 and out[1]["weight_micro"] == wa + wd
    assert out[2]["n_pairs"] == 1 and out[2]["weight_micro"] == wa + wd
    assert out[0]["n_pairs"] == 2 and out[0]["weight_micro"] == 2 * wd
    # blocking is mandatory: cross-block pairs never appear
    rows2 = rows + [(5, "other", "x", "p")]
    df2 = spark.createDataFrame(rows2, "id long, blk string, f1 string, f2 string")
    total = sum(
        r["n_pairs"]
        for r in mn.fellegi_sunter_patterns(df2, ["blk"], ["f1", "f2"], "id").collect()
    )
    assert total == 6  # id 5 in its own block contributes nothing
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mn.fellegi_sunter_patterns(df, [], ["f1"], "id")


def test_fellegi_sunter_null_safe_agreement(spark):
    # NULL == NULL counts as agreement via eqNullSafe; NULL vs value not
    rows = [(1, "b", None), (2, "b", None), (3, "b", "z")]
    df = spark.createDataFrame(rows, "id long, blk string, f1 string")
    out = {
        r["pattern"]: r["n_pairs"]
        for r in mn.fellegi_sunter_patterns(df, ["blk"], ["f1"], "id").collect()
    }
    assert out == {1: 1, 0: 2}


# --- sorted_neighborhood_patterns (round 12, linear-candidate linkage) ---


def test_sorted_neighborhood_pairs_are_window_bounded(spark):
    import math

    # one block, sorted by v: ids in v-order are 1,2,3,4,5; window=2
    # pairs = (1,2)(1,3)(2,3)(2,4)(3,4)(3,5)(4,5) = n*w - w(w+1)/2 = 7
    rows = [(i, "b", i * 10, "x" if i <= 3 else "y") for i in range(1, 6)]
    df = spark.createDataFrame(rows, "id long, blk string, v long, f1 string")
    out = mn.sorted_neighborhood_patterns(
        df, ["blk"], "v", ["f1"], "id", window=2
    ).collect()
    assert sum(r["n_pairs"] for r in out) == 7
    # agreement counts: pairs within {1,2,3} -> (1,2)(1,3)(2,3) agree;
    # {4,5} -> (4,5) agrees; cross pairs (2,4)(3,4)(3,5) disagree
    pat = {r["pattern"]: r["n_pairs"] for r in out}
    assert pat == {1: 4, 0: 3}
    wa = math.floor(math.log(9.0) * 1e6)
    wd = math.floor(math.log(1 / 9) * 1e6)
    w = {r["pattern"]: r["weight_micro"] for r in out}
    assert w == {1: wa, 0: wd}


def test_sorted_neighborhood_agrees_with_blocked_on_tiny_blocks(spark):
    """With window >= block size - 1, sorted-neighborhood enumerates
    exactly the blocked pair set — the two generators must produce the
    identical pattern table."""
    rows = [
        (i, f"blk{i % 3}", (i * 7) % 20, (i * 3) % 4, (i * 5) % 3)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, blk string, v long, f1 long, f2 long")
    blocked = {
        (r["pattern"], r["weight_micro"]): r["n_pairs"]
        for r in mn.fellegi_sunter_patterns(df, ["blk"], ["f1", "f2"], "id").collect()
    }
    sn = {
        (r["pattern"], r["weight_micro"]): r["n_pairs"]
        for r in mn.sorted_neighborhood_patterns(
            df, ["blk"], "v", ["f1", "f2"], "id", window=10
        ).collect()
    }
    assert sn == blocked
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mn.sorted_neighborhood_patterns(df, ["blk"], "v", ["f1"], "id", window=0)
