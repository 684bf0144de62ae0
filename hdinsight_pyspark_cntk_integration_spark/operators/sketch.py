"""Mergeable cardinality sketches (Apache DataSketches HLL, built into
Spark SQL since 3.5) — the incremental-analytics primitive the plain
``approx_count_distinct`` aggregate can't give you: a sketch is a VALUE
you can store per partition/day/shard and union later, so a 100 TB
corpus can maintain distinct-counts incrementally (sketch new data only,
``hll_union_agg`` with yesterday's sketches) instead of rescanning.

SURVEY.md §2.7 approximate-aggregate family. The sketch bytes are
engine-specific by construction, so the correctness gate checks the
ESTIMATE against the exact count with a quantified error bound (the
same bounded-assertion pattern as ``q_approx_distinct``), and pytest
pins the algebraic property that makes sketches useful: estimate(union
of per-group sketches) == estimate(sketch of the whole).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_bounded(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rel_tol: float = 0.05,
    lg_k: int = 12,
) -> DataFrame:
    """Gate-shaped query: per group, the EXACT distinct count plus a
    boolean asserting the HLL sketch estimate landed within ``rel_tol``
    relative error (lg_k=12 ⇒ rse≈1.6%, so 5% ≈ 3σ). The sketch value
    itself is engine-specific by design: it is checked, not emitted."""
    return (
        df.groupBy(group_col)
        .agg(
            F.count_distinct(F.col(value_col)).cast("long").alias("exact_distinct"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col(value_col), F.lit(lg_k))
            ).alias("_approx"),
        )
        .select(
            F.col(group_col),
            "exact_distinct",
            (
                F.abs(
                    F.col("_approx").cast("double")
                    / F.col("exact_distinct").cast("double")
                    - 1.0
                )
                <= F.lit(float(rel_tol))
            ).alias("sketch_ok"),
        )
    )


def heavy_hitters_exact(
    df: DataFrame,
    value_col: str,
    capacity: int = 200,
) -> DataFrame:
    """EXACT frequent items above the n/capacity support threshold,
    without a full-vocabulary groupBy: per-partition Misra-Gries
    summaries prune the candidate set, then one exact counting pass over
    the (broadcast) candidates verifies. Returns (value, n_occurrences)
    for every value with count * capacity > n — exact and
    partition-invariant: the MG candidate superset depends on data
    layout, but the final exact filter does not.

    Guarantee chain: a Misra-Gries summary with ``capacity`` counters
    under-counts any item by at most n_p/capacity (including under
    batch-granularity merges, by the MG merge theorem), so an item with
    partition count > n_p/capacity survives partition p; if a global
    count exceeds n/capacity = Σ n_p/capacity then by pigeonhole some
    partition exceeds its local threshold — every true heavy hitter is a
    candidate. False candidates are removed by the exact pass.

    Scale shape: candidates ≤ capacity × partitions (bounded, broadcast-
    sized); the verify pass is one scan + a semi-join-filtered partial-
    agg groupBy whose key cardinality is the candidate set, not the
    vocabulary. The Python stage is Arrow-batched and works on
    ``value_counts`` vectors per batch, never per-row appends. The
    support test is pure integer arithmetic (count * capacity > n), so
    an ANSI-SQL oracle reproduces it bit-for-bit.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1 (got {capacity})")
    import pandas as pd

    vals = df.select(F.col(value_col).alias("v")).filter(F.col("v").isNotNull())

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf["v"].value_counts()
            for val, c in vc.items():
                counters[val] = counters.get(val, 0) + int(c)
            if len(counters) > capacity:
                # MG merge-and-truncate: subtract the (capacity+1)-th
                # largest count from all, drop the non-positive.
                import numpy as np

                arr = np.fromiter(counters.values(), dtype="int64")
                cut = int(np.partition(arr, -capacity - 1)[-capacity - 1])
                counters = {k: c - cut for k, c in counters.items() if c > cut}
        yield pd.DataFrame({"v": list(counters.keys())})

    candidates = vals.mapInPandas(mg, schema=vals.schema).distinct()
    n = vals.count()
    exact = (
        vals.join(F.broadcast(candidates), "v", "left_semi")
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") * F.lit(capacity) > F.lit(n))
    )
    return exact.select(F.col("v").alias(value_col), "n_occurrences")


# --------------------------------------------------------------------------
# t-digest: mergeable quantile sketch
# --------------------------------------------------------------------------
def _td_compress(means, weights, delta):
    """Merge adjacent centroids under the k1 size limit
    4·n·q(1−q)/delta (Dunning's merging digest). Inputs are 1-D numpy
    arrays; returns compressed (means, weights) sorted by mean."""
    import numpy as np

    order = np.argsort(means, kind="mergesort")
    means, weights = means[order], weights[order]
    total = float(weights.sum())
    out_m: list = []
    out_w: list = []
    cur_m, cur_w = float(means[0]), float(weights[0])
    w_before = 0.0
    for m, w in zip(means[1:], weights[1:]):
        q = (w_before + cur_w / 2.0) / total
        limit = 4.0 * total * q * (1.0 - q) / delta
        if cur_w + w <= max(limit, 1.0):
            cur_m = (cur_m * cur_w + float(m) * float(w)) / (cur_w + float(w))
            cur_w += float(w)
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            w_before += cur_w
            cur_m, cur_w = float(m), float(w)
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)


def _td_quantile(means, weights, q):
    """Estimate the q-quantile from a compressed digest by linear
    interpolation between centroid mid-ranks, clamped to the extreme
    centroid means."""
    import numpy as np

    total = float(weights.sum())
    cum = np.cumsum(weights) - weights / 2.0
    target = q * total
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    return float(np.interp(target, cum, means))


def tdigest_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: list[float],
    delta: int = 200,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group quantile estimates from a MERGEABLE t-digest — the
    quantile analogue of the HLL sketch above, and the scale path when
    ``F.percentile`` (exact, but it buffers each group's values) is too
    hot: the full dataset is reduced to ≤ O(delta) centroids per group
    regardless of row count, and partial digests merge associatively, so
    per-shard/per-day digests can be stored and combined later without
    rescanning (the same incremental-analytics contract as
    ``hll_union_agg``).

    Two-stage shape: (1) ``mapInPandas`` builds one partial digest per
    (Arrow batch × group) — no shuffle, output is centroid arrays of
    bounded size; (2) one groupBy(group) ``applyInPandas`` merges
    centroid lists and evaluates the quantiles. The shuffle moves only
    digests (KB per group), never values — at 100 TB this is the
    difference between a quantile job that works and one that spills.

    Estimates are partitioning-DEPENDENT (merge order changes centroid
    boundaries), so the correctness contract is a rank-error bound —
    |rank(estimate) − q| ≤ ~0.01 at delta=200 — pinned in pytest under
    multiple partitionings and asserted as a boolean in the gate query
    (the bounded-assertion pattern; reference has no quantiles at all,
    SURVEY.md §2.7 approximate-aggregate family).

    ``weight_col`` generalizes to WEIGHTED quantiles (each row counts
    with its weight in rank space — e.g. token counts when sizing
    per-document budgets): centroids carry summed weights, the merge
    algebra is unchanged, and non-positive/NULL weights drop.
    """
    import numpy as np
    import pandas as pd

    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    if not all(0.0 <= q <= 1.0 for q in quantiles):
        raise ValueError(f"quantiles must be in [0,1] (got {quantiles})")
    qs = [float(q) for q in quantiles]

    w_expr = (
        F.col(weight_col).cast("double") if weight_col is not None else F.lit(1.0)
    )
    src = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
        w_expr.alias("w"),
    ).filter(F.col("v").isNotNull() & (F.col("w") > 0.0))

    partial_schema = "g string, means array<double>, weights array<double>"

    def make_partials(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for g, sub in pdf.groupby("g", sort=False):
                vals = sub["v"].to_numpy(dtype=np.float64)
                wts = sub["w"].to_numpy(dtype=np.float64)
                m, w = _td_compress(vals, wts, delta)
                rows.append((str(g), list(m), list(w)))
            yield pd.DataFrame(rows, columns=["g", "means", "weights"])

    partials = src.mapInPandas(make_partials, schema=partial_schema)

    out_schema = "g string, q double, est double"

    def merge_and_eval(key, pdf):
        means = np.concatenate([np.asarray(x, dtype=np.float64) for x in pdf["means"]])
        weights = np.concatenate(
            [np.asarray(x, dtype=np.float64) for x in pdf["weights"]]
        )
        m, w = _td_compress(means, weights, delta)
        return pd.DataFrame(
            {"g": key[0], "q": qs, "est": [_td_quantile(m, w, q) for q in qs]}
        )

    return (
        partials.groupBy("g")
        .applyInPandas(merge_and_eval, schema=out_schema)
        .withColumnRenamed("g", group_col)
    )


def hll_sliding_distinct(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Trailing-N-day distinct counts via windowed HLL sketch union —
    the scale answer to sliding ``COUNT(DISTINCT)``, which has no
    mergeable exact partial: computing it exactly per window either
    rescans N days of raw keys per day or self-joins the fact table
    N times. Here the fact table is touched ONCE (per-day sketch agg,
    one partial-agg shuffle); the sliding union then runs over the
    per-DAY aggregate — |days| rows, KB-sized sketch values — so the
    window cost is independent of corpus cardinality. Same mergeable-
    sketch contract as ``hll_union_agg`` storage: yesterday's sketches
    never need recomputing when today arrives.

    Returns (day, est) with the estimate's standard HLL error
    (lgConfigK=12 → ~1.6 % RSE). The gate pairs it with the exact
    offset-explode twin and a 3σ bound check.

    The frame is CALENDAR-based: the window orders by an integer day
    number with ``rangeBetween``, so a gap in the day sequence shrinks
    the union to the days actually inside the trailing N calendar days.
    (``rowsBetween`` over the per-day aggregate would reach back to the
    last N *present* days — arbitrarily far past the documented window
    when the sequence has holes — and diverge from the exact
    calendar-window twin the gate pairs this with.)
    """
    daily = df.groupBy(F.to_date(F.col(ts_col)).alias("day")).agg(
        F.hll_sketch_agg(F.col(key_col)).alias("sk")
    )
    from pyspark.sql import Window

    daily = daily.withColumn(
        "__daynum", F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long")
    )
    w = Window.orderBy("__daynum").rangeBetween(-(window_days - 1), 0)
    return daily.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("est"),
    )


_CMS_P = 1_000_003
_CMS_A = 2654435761
_CMS_B = 40503


def _cms_bucket(key: Column, d: int, width: int) -> Column:
    """Row d's CMS bucket for an integer key: the Knuth affine family
    ((x mod p)·A_d + B_d mod p) mod width — pure 64-bit-safe integer
    arithmetic (product < 2^63 for any input), reproducible in ANSI SQL
    so the estimator is oracle-checkable."""
    a = (2 * d + 1) * _CMS_A % _CMS_P
    b = (d + 1) * _CMS_B % _CMS_P
    return F.pmod(
        F.pmod(F.pmod(key.cast("long"), F.lit(_CMS_P)) * F.lit(a) + F.lit(b), F.lit(_CMS_P)),
        F.lit(width),
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over an integer
    key column, materialized as its (d, bucket, cnt) cell table — the
    mergeable frequency sketch that answers "how often does key x
    occur?" in O(depth) probes with a one-sided error: estimates never
    undercount, and overcount by <= e·N/width with probability
    1 − e^−depth. The table form IS the storage contract (like the HLL
    and t-digest operators): per-shard sketches are plain parquet and
    merge by union + per-cell sum — yesterday's cells never need
    recomputing.

    Shape: one explode to ``depth`` rows per input row (constant
    factor), ONE partial-agg groupBy; the sketch is depth × width cells
    regardless of corpus size.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"need depth >= 1 and width >= 1 (got {depth}, {width})")
    key = F.col(key_col)
    cells = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("d"), _cms_bucket(key, d, width).alias("bucket")
                )
                for d in range(depth)
            ])
        ).alias("x")
    ).select("x.d", "x.bucket")
    return cells.groupBy("d", "bucket").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-frequency estimates for the probe keys: min over the depth
    rows of each key's cell counts (an absent cell is 0). Returns
    (key_col, est) — est >= the true count always; the bound gate pairs
    it with exact counts."""
    key = F.col(key_col)
    pb = probes.select(
        key,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("d"), _cms_bucket(key, d, width).alias("bucket")
                )
                for d in range(depth)
            ])
        ).alias("x"),
    ).select(key_col, "x.d", "x.bucket")
    return (
        pb.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est"))
    )


# --- KMV (k-minimum-values / theta-style) sketches -----------------------
#
# HLL unions beautifully but cannot INTERSECT; the KMV sketch can: keep
# the k smallest hash values of each set, union two sketches and look at
# what fraction of the union's k-min belongs to both sets (a Jaccard
# estimate), then scale by the union-cardinality estimate (k-1)/kth_min.
# This is the sketch family behind Apache DataSketches' theta sketch
# set-expression support.

_KMV_P = (1 << 61) - 1


def kmv_sketch_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 512,
    safety: int = 4,
) -> DataFrame:
    """One KMV sketch (sorted array of the k smallest distinct hash
    values in [0, P)) per group:
    (group, kmv array<long>, n_kept, clipped boolean).

    Bounded-memory selection at scale: a first pass estimates each
    group's distinct count (HLL), from which a hash threshold
    ``k*safety*P/n_est`` is derived and broadcast; only hashes under the
    threshold — ~k*safety rows per group regardless of corpus size —
    survive to the final per-group sort+slice. No unbounded
    collect_list, no per-group full sort. Groups smaller than k keep
    every distinct hash (the sketch is then EXACT: estimates degrade to
    exact counts).

    ``clipped`` records whether the prefilter threshold was actually
    below P for the group — i.e. whether hashes COULD have been dropped
    before the sort+slice. Downstream exactness claims (``n_kept < k ⇒
    the sketch holds every distinct hash``) are only valid when clipped
    is false: if the HLL estimate ever overshoots a small group by >
    ``safety``×, the threshold clips real hashes and an un-flagged
    sketch would silently masquerade as exact (VERDICT r7 #4).
    """
    # NULL values are excluded to match COUNT(DISTINCT ...) semantics —
    # xxhash64 would otherwise hash NULL to its seed constant and count
    # it as one extra phantom member per group.
    df = df.filter(F.col(value_col).isNotNull())
    h = F.pmod(F.xxhash64(F.col(value_col).cast("string")), F.lit(_KMV_P))
    hashes = df.select(F.col(group_col).alias("grp"), h.alias("__h")).distinct()
    est = (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(F.approx_count_distinct(value_col).alias("__n_est"))
        .withColumn(
            "__thr",
            F.least(
                F.lit(_KMV_P),
                F.floor(
                    F.lit(float(k * safety) * _KMV_P) / F.greatest("__n_est", F.lit(1))
                ).cast("long"),
            ),
        )
        .select("grp", "__thr")
    )
    kept = hashes.join(F.broadcast(est), "grp").filter(F.col("__h") <= F.col("__thr"))
    return kept.groupBy("grp").agg(
        F.slice(F.array_sort(F.collect_list("__h")), 1, k).alias("kmv"),
        F.max(F.col("__thr") < F.lit(_KMV_P)).alias("clipped"),
    ).select(
        "grp", "kmv", F.size("kmv").cast("long").alias("n_kept"), "clipped"
    )


def kmv_intersect_estimate(sketches: DataFrame, k: int = 512) -> DataFrame:
    """Pairwise set-intersection estimates from per-group KMV sketches:
    (grp_a, grp_b, union_est, jaccard_micro, intersect_est) for every
    group pair with grp_a < grp_b.

    For each pair: X = the k smallest of kmv_a ∪ kmv_b; the union
    cardinality is (|X|-1)·P/max(X) (or |X| exactly when both sketches
    are complete), the Jaccard estimate is |X ∩ kmv_a ∩ kmv_b|/|X|, and
    the intersection estimate is their product. The pair join is over
    SKETCHES (one row per group), so its cost is groups², never rows².

    A sketch counts as complete only when ``n_kept < k`` AND its
    ``clipped`` flag is false — a clipped sketch may have lost hashes to
    the prefilter even while looking small, so it falls back to the
    estimator (with s=|X| observed minima, not a hardcoded k). Sketch
    DataFrames without a ``clipped`` column (pre-flag persisted
    sketches) are treated as unclipped, preserving the old behavior.
    """
    if "clipped" not in sketches.columns:
        sketches = sketches.withColumn("clipped", F.lit(False))
    a = sketches.select(
        F.col("grp").alias("grp_a"), F.col("kmv").alias("__ka"),
        F.col("n_kept").alias("__na"), F.col("clipped").alias("__ca"),
    )
    b = sketches.select(
        F.col("grp").alias("grp_b"), F.col("kmv").alias("__kb"),
        F.col("n_kept").alias("__nb"), F.col("clipped").alias("__cb"),
    )
    pairs = a.crossJoin(b).filter(F.col("grp_a") < F.col("grp_b"))
    union_all = F.array_sort(F.array_union("__ka", "__kb"))
    x = F.slice(union_all, 1, k)
    x_sz = F.size(x)
    kth = F.element_at(x, x_sz)
    # Two complete sketches (each kept EVERY distinct hash of its set)
    # make the whole expression exact regardless of how big their union
    # is — union/intersection of the full hash sets ARE the answers.
    complete = (
        (F.col("__na") < k) & (F.col("__nb") < k)
        & ~F.col("__ca") & ~F.col("__cb")
    )
    both = F.array_intersect("__ka", "__kb")
    # Estimator path: (s-1)·P/kth with s = |X| OBSERVED minima. When
    # both sketches are clipped-small (n_kept < k but hashes may have
    # been dropped by the prefilter), |X| can be well below k — a
    # hardcoded k-1 here would inflate the union by ~(k-1)/(|X|-1)
    # (~50x at |X|=10, k=512). |X| < 2 leaves the estimator undefined;
    # the best remaining guess is |X| itself (0 or 1 observed hashes).
    union_est = F.when(complete, F.size(union_all).cast("long")).otherwise(
        F.when(
            x_sz >= 2,
            F.floor((x_sz - 1).cast("double") * _KMV_P / kth).cast("long"),
        ).otherwise(x_sz.cast("long"))
    )
    common_est = F.size(F.array_intersect(x, both))
    common = F.when(complete, F.size(both)).otherwise(common_est)
    jacc_denom = F.when(complete, F.size(union_all)).otherwise(x_sz)
    jacc_micro = F.floor(common.cast("long") * F.lit(1_000_000) / jacc_denom).cast("long")
    intersect_est = F.when(complete, F.size(both).cast("long")).otherwise(
        F.floor(common_est * union_est / x_sz).cast("long")
    )
    return pairs.select(
        "grp_a",
        "grp_b",
        union_est.alias("union_est"),
        jacc_micro.alias("jaccard_micro"),
        intersect_est.alias("intersect_est"),
    )
