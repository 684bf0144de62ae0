"""Distributed statistics (SURVEY.md §2.7 statistics family): moments,
correlation, contingency, agreement, drift, time-series and rank tests.

The rank and two-sample operators share three private helpers instead
of each re-deriving global ranks. A global rank is textbook-defined
over a row-level sort — the 100 TB antipattern — so every one of them
reads a DISTINCT-VALUE aggregate instead (one partial-agg shuffle,
bounded by the value DOMAIN, not the row count) and the only window
runs over that aggregate:

- ``_two_group_value_counts`` is the one table the two-group
  operators read (mann_whitney_u, auc, ks_statistic, cliffs_delta,
  wasserstein_1d, tv_distance, hellinger_distance, cvm_distance,
  ad_distance, brunner_munzel): per distinct non-NULL value the two
  group counts, their running counts in value order and the two group
  totals, which are the table's own column sums.
- ``_doubled_midrank`` is the one midrank window. Average ranks are
  half-integers, so every rank statistic carries them DOUBLED:
  ``2·cum_before + count + 1``, a BIGINT.
- ``_pooled_rank_sums`` is the k-group rank table of kruskal_wallis
  and dunn_test: per-group doubled rank sums over pooled ranks, plus
  the pooled count and tie sum.

The agreement and trend operators share three more builders, one per
family, and are thin formulas over them:

- ``_rating_cells`` is the one rating-cell table, ``(item, label, c,
  m)``: the rating count per cell and the item's rating count, over
  items rated at least twice. ``krippendorff_alpha``,
  ``krippendorff_ordinal``, ``krippendorff_interval`` (through the one
  coincidence kernel ``_krippendorff``, which differs per metric only
  in the pair weight), ``gwet_ac1`` and ``fleiss_kappa`` read it.
- ``_margin_totals`` is the one margin-totals table: per key, then one
  row of key count, cell count, Σx, Σx² and Σ(per-key Σx)².
  ``icc_oneway`` and ``kendall_w`` read the item margins;
  ``cochran_q``, ``icc_twoway`` and ``cronbach_alpha`` cross the row
  margins with the column margins.
- ``_pair_signs`` is the one ``i < j`` self-join within keys, giving
  the pair signums ``kendall_tau`` counts; ``_mann_kendall`` is the one
  Mann-Kendall body over it, keyed by partition (``mann_kendall``) or
  by (partition, season) (``seasonal_mann_kendall``).

NULL policy: NULL values (and NULL groups) are dropped by every rank
and two-sample operator, and a row with a NULL in any column an
agreement or trend operator reads (item, rater, label, value, rank,
partition, seq) drops. Degenerate input (empty, one group empty,
all values NULL) reports zero counts and a NULL statistic wherever the
statistic's denominator is 0. In the agreement and trend families,
empty, single-rating and one-category input gives the one-row
operators one row with a NULL statistic, and drops every partition of
the per-partition ones (kendall_tau, the Mann-Kendall pair).

Exactness: counts and doubled ranks are integers; sums of their
products are exact (in DECIMAL, or in fp64 below 2^53), so results do
not depend on summation order or partitioning — hash-gate-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _doubled_midrank(count, order, *partition) -> Column:
    """Twice the average rank of a block of ``count`` tied rows in a
    distinct-value table: ``2·Σ count over the rows before + count + 1``
    as a BIGINT, ranked in ``order`` within ``partition`` (global when
    no partition is given). ``count`` is a column or column name."""
    c = F.col(count) if isinstance(count, str) else count
    w = (
        Window.partitionBy(*partition)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        F.lit(2) * F.coalesce(F.sum(c).over(w), F.lit(0)) + c + F.lit(1)
    ).cast("long")


def _two_group_value_counts(
    df: DataFrame, group_col: str, value_col: str, group_a, group_b
) -> DataFrame:
    """The value-count table of two groups: one row per distinct
    non-NULL value ``v`` with the group counts ``n_a``/``n_b``, the
    running counts ``cum_a``/``cum_b`` up to and including ``v``, and
    the group totals ``tot_a``/``tot_b`` on every row. NULL values and
    NULL groups drop. The totals are a 1-row aggregate of this same
    table (AQE reuses its exchange, so the rows are read once); the
    running-count window is pruned by the optimizer when unused."""
    g = F.col(group_col)
    vc = (
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum((g == group_a).cast("long")).alias("n_a"),
            F.sum((g == group_b).cast("long")).alias("n_b"),
        )
    )
    tot = vc.agg(F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    return vc.crossJoin(F.broadcast(tot)).select(
        "v",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).alias("cum_a"),
        F.sum("n_b").over(w).alias("cum_b"),
        "tot_a",
        "tot_b",
    )


def _group_totals() -> list:
    """The ``(n_a, n_b)`` cells of a 1-row reduce over the value-count
    table: the two group totals, 0 for an empty table."""
    return [
        F.coalesce(F.max("tot_a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.max("tot_b"), F.lit(0)).cast("long").alias("n_b"),
    ]


def _pooled_rank_sums(
    df: DataFrame, group_col: str, value_col: str
) -> tuple[DataFrame, DataFrame]:
    """The k-group rank tables ``(per_g, pooled)``: ``per_g`` has one
    row per group ``g`` with its size ``n_g`` and doubled rank sum
    ``r2_g = Σ_v n_gv·r2_v`` over POOLED doubled midranks; ``pooled``
    is one row with the pooled size ``n`` and tie sum
    ``tie_num = Σ_v (t_v³ − t_v)``. NULL groups and NULL values drop."""
    gv = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count("*").cast("long").alias("n_gv"))
    )
    tv = gv.groupBy("v").agg(F.sum("n_gv").cast("long").alias("t"))
    ranks = tv.select("v", _doubled_midrank("t", "v").alias("r2"))
    pooled = tv.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).alias("tie_num"),
    )
    per_g = gv.join(ranks, "v").groupBy("g").agg(
        F.sum("n_gv").cast("long").alias("n_g"),
        F.sum(F.col("n_gv") * F.col("r2")).cast("long").alias("r2_g"),
    )
    return per_g, pooled


def _rating_cells(
    df: DataFrame, item_col: str, label_col: str, *keys: str, cast=None
) -> DataFrame:
    """The rating-cell table of the agreement statistics: one row per
    (item, label) cell with its rating count ``c`` and the item's
    rating count ``m``, for items rated at least twice (one rating
    carries no agreement information). Rows with a NULL item, label or
    other named key column drop; ``cast`` types the label. ``m`` is a
    window over the item, so the cells are item-partitioned after it."""
    label = F.col(label_col) if cast is None else F.col(label_col).cast(cast)
    cells = (
        df.dropna(subset=[item_col, label_col, *keys])
        .groupBy(F.col(item_col).alias("item"), label.alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    m = F.sum("c").over(Window.partitionBy("item")).cast("long")
    return cells.withColumn("m", m).filter(F.col("m") >= 2)


def _pair_sum(c: str, x) -> Column:
    """``Σ_{a<b} c_a·c_b·w(a, b)`` over one group's label counts ``c``,
    as a DECIMAL(38,0) aggregate: the pair weight is ``w ≡ 2`` when
    ``x`` is None (nominal), else ``w = (x_b − x_a)²`` for the labels'
    positions ``x``, summed as ``Σc·Σc·x² − (Σc·x)²`` (no pair join)."""
    cd = F.col(c).cast("decimal(38,0)")
    if x is None:
        return F.sum(cd) * F.sum(cd) - F.sum(cd * F.col(c))
    return F.sum(cd) * F.sum(cd * x * x) - F.sum(cd * x) * F.sum(cd * x)


def _krippendorff(
    df: DataFrame, item_col: str, rater_col: str, label_col: str, metric: str
) -> DataFrame:
    """The coincidence kernel of the three Krippendorff metrics, one row
    (n_items, n_ratings, do_scaled, de_num, disagreement_micro,
    alpha_micro) over the rating cells:
    ``alpha = 1 − (n−1)·Σ_u [P_u / (m_u−1)] / D_e`` with the per-item
    pair sum ``P_u = Σ_{c<k} n_uc·n_uk·w(c,k)`` micro-truncated per item
    (``do_scaled``) and ``D_e = Σ_{c<k} n_c·n_k·w(c,k)`` over the pooled
    label margins (``de_num``). The pair weight is 2 for ``nominal``,
    ``(k − c)²`` for ``interval`` and ``(x_k − x_c)²`` with ``x`` the
    label's doubled midrank in the pooled margins for ``ordinal``, i.e.
    ``(2·(cum_k − cum_c) + n_c − n_k)²``, four times the ordinal δ² (the
    factor cancels). That midrank is the only label-domain window."""
    cast = None if metric == "nominal" else "long"
    cells = _rating_cells(df, item_col, label_col, rater_col, cast=cast)
    cat = cells.groupBy("label").agg(F.sum("c").cast("long").alias("n_l"))
    x = None if metric == "nominal" else F.col("label")
    if metric == "ordinal":
        cat = cat.withColumn("label_x", _doubled_midrank("n_l", "label"))
        cells = cells.join(cat.select("label", "label_x"), "label")
        x = F.col("label_x")
    obs = (
        cells.groupBy("item")
        .agg(F.max("m").alias("m"), _pair_sum("c", x).alias("pd"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.expr("pd * 1000000 DIV (m - 1)").cast("decimal(38,0)"))
            .alias("do_scaled"),
        )
    )
    de = cat.agg(
        F.sum("n_l").cast("long").alias("n_ratings"),
        _pair_sum("n_l", x).alias("de_num"),
    )
    dis = F.expr("(do_scaled * (n_ratings - 1)) DIV NULLIF(de_num, 0)")
    return obs.crossJoin(de).select(
        "n_items",
        "n_ratings",
        "do_scaled",
        "de_num",
        dis.cast("long").alias("disagreement_micro"),
        (F.lit(1000000) - dis).cast("long").alias("alpha_micro"),
    )


def _margin_totals(df: DataFrame, key: str, x: Column) -> DataFrame:
    """The margin totals of the cells ``df`` over ``key``, one row:
    ``keys`` (distinct keys), ``cells`` (rows), ``sx = Σx``,
    ``sx2 = Σx²`` and ``sk2 = Σ_key (Σ_key x)²``, the sums
    DECIMAL(38,0)-exact. One key-partitioned aggregate, one 1-row
    reduce."""
    xd = x.cast("decimal(38,0)")
    per_key = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"), F.sum(xd).alias("s"), F.sum(xd * x).alias("q")
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("keys"),
        F.sum("n").cast("long").alias("cells"),
        F.sum("s").alias("sx"),
        F.sum("q").alias("sx2"),
        F.sum(F.col("s") * F.col("s")).alias("sk2"),
    )


def _pair_signs(pts: DataFrame, keys: list, values: list) -> DataFrame:
    """The pair table of the trend and concordance statistics: one row
    per point pair ``i < j`` (on ``__i``) within equal ``keys``, keeping
    the keys and replacing each value column ``v`` by the pair's
    ``sign(v_j − v_i)``. Series² work per key, never across keys."""
    a, b = pts.alias("a"), pts.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    return a.join(b, on + [F.col("a.__i") < F.col("b.__i")]).select(
        *(F.col(f"a.{k}").alias(k) for k in keys),
        *(
            F.signum(F.col(f"b.{v}") - F.col(f"a.{v}")).cast("int").alias(v)
            for v in values
        ),
    )


def _mann_kendall(pts: DataFrame, part_col: str, keys: list) -> DataFrame:
    """The Mann-Kendall body over points ``(__p, …keys, __i, __x)``:
    S, n and the tie-corrected 18·Var(S) are summed over the ``keys``
    blocks of each partition ``__p`` (``["__p"]`` for one series,
    ``["__p", "__s"]`` per season), then the continuity-corrected Z.
    Partitions with Var(S) = 0 (fewer than 2 points in every block, or
    all values tied within each) drop."""
    def v18(t):
        return t * (t - 1) * (2 * t + 5)

    s = (
        _pair_signs(pts, keys, ["__x"])
        .groupBy("__p")
        .agg(F.sum("__x").cast("long").alias("s_stat"))
    )
    var = (
        pts.groupBy(*keys, "__x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy(*keys)
        .agg(F.sum("t").alias("n"), F.sum(v18(F.col("t"))).alias("ties"))
        .groupBy("__p")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum(v18(F.col("n")) - F.col("ties")).cast("long").alias("var18"),
        )
    )
    sd = F.col("s_stat").cast("double")
    sigma = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s_stat") > 0, (sd - F.lit(1.0)) / sigma)
        .when(F.col("s_stat") < 0, (sd + F.lit(1.0)) / sigma)
        .otherwise(F.lit(0.0))
    )
    return s.join(var, "__p").filter(F.col("var18") > 0).select(
        F.col("__p").alias(part_col),
        "n",
        "s_stat",
        "var18",
        F.floor(z * F.lit(1_000_000.0)).cast("long").alias("z_micro"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) for two groups, with exact
    average-rank tie handling, computed WITHOUT a global row sort: the
    midrank window runs over the two-group value-count table. Returns
    one row (n_a, n_b, u_a, u_b) — u_a + u_b == n_a·n_b is the built-in
    self-check (asserted in pytest). The z-approximation is left to the
    caller: its tie-corrected variance adds nothing to the distributed
    story and everything emitted here is exact. NULL values drop; an
    empty group gives u_a = u_b = 0.
    """
    vc = _two_group_value_counts(df, group_col, value_col, group_a, group_b)
    r2 = _doubled_midrank(F.col("n_a") + F.col("n_b"), "v")
    agg = vc.select("tot_a", "tot_b", (F.col("n_a") * r2).alias("__ra")).agg(
        *_group_totals(), F.coalesce(F.sum("__ra"), F.lit(0)).alias("r2_a")
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    u_a = F.col("r2_a") / F.lit(2.0) - n_a * (n_a + F.lit(1.0)) / F.lit(2.0)
    return agg.select(
        F.col("n_a"),
        F.col("n_b"),
        u_a.alias("u_a"),
        (n_a * n_b - u_a).alias("u_b"),
    )


def ks_statistic(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic D = max |F_a(v) − F_b(v)|
    over the pooled distinct values — the distribution-shift detector
    (train-vs-serve drift, corpus-version drift on a numeric feature).
    Empirical CDFs are the running counts of the value-count table
    divided by its exact totals; the max of deterministic per-value
    fp64 expressions is order-independent, so the gate hash-matches.
    NULL values drop; ks_d is NULL when a group is empty.
    """
    vc = _two_group_value_counts(df, group_col, value_col, group_a, group_b)
    diff = F.abs(
        F.col("cum_a") / F.nullif("tot_a", F.lit(0))
        - F.col("cum_b") / F.nullif("tot_b", F.lit(0))
    )
    return vc.agg(*_group_totals(), F.max(diff).alias("ks_d"))


def spearman_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation with EXACT integer
    arithmetic end to end: average ranks are half-integers, so DOUBLED
    ranks ``2r = 2·cum_before + (count+1)`` are plain BIGINTs computed
    from each variable's per-group distinct-value aggregate (no global
    row sort — same shape as the U/KS tests, but the rank windows are
    PARTITIONED by group). All five moments Σ2rx, Σ2ry, Σ(2rx)²,
    Σ(2ry)², Σ(2rx·2ry) accumulate in DECIMAL(38,0); the ×4 scale
    cancels in the Pearson-on-ranks ratio, so the emitted ρ is one fp64
    expression over exact integers — hash-gate-safe under any
    partitioning, at any scale (no fp53 row-count ceiling).

    Shape: two distinct-value aggregates + two co-keyed joins back to
    the rows + one moments aggregate — four shuffles on (group, value)
    / (group), no window ever touching the row stream.

    NULL policy: a row with a NULL x or y drops before ranking, so both
    variables are ranked over the same rows (as ``spearman_rho``).
    """
    base = df.select(
        group_col, F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())

    def doubled_ranks(col: str, out: str) -> DataFrame:
        vc = base.groupBy(group_col, F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        r2 = _doubled_midrank("c", "v", group_col)
        return vc.select(group_col, F.col("v").alias(col), r2.alias(out))

    joined = base.join(doubled_ranks("__x", "r2x"), [group_col, "__x"]).join(
        doubled_ranks("__y", "r2y"), [group_col, "__y"]
    )
    dec = "decimal(38,0)"
    # products computed in DECIMAL (not long·long) so n up to ~1e12
    # can't overflow int64 inside (2r)²; the double cast at the end is
    # the same round-to-nearest in both engines — deterministic.
    r2x_d, r2y_d = F.col("r2x").cast(dec), F.col("r2y").cast(dec)
    m = joined.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(r2x_d).cast("double").alias("sx"),
        F.sum(r2y_d).cast("double").alias("sy"),
        F.sum((r2x_d * r2x_d).cast(dec)).cast("double").alias("sxx"),
        F.sum((r2y_d * r2y_d).cast(dec)).cast("double").alias("syy"),
        F.sum((r2x_d * r2y_d).cast(dec)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    rho = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return m.select(group_col, n.cast("long").alias("n_rows"), rho.alias("spearman"))


def cusum_changepoint(
    df: DataFrame,
    key_col: str,
    order_cols,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Per-key CUSUM changepoint: the row where the running sum of
    deviations from the key's CENTER is most extreme — the classic
    level-shift locator (where did this user's spend change?).

    Exactness discipline: values are fixture 2-decimal doubles → exact
    integer CENTS; the center is the exact integer-cent MEDIAN-FLOOR
    (percentile_disc-style lower median: ordinary medians interpolate
    to fp, the floor stays a BIGINT), so deviations and their running
    sum are pure integers — no windowed float accumulation, which is
    engine-order-dependent (Spark accumulates the frame serially,
    DuckDB uses segment trees; integers make the difference moot).
    Ties on |cusum| resolve to the EARLIEST row.

    Shape: one groupBy for the per-key median-floor (sort-based agg on
    cents), broadcast back; one window shuffle on the key for the
    running sum; one bounded top-1-per-key. At 100 TB the per-key state
    is a single accumulator — this is a streaming-shaped scan.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    # center = floor of the interpolated cent-median: percentile()
    # interpolates midway between even-count middles, and the floor
    # lands back on a BIGINT — the "lower median" — so deviations stay
    # integers.
    med = (
        df.select(F.col(key_col), cents.alias("__c"))
        .groupBy(key_col)
        .agg(F.floor(F.percentile(F.col("__c"), F.lit(0.5))).cast("long").alias("__mc"))
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    devsum = F.sum(cents - F.col("__mc")).over(w).cast("long")
    # med has one row per series key — unbounded by contract (per-user
    # series), so no forced broadcast: AQE picks the strategy from the
    # observed size (a shuffle join here co-partitions with the window
    # that follows anyway).
    scored = (
        df.join(med, key_col)
        .withColumn("__cusum", devsum)
    )
    pick = Window.partitionBy(key_col).orderBy(
        F.abs(F.col("__cusum")).desc(), *[F.col(c) for c in order_cols]
    )
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            key_col,
            F.col(id_col).alias("changepoint_id"),
            F.col("__cusum").alias("cusum"),
        )
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier flagging by Median Absolute Deviation —
    the heavy-tail-safe alternative to ``zscore_outliers`` (a single
    extreme value inflates a standard deviation but barely moves a
    median, so MAD keeps flagging power exactly where z-scores lose it).
    Rows with \\|x − median\\| > k·MAD are returned with the group's
    median, MAD, and the row's robust score \\|x − median\\|/MAD.

    Exactness: medians are Spark's exact interpolating ``percentile``
    (same order-statistic definition as ``percentile_cont`` everywhere),
    deviations and thresholds are single deterministic fp64 expressions
    — hash-identical across engines and partitionings. Degenerate
    groups (MAD = 0, i.e. >= half the group at the median) emit nothing:
    with a zero scale every deviation would be "infinitely" outlying,
    the same trap the zscore operator guards (score would divide by 0).

    Shape: two partial-group aggregates (median, then MAD of
    deviations — inherently two passes since deviations need the
    median) + two broadcast joins; per-group state is the exact
    percentile's value buffer, bounded by the group, never the table.
    """
    x = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "__absdev", F.abs(x - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(__absdev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), group_col)
        .filter((F.col("mad") > 0.0) & (F.col("__absdev") > F.lit(float(k)) * F.col("mad")))
        .withColumn("robust_score", F.col("__absdev") / F.col("mad"))
        .drop("__absdev")
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pointwise-mutual-information table of two categorical columns —
    the contingency analysis behind feature/metadata association checks
    (e.g. is a corpus's `lang` independent of its `source`?). One row
    per observed (x, y) cell:

        (x, y, n_xy, n_x, n_y, n, pmi_micro)

    with pmi = ln( P(x,y) / (P(x)·P(y)) ), quantized to integer
    micro-nats at birth (floor(ln·1e6), the engine-wide float
    discipline). The total MI is Σ (n_xy/n)·pmi — left to the caller
    because at corpus scale the integer product n_xy·pmi_micro can pass
    2^63; every column here is either an exact count or a micro-int.

    NULL x or y rows are excluded (standard MI semantics; mirror the
    filter in any SQL twin — SQL GROUP BY would keep NULL cells).

    Exactness: the ln argument is assembled from pure count ratios in a
    FIXED multiplication order — (n_xy/n_x)·(n/n_y), all doubles from
    exact longs — so any engine computes bit-identical doubles (no
    long·long overflow: products never materialize as integers).

    Scale shape: ONE partial-agg shuffle collapses the table to its
    (x, y) cells — bounded by the category-domain product, not row
    count. Marginals are windows OVER THE CELLS (partitioned on x, on
    y, and one unpartitioned total): fine precisely because cells are
    domain-bounded; this operator is for categorical columns, not keys.
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
    )
    n_x = F.sum("n_xy").over(Window.partitionBy("x"))
    n_y = F.sum("n_xy").over(Window.partitionBy("y"))
    n = F.sum("n_xy").over(Window.partitionBy())
    out = cells.select(
        "x", "y", "n_xy",
        n_x.cast("long").alias("n_x"),
        n_y.cast("long").alias("n_y"),
        n.cast("long").alias("n"),
    )
    ratio = (
        F.col("n_xy").cast("double") / F.col("n_x").cast("double")
    ) * (F.col("n").cast("double") / F.col("n_y").cast("double"))
    return out.withColumn(
        "pmi_micro", F.floor(F.log(ratio) * F.lit(1_000_000.0)).cast("long")
    )


def theil_u(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil's uncertainty coefficient U(X|Y) = I(X;Y) / H(X) — the
    NORMALIZED, asymmetric categorical-association measure
    (``mutual_information``'s dashboard-ready scalar): how much of X's
    entropy does knowing Y remove? 0 = independent, 1 = Y determines
    X. Unlike Cramér's V it is directional (U(X|Y) ≠ U(Y|X)), which is
    what a metadata audit usually wants ("does `source` determine
    `lang`?").

    The ln-micro discipline end to end: each (x,y) cell's MI term
    ``(n_xy/n)·ln((n_xy·n)/(n_x·n_y))`` and each x-margin's entropy
    term ``(n_x/n)·ln(n/n_x)`` is ONE fixed double expression over
    exact counts, floored to micro AT BIRTH, so both sums are exact
    BIGINT reductions (order-independent) and the ratio is one final
    truncating DIV. NULL x or y rows are excluded (MI semantics;
    mirrored in the oracle).

    Scale shape: one partial-agg shuffle to the (x,y) cells; marginals
    are windows OVER THE CELLS (domain-bounded — categorical columns,
    not keys; the mutual_information contract). Degenerate X (one
    category, H(X)=0) yields NULL.

    Returns one row (n, n_cells, mi_micro, hx_micro, u_micro).
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
    )
    n_x = F.sum("n_xy").over(Window.partitionBy("x"))
    n_y = F.sum("n_xy").over(Window.partitionBy("y"))
    n = F.sum("n_xy").over(Window.partitionBy())
    staged = cells.select(
        "x",
        "n_xy",
        n_x.cast("long").alias("n_x"),
        n_y.cast("long").alias("n_y"),
        n.cast("long").alias("n"),
    ).select(
        "x",
        "n_x",
        "n",
        F.expr(
            """CAST(FLOOR(
              CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)
              * LN((CAST(n_xy AS DOUBLE) / CAST(n_x AS DOUBLE))
                   * (CAST(n AS DOUBLE) / CAST(n_y AS DOUBLE)))
              * 1000000) AS BIGINT)"""
        ).alias("__mi"),
    )
    # per-cell flooring can push a near-independence MI a few micro
    # BELOW zero (true MI >= 0); U clamps that quantization noise at 0,
    # which also keeps the final DIV on non-negative operands (Spark
    # DIV truncates toward zero, DuckDB // floors — identical only
    # there; the oracle mirrors the clamp).
    per_x = staged.groupBy("x").agg(
        F.max("n_x").alias("n_x"),
        F.max("n").alias("n"),
        F.sum("__mi").cast("long").alias("__mi_x"),
    ).select(
        "n",
        "__mi_x",
        F.expr(
            """CAST(FLOOR(
              CAST(n_x AS DOUBLE) / CAST(n AS DOUBLE)
              * LN(CAST(n AS DOUBLE) / CAST(n_x AS DOUBLE))
              * 1000000) AS BIGINT)"""
        ).alias("__hx"),
    )
    counts = cells.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_cells")
    )
    return per_x.groupBy().agg(
        F.max("n").cast("long").alias("n"),
        F.sum("__mi_x").cast("long").alias("mi_micro"),
        F.sum("__hx").cast("long").alias("hx_micro"),
    ).crossJoin(F.broadcast(counts)).select(
        "n",
        "n_cells",
        "mi_micro",
        "hx_micro",
        F.expr(
            "CAST(CAST(GREATEST(mi_micro, 0) AS DECIMAL(38,0)) * 1000000"
            " DIV NULLIF(hx_micro, 0) AS BIGINT)"
        ).alias("u_micro"),
    )


def theil_sen(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    max_points: int = 256,
) -> DataFrame:
    """Theil-Sen robust regression per group: slope = the exact MEDIAN
    of all pairwise slopes (y_j−y_i)/(x_j−x_i) over x_i < x_j, and
    intercept = the exact median of (y − slope·x) over the group's
    points — the 29%-breakdown-point line fit that a single wild
    outlier cannot drag the way OLS lets it.

    CONTRACT: groups must be PRE-AGGREGATED and bounded — pairwise
    slopes are O(n²) per group by definition. ``max_points`` (default
    256 → ≤32 640 pairs/group) is enforced with a runtime raise_error,
    not a silent truncation: feed daily/monthly rollups, not raw rows
    (the gate query fits monthly revenue points per nation). x and y
    should be integer-quantized by the caller (dates → day numbers,
    prices → cents) so every slope is an exact-integer ratio.

    Exactness: slopes are IEEE divisions of exact longs — identical in
    any engine; medians are order statistics of those doubles (even
    count → mean of the two middles, the same interpolation DuckDB's
    ``median`` uses).

    Scale shape: one co-partitioned self-join on the group key builds
    pairs (group-bounded by contract), one partial-agg groupBy holds a
    sorted slope array bounded by max_points²/2, one broadcast join
    back for the intercept pass. No global sort, no collect.
    """
    if max_points < 2:
        raise ValueError(f"max_points must be >= 2 (got {max_points})")
    guard = df.groupBy(F.col(group_col)).agg(F.count(F.lit(1)).alias("__n"))
    # The raise_error guard is fused INTO the x column (not a standalone
    # column): Catalyst prunes never-referenced columns, and a pruned
    # guard is no guard — x feeds every slope and residual, so the
    # bound check always evaluates.
    x = F.when(F.col("__n") <= max_points, F.col(x_col).cast("double")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"theil_sen: group exceeds max_points={max_points} "
                    "(pre-aggregate to bounded groups): "
                ),
                F.col(group_col).cast("string"),
                F.lit(" has "),
                F.col("__n").cast("string"),
                F.lit(" points"),
            )
        ).cast("double")
    )
    y = F.col(y_col).cast("double")
    pts = df.join(F.broadcast(guard), group_col).select(
        F.col(group_col).alias("__g"), x.alias("__x"), y.alias("__y")
    )
    # pts is referenced four times downstream (both pair sides, the
    # residual pass, the guard evaluation); without materialization each
    # reference re-derives the input — 24 source scans in the un-cached
    # plan. The point set is bounded (max_points per group by contract),
    # so an eager localCheckpoint is cheap and collapses the plan to
    # one derivation. Same pattern as repeated_passages_maximal's
    # survivor set.
    pts = pts.localCheckpoint(eager=True)
    a = pts.select(
        F.col("__g"), F.col("__x").alias("__xa"), F.col("__y").alias("__ya")
    )
    b = pts.select(
        F.col("__g"), F.col("__x").alias("__xb"), F.col("__y").alias("__yb")
    )
    slopes = (
        a.join(b, "__g")
        .filter(F.col("__xa") < F.col("__xb"))
        .select(
            "__g",
            (
                (F.col("__yb") - F.col("__ya")) / (F.col("__xb") - F.col("__xa"))
            ).alias("__s"),
        )
    )

    def _median(arr: Column, n: Column) -> Column:
        mid = (n / F.lit(2)).cast("int")
        odd = F.element_at(arr, mid + 1)
        even = (F.element_at(arr, mid) + F.element_at(arr, mid + 1)) / F.lit(2.0)
        return F.when(n % 2 == 1, odd).otherwise(even)

    fit = slopes.groupBy("__g").agg(
        F.sort_array(F.collect_list("__s")).alias("__arr"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    ).select(
        "__g", "n_pairs",
        _median(F.col("__arr"), F.col("n_pairs")).alias("slope"),
    )
    resid = pts.join(F.broadcast(fit), "__g").select(
        "__g", "n_pairs", "slope",
        (F.col("__y") - F.col("slope") * F.col("__x")).alias("__r"),
    )
    return (
        resid.groupBy("__g", "n_pairs", "slope")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sort_array(F.collect_list("__r")).alias("__rs"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n_points",
            "n_pairs",
            "slope",
            _median(F.col("__rs"), F.col("n_points")).alias("intercept"),
        )
    )


def robust_scaler(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Median/IQR normalization per group — the outlier-immune twin of
    z-scoring (scikit-learn's RobustScaler semantics): scaled =
    (x − median) / (p75 − p25). Heavy tails inflate a stddev and crush
    z-scores toward zero; the IQR barely moves, so scaled magnitudes
    stay comparable across wild and tame groups.

    Returns the input rows + (med, iqr, robust_scaled). Degenerate
    groups (IQR = 0 — more than half the group inside one value) are
    DROPPED, the same guard as :func:`mad_outliers` — with zero scale
    every deviation would be infinite.

    Exactness: Spark's exact interpolating ``percentile`` (the
    ``percentile_cont`` order-statistic definition DuckDB shares);
    the scale division is one deterministic fp64 expression.

    Shape: one partial-group percentile aggregate + one broadcast join
    back; per-group state is the percentile value buffer, bounded by
    the group, never the table.
    """
    x = F.col(value_col).cast("double")
    q = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med"),
        (
            F.expr(f"percentile({value_col}, 0.75)")
            - F.expr(f"percentile({value_col}, 0.25)")
        ).alias("iqr"),
    )
    return (
        df.join(F.broadcast(q), group_col)
        .filter(F.col("iqr") > 0.0)
        .withColumn("robust_scaled", (x - F.col("med")) / F.col("iqr"))
    )


def burstiness(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    min_gaps: int = 2,
) -> DataFrame:
    """Goh-Barabási burstiness of each key's event stream:
    B = (σ − μ)/(σ + μ) over the inter-arrival gaps — B → −1 for a
    metronome (σ=0), ≈ 0 for a Poisson process (σ=μ), → 1 for extreme
    burst-and-silence patterns. The bot/abuse/scraper signal a plain
    event COUNT (heavy_users) cannot see: a steady crawler and a bursty
    human can share a count but never a B.

    Returns (key, n_gaps, mean_gap_us, burstiness_micro) for keys with
    >= ``min_gaps`` gaps (σ needs at least two) — mean in integer
    microseconds (exact integer division), B floor-quantized to micro.

    Exactness: gaps are exact integer microseconds (unix_micros
    diffs); Σg telescopes to the key's time RANGE (always a long) and
    Σg² accumulates in DECIMAL(38,0) (a µs² product passes 2^63 for
    gaps over ~25 days, and partial-agg DECIMAL sums are
    order-independent — the outlier_zscore discipline); σ =
    sqrt((n·Σg² − (Σg)²)/n²) where IEEE sqrt is correctly rounded, so
    every engine computes the identical double and the floor cannot
    flip.

    Shape: one lag window partitioned on the key (ordered by ts with
    the ts itself as total order within the key via a second sort
    column is unnecessary — equal timestamps yield zero-gaps, which are
    data, not nondeterminism) + one partial-agg groupBy. No global
    anything.
    """
    from pyspark.sql import Window

    # No tiebreak column needed: equal timestamps are interchangeable,
    # so ANY tie order yields the same gap MULTISET ([a,b,b,c] gives
    # {b-a, 0, c-b} either way) and the moments see only the multiset.
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col))
    us = F.unix_micros(F.col(ts_col))
    gaps = (
        df.select(F.col(key_col), F.col(ts_col))
        .withColumn("__gap", us - F.lag(us).over(w))
        .filter(F.col("__gap").isNotNull())
    )
    g = F.col("__gap").cast("decimal(38,0)")
    agg = gaps.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        # Σgaps telescopes to (last_ts − first_ts): bounded by the key's
        # time RANGE in µs, never by row count — always fits a long
        F.sum("__gap").cast("long").alias("__sg"),
        F.sum(g * g).alias("__sgg"),
    ).filter(F.col("n_gaps") >= min_gaps)
    n = F.col("n_gaps").cast("double")
    sg = F.col("__sg").cast("double")
    sgg = F.col("__sgg").cast("double")
    mu = sg / n
    var = (n * sgg - sg * sg) / (n * n)
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    b = F.when(sigma + mu == 0.0, F.lit(-1.0)).otherwise((sigma - mu) / (sigma + mu))
    return agg.select(
        key_col,
        "n_gaps",
        F.expr("__sg div n_gaps").alias("mean_gap_us"),
        F.floor(b * F.lit(1_000_000.0)).cast("long").alias("burstiness_micro"),
    )


def autocorrelation(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    max_lag: int = 6,
) -> DataFrame:
    """Per-series autocorrelation function at lags 1..``max_lag`` — the
    seasonality/persistence profile of a key's time series (does this
    nation's monthly revenue echo itself at lag 12?), the diagnostic
    behind ARIMA order selection and seasonal-model choice.

    Textbook ACF with the GLOBAL mean and global denominator:

        r_l = sum_{t>l} (x_t - xbar)(x_{t-l} - xbar) / sum_t (x_t - xbar)^2

    CONTRACT: ``value_col`` must be integer-quantized by the caller
    (cents, micro-units — the theil_sen convention) and series bounded
    (pre-aggregated rollups, not raw rows): every moment accumulates in
    DECIMAL(38,0), where ANSI mode turns overflow into a loud error,
    never a silent wrap.

    Exactness: expand the mean-centered sums so nothing fractional ever
    accumulates — with S=sum x, Q=sum x^2, P_l=sum x_t x_{t-l},
    T_l=sum tail, H_l=sum head, m_l=n-l:

        num_l·n^2 = n^2·P_l − n·S·(T_l+H_l) + m_l·S^2
        den·n^2   = n·(n·Q − S^2)

    both exact DECIMAL(38,0) integers; the ACF is ONE double division
    of the two, micro-floored. Order-independent under any partitioning.

    Shape: one window shuffle on the key (all ``max_lag`` lag columns in
    a single window pass), one partial-agg groupBy per key, then a
    constant-width stack to (key, lag) rows. Constant/degenerate series
    (den = 0) and lags with no overlap (m_l = 0) are dropped.

    Returns (key, lag, n, n_used, acf_micro).
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1 (got {max_lag})")
    dec = "decimal(38,0)"
    w = Window.partitionBy(key_col).orderBy(order_col)
    v = F.col(value_col).cast("long")
    lagged = df.select(
        F.col(key_col).alias("__k"),
        v.alias("__v"),
        *[F.lag(v, l).over(w).alias(f"__l{l}") for l in range(1, max_lag + 1)],
    )
    vd = F.col("__v").cast(dec)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vd).cast(dec).alias("__s"),
        F.sum(vd * vd).cast(dec).alias("__q"),
    ]
    for l in range(1, max_lag + 1):
        ld = F.col(f"__l{l}").cast(dec)
        aggs += [
            F.sum(vd * ld).cast(dec).alias(f"__p{l}"),
            F.sum(F.when(ld.isNotNull(), vd)).cast(dec).alias(f"__t{l}"),
            F.sum(ld).cast(dec).alias(f"__h{l}"),
            F.count(F.col(f"__l{l}")).cast("long").alias(f"__m{l}"),
        ]
    g = lagged.groupBy("__k").agg(*aggs)
    stack = ", ".join(
        f"{l}L, __p{l}, __t{l}, __h{l}, __m{l}" for l in range(1, max_lag + 1)
    )
    rows = g.select(
        "__k", "n", "__s", "__q",
        F.expr(
            f"stack({max_lag}, {stack}) AS (lag, __p, __t, __h, n_used)"
        ),
    )
    nD = F.col("n").cast(dec)
    mD = F.col("n_used").cast(dec)
    s, q, p = F.col("__s"), F.col("__q"), F.col("__p")
    th = (F.col("__t") + F.col("__h")).cast(dec)
    num = (nD * nD * p - nD * s * th + mD * s * s).cast(dec)
    den = (nD * (nD * q - s * s)).cast(dec)
    return (
        rows.filter((F.col("n_used") > 0) & (den != F.lit(0).cast(dec)))
        .select(
            F.col("__k").alias(key_col),
            "lag", "n", "n_used",
            F.floor(
                num.cast("double") / den.cast("double") * F.lit(1_000_000.0)
            ).cast("long").alias("acf_micro"),
        )
    )


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    period: int = 12,
) -> DataFrame:
    """Classical additive seasonal decomposition, the seasonal-index
    half: per-series 2×m centered-moving-average trend (the textbook
    even-period trend filter), then the mean DETRENDED value per season
    slot — "how much above trend is December, on average?".

    CONTRACT (theil_sen convention): ``value_col`` integer-quantized by
    the caller; ``order_col`` a CONTIGUOUS integer time index (e.g.
    year*12+month-1) so ``season = order mod period`` is the calendar
    slot; ``period`` even (the 2×m filter is the even-period form).

    Exactness — no float ever accumulates: the 2×m trend numerator
    trend2m_t = sum(v over [-m/2, m/2-1]) + sum(v over [-m/2+1, m/2])
    is an exact long (trend = trend2m/2m, never materialized); the
    detrended value scaled by 2m, d2m = 2m·v − trend2m, is an exact
    long; the seasonal index is ONE double ratio
    sum(d2m)/(2m·n_obs), micro-floored. Edge rows without a full
    centered window (first/last m/2 points) are excluded, exactly as
    the classical filter defines.

    Shape: one window shuffle on the key (two framed sums + two frame
    counts in a single pass), one partial-agg groupBy (key, season).
    Returns (key, season, n_obs, sum_d2m, seasonal_micro).
    """
    if period < 2 or period % 2 != 0:
        raise ValueError(f"period must be even and >= 2 (got {period})")
    half = period // 2
    v = F.col(value_col).cast("long")
    w = Window.partitionBy(key_col).orderBy(order_col)
    w1 = w.rowsBetween(-half, half - 1)
    w2 = w.rowsBetween(-half + 1, half)
    lagged = df.select(
        F.col(key_col).alias("__k"),
        F.pmod(F.col(order_col).cast("long"), F.lit(period)).alias("season"),
        v.alias("__v"),
        F.sum(v).over(w1).alias("__s1"),
        F.count(F.lit(1)).over(w1).alias("__c1"),
        F.sum(v).over(w2).alias("__s2"),
        F.count(F.lit(1)).over(w2).alias("__c2"),
    )
    d2m = (F.lit(2 * period) * F.col("__v") - (F.col("__s1") + F.col("__s2"))).cast(
        "long"
    )
    valid = (F.col("__c1") == period) & (F.col("__c2") == period)
    out = (
        lagged.filter(valid)
        .select("__k", "season", d2m.alias("__d"))
        .groupBy("__k", "season")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum("__d").cast("long").alias("sum_d2m"),
        )
    )
    ratio = F.col("sum_d2m").cast("double") / (
        F.lit(float(2 * period)) * F.col("n_obs").cast("double")
    )
    return out.select(
        F.col("__k").alias(key_col),
        "season", "n_obs", "sum_d2m",
        F.floor(ratio * F.lit(1_000_000.0)).cast("long").alias("seasonal_micro"),
    )


def holt_linear(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.2,
) -> DataFrame:
    """Holt's linear (double exponential) smoothing per series — the
    level+trend forecaster one notch up from ``ewma`` (which tracks
    level only and permanently lags a trending series):

        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    initialized l_2 = x_2, b_2 = x_2 − x_1 (fold starts at t=3).
    Returns (key, n, level_micro, trend_micro, forecast_micro) — the
    final state and the one-step-ahead forecast l+b, micro-floored.
    Keys with fewer than 2 points are dropped (no trend exists).

    CONTRACT (theil_sen convention): series bounded and pre-aggregated
    (the fold state lives in one array per key), ``order_col`` unique
    per key (a tie would make the fold order undefined).

    Exactness: the recursion is inherently sequential — no algebraic
    expansion keeps it integer — so determinism comes from ORDER +
    IDENTICAL IEEE ops: the fold runs over the sort_array-ed series,
    and every step is the same fixed-order double expression the
    oracle's recursive CTE computes; identical operations in identical
    order are bit-identical in any IEEE-754 engine, so the gate
    hash-matches without quantizing intermediate state. α and β
    literals parse to the same doubles in both engines.

    Shape: ONE partial-agg groupBy collecting each key's (order, value)
    pairs; the fold is a per-row ``aggregate`` HOF over the bounded
    array — no window, no iteration-by-join, no driver loop.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1] (got {alpha})")
    if not 0.0 < beta <= 1.0:
        raise ValueError(f"beta must be in (0, 1] (got {beta})")
    a, b_ = F.lit(float(alpha)), F.lit(float(beta))
    one_a, one_b = F.lit(1.0 - alpha), F.lit(1.0 - beta)
    series = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("t"),
                    F.col(value_col).cast("double").alias("x"),
                )
            )
        ).alias("__arr"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).filter(F.col("n") >= 2)
    xs = F.transform(F.col("__arr"), lambda p: p["x"])

    def fold(arr: Column) -> Column:
        init = F.struct(
            F.element_at(arr, 2).alias("l"),
            (F.element_at(arr, 2) - F.element_at(arr, 1)).alias("b"),
        )
        rest = F.slice(arr, 3, F.greatest(F.size(arr) - 2, F.lit(0)))

        def step(acc: Column, x: Column) -> Column:
            l_new = a * x + one_a * (acc["l"] + acc["b"])
            # bind l_new once so the trend update reads the computed
            # level, not a re-evaluated copy (same bits either way —
            # this is a cost guard, not a correctness one)
            return F.transform(
                F.array(l_new),
                lambda ln: F.struct(
                    ln.alias("l"),
                    (b_ * (ln - acc["l"]) + one_b * acc["b"]).alias("b"),
                ),
            )[0]

        return F.aggregate(rest, init, step)

    st_ = fold(xs)
    return series.select(
        F.col("__k").alias(key_col),
        "n",
        F.floor(st_["l"] * F.lit(1_000_000.0)).cast("long").alias("level_micro"),
        F.floor(st_["b"] * F.lit(1_000_000.0)).cast("long").alias("trend_micro"),
        F.floor((st_["l"] + st_["b"]) * F.lit(1_000_000.0))
        .cast("long")
        .alias("forecast_micro"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test — the parametric
    mean-difference companion to the rank-sum test (U asks "is one
    distribution shifted"; Welch asks "do the MEANS differ, given each
    group its own variance" — the default t-test since pooled-variance
    assumptions rarely hold between segments):

        t  = (m̄_a − m̄_b) / sqrt(s²_a/n_a + s²_b/n_b)
        df = (s²_a/n_a + s²_b/n_b)² /
             [ (s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1) ]

    with s² the UNBIASED sample variance. Groups need n >= 2 each
    (s² undefined below); the caller gets an empty frame, not a NaN.

    Exactness: values quantize to integer cents at birth; Σx and Σx²
    accumulate in DECIMAL(38,0) (order-independent at any scale);
    means/variances and t/df are ONE fixed-order fp64 expression tree
    over those exact integers, micro-floored at the end — the
    ols_regression moment discipline applied to inference.

    Shape: one partial-agg groupBy collapsing both groups to two
    moment rows, one pivot-style 1-row aggregate. The row stream is
    scanned once; nothing shuffles but six numbers.

    Returns one row (n_a, n_b, mean_a_micro, mean_b_micro, t_micro,
    df_micro).
    """
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    sub = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        (F.col(group_col) == F.lit(group_a)).alias("__is_a"),
        cents.alias("__c"),
    )
    cd = F.col("__c").cast(dec)
    m = sub.groupBy().agg(
        F.sum(F.when(F.col("__is_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~F.col("__is_a"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__is_a"), cd)).cast(dec).alias("__sa"),
        F.sum(F.when(~F.col("__is_a"), cd)).cast(dec).alias("__sb"),
        F.sum(F.when(F.col("__is_a"), cd * cd)).cast(dec).alias("__qa"),
        F.sum(F.when(~F.col("__is_a"), cd * cd)).cast(dec).alias("__qb"),
    ).filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("__sa").cast("double"), F.col("__sb").cast("double")
    qa, qb = F.col("__qa").cast("double"), F.col("__qb").cast("double")
    ma, mb = sa / na, sb / nb
    # unbiased sample variance from raw moments: (Σx² − (Σx)²/n)/(n−1)
    va = (qa - sa * sa / na) / (na - F.lit(1.0))
    vb = (qb - sb * sb / nb) / (nb - F.lit(1.0))
    sea, seb = va / na, vb / nb
    t = (ma - mb) / F.sqrt(sea + seb)
    dof = ((sea + seb) * (sea + seb)) / (
        sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))
    )
    micro = F.lit(1_000_000.0)
    return m.select(
        "n_a", "n_b",
        F.floor(ma * F.lit(10_000.0)).cast("long").alias("mean_a_micro"),
        F.floor(mb * F.lit(10_000.0)).cast("long").alias("mean_b_micro"),
        F.floor(t * micro).cast("long").alias("t_micro"),
        F.floor(dof * micro).cast("long").alias("df_micro"),
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F-test across ALL groups of ``group_col`` — the
    k-sample generalization of Welch/rank-sum ("do ANY of these
    segment means differ?"), the screening test run before pairwise
    comparisons:

        F = (SSB / (k−1)) / (SSW / (N−k)),   SSB + SSW = SST

    Exactness at any scale: per-group moments n_g, Σx_g, Σx²_g are
    DECIMAL(38,0)-exact. Raw sums of squares grow like N·x² and
    overflow ANY fixed quantization at 100 TB, so the statistic is
    computed through the BOUNDED decomposition: by Cauchy-Schwarz
    each group's (Σx_g)²/n_g ≤ Σx² (grand), so p_g = (Σx_g)²/(n_g·Q)
    ∈ [0, 1] — quantized to pico-units at birth (one fixed fp64
    expression over exact integers, floor, long-safe) and
    integer-summed across groups; SSB/Q and SSW/Q follow by
    subtraction and F is one final double ratio. eta² = SSB/SST is
    emitted in micro-units as the effect size.

    Shape: one grand-moment aggregate (1 row, broadcast), one
    group-level partial agg (k rows), one k-row rollup. Two scans,
    nothing shuffles but moments. Needs k >= 2, N > k, Q > 0.

    Returns one row (n_groups, n_rows, ssb_pico, f_micro, eta2_micro).
    """
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    rows = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("__g"), cents.alias("__c")
    )
    cd = F.col("__c").cast(dec)
    grand = rows.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(cd).cast(dec).alias("__s"),
        F.sum(cd * cd).cast(dec).alias("__q"),
    )
    per_g = rows.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__ng"),
        F.sum(cd).cast(dec).alias("__sg"),
    )
    return _anova_f_from_moments(grand, per_g)


def _anova_f_from_moments(grand: DataFrame, per_g: DataFrame) -> DataFrame:
    """Shared ANOVA tail: ``grand`` is one row (__n, __s, __q) of exact
    DECIMAL grand moments, ``per_g`` is (__ng, __sg) per group. Split out
    of :func:`anova_f` so count-weighted producers (levene_bf's cell
    table) reuse the IDENTICAL pico/floor expression chain — the output
    is bit-for-bit the row-level computation's."""
    pico = F.lit(1_000_000_000_000.0)
    sg, ng = F.col("__sg").cast("double"), F.col("__ng").cast("double")
    q = F.col("__q").cast("double")
    # p_g = (Σx_g)² / (n_g · Q) ∈ [0,1]: pico-quantized at birth, then
    # integer-summed — the order-independent cross-group reduction
    term = F.floor(sg * sg / (ng * q) * pico).cast("long")
    agg = (
        per_g.join(F.broadcast(grand))
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(term).cast("long").alias("__a"),
            F.first("__n").alias("n_rows"),
            F.first("__s").alias("__s"),
            F.first("__q").alias("__q"),
        )
        .filter(
            (F.col("n_groups") >= 2)
            & (F.col("n_rows") > F.col("n_groups"))
            & (F.col("__q") > 0)
        )
    )
    n = F.col("n_rows").cast("double")
    s = F.col("__s").cast("double")
    qd = F.col("__q").cast("double")
    k = F.col("n_groups").cast("double")
    # grand-mean term in the same pico units, same expression shape
    b2 = F.floor(s * s / (n * qd) * pico).cast("long")
    ssb = (F.col("__a") - b2).cast("double")  # 1e12 · SSB / Q
    ssw = (pico - F.col("__a").cast("double"))  # 1e12 · SSW / Q
    sst = (pico - b2.cast("double"))  # 1e12 · SST / Q
    fstat = (ssb / (k - F.lit(1.0))) / (ssw / (n - k))
    micro = F.lit(1_000_000.0)
    return agg.select(
        "n_groups",
        "n_rows",
        (F.col("__a") - b2).cast("long").alias("ssb_pico"),
        F.floor(fstat * micro).cast("long").alias("f_micro"),
        F.floor(ssb / sst * micro).cast("long").alias("eta2_micro"),
    )


def kendall_tau(
    df: DataFrame,
    part_col: str,
    seq_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's tau-b rank correlation per partition — the
    tie-robust, outlier-immune monotone-association measure (Spearman
    squares rank gaps; tau counts pair inversions, the quantity
    bootstrap/trend tests actually want):

        tau_b = (C − D) / sqrt((C + D + Tx)(C + D + Ty))

    over all unordered point pairs within the partition: C concordant,
    D discordant, Tx tied in x only, Ty tied in y only (pairs tied in
    both count in neither denominator term).

    CONTRACT: ``df`` is a per-(partition, seq) SERIES — one row per
    seq value (months, buckets), so the within-partition self-join
    (``_pair_signs``) is partitions × series², never raw-rows². seq
    must be unique per partition (it defines the i<j pair enumeration,
    not the order — tau is order-free). Rows with a NULL partition,
    seq, x or y drop.

    Exactness: x/y are cents-quantized at birth; C/D/Tx/Ty are pure
    integer counts; tau is ONE fp64 ratio over them, micro-floored.
    Partitions with n < 2 or an all-tied axis (denominator 0) drop.

    Returns (part, n, concordant, discordant, ties_x, ties_y,
    tau_micro).
    """
    pts = df.dropna(subset=[part_col, seq_col, x_col, y_col]).select(
        F.col(part_col).alias("__p"),
        F.col(seq_col).alias("__i"),
        F.round(F.col(x_col) * 100).cast("long").alias("__x"),
        F.round(F.col(y_col) * 100).cast("long").alias("__y"),
    )
    sx, sy = F.col("__x"), F.col("__y")
    agg = _pair_signs(pts, ["__p"], ["__x", "__y"]).groupBy("__p").agg(
        F.sum((sx * sy == 1).cast("long")).alias("concordant"),
        F.sum((sx * sy == -1).cast("long")).alias("discordant"),
        F.sum(((sx == 0) & (sy != 0)).cast("long")).alias("ties_x"),
        F.sum(((sy == 0) & (sx != 0)).cast("long")).alias("ties_y"),
    )
    npts = pts.groupBy("__p").agg(F.count(F.lit(1)).cast("long").alias("n"))
    c, d = F.col("concordant").cast("double"), F.col("discordant").cast("double")
    tx, ty = F.col("ties_x").cast("double"), F.col("ties_y").cast("double")
    den = F.sqrt((c + d + tx) * (c + d + ty))
    return (
        agg.join(npts, "__p")
        .filter((c + d + tx > 0) & (c + d + ty > 0))
        .select(
            F.col("__p").alias(part_col),
            "n",
            "concordant",
            "discordant",
            "ties_x",
            "ties_y",
            F.floor((c - d) / den * F.lit(1_000_000.0)).cast("long")
            .alias("tau_micro"),
        )
    )


def rolling_corr(
    df: DataFrame,
    part_col: str,
    order_col: str,
    x_col: str,
    y_col: str,
    window: int = 6,
) -> DataFrame:
    """Trailing-window Pearson correlation between two aligned series
    — the co-movement monitor (does revenue still track order count
    this quarter?) that a single global corr (``corr_stats``) cannot
    localize in time:

        r_t = (wΣxy − ΣxΣy) / sqrt((wΣx² − (Σx)²)(wΣy² − (Σy)²))

    over the last ``window`` rows of each partition's series.

    CONTRACT: one row per (partition, order) — a per-period aggregate
    series, so the window is rows-based and exact. Only FULL windows
    emit (row_number >= window): partial-window correlations are
    statistical noise and break cross-run stability at series heads.

    Exactness: x/y cents-quantized at birth; the five window sums
    accumulate in DECIMAL(38,0) (order-independent); r is ONE fixed
    fp64 expression over those exact integers, micro-floored.
    Zero-variance windows (either axis constant) drop — r undefined.

    Shape: one window over the per-period series (partitions × periods
    rows, never raw rows), zero joins.

    Returns (part, order, n, corr_micro).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2 (got {window})")
    dec = "decimal(38,0)"
    pts = df.select(
        F.col(part_col).alias("__p"),
        F.col(order_col).alias("__o"),
        F.round(F.col(x_col) * 100).cast("long").cast(dec).alias("__x"),
        F.round(F.col(y_col) * 100).cast("long").cast(dec).alias("__y"),
    )
    w = (
        Window.partitionBy("__p")
        .orderBy("__o")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    seq = Window.partitionBy("__p").orderBy("__o")
    sums = pts.select(
        "__p", "__o",
        F.row_number().over(seq).alias("__rn"),
        F.sum("__x").over(w).cast(dec).alias("__sx"),
        F.sum("__y").over(w).cast(dec).alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).over(w).cast(dec).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).over(w).cast(dec).alias("__syy"),
        F.sum(F.col("__x") * F.col("__y")).over(w).cast(dec).alias("__sxy"),
    ).filter(F.col("__rn") >= window)
    wd = F.lit(float(window))
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    vx = wd * sxx - sx * sx
    vy = wd * syy - sy * sy
    r = (wd * sxy - sx * sy) / F.sqrt(vx * vy)
    return sums.filter((vx > 0) & (vy > 0)).select(
        F.col("__p").alias(part_col),
        F.col("__o").alias(order_col),
        F.lit(window).cast("long").alias("n"),
        F.floor(r * F.lit(1_000_000.0)).cast("long").alias("corr_micro"),
    )


def kaplan_meier(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curves per group — the right-censoring-
    aware "how long until X" estimator (churn, time-to-return,
    ticket-resolution): at each observed duration t,

        S(t) = Π_{u <= t} (1 − d_u / n_u)

    with d_u events at u and n_u the at-risk count (everyone whose
    duration >= u; censored subjects leave the risk set after their
    censoring time without counting as events — the thing a naive
    mean-duration silently gets wrong).

    Exactness: d/c/n are integer counts over the (group, t) AGGREGATE.
    The product telescopes through the engine's micro-nat discipline:
    each factor's ln is quantized to integer micro-nats AT BIRTH (one
    fixed fp64 expression over exact integers), the cumulative sum is
    an integer window, and S is one final exp — order-independent and
    hash-gate-safe. A factor of zero (everyone at risk dies at t) is
    the −1e12-micro-nat sentinel: exp underflows to exactly 0.0 from
    that t on, in both engines.

    Shape: one (group, t) partial agg; all windows run over that
    aggregate (groups × distinct durations, never subject rows).

    Returns (group, t, n_risk, n_events, n_censored, surv_micro).
    """
    rows = df.select(
        F.col(group_col).alias("__g"),
        F.col(duration_col).cast("long").alias("__t"),
        F.col(event_col).cast("boolean").alias("__e"),
    ).filter(F.col("__t").isNotNull())
    per_t = rows.groupBy("__g", "__t").agg(
        F.sum(F.when(F.col("__e"), 1).otherwise(0)).cast("long").alias("__d"),
        F.sum(F.when(F.col("__e"), 0).otherwise(1)).cast("long").alias("__c"),
    )
    w_tot = Window.partitionBy("__g")
    w_before = (
        Window.partitionBy("__g").orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("__g").orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    leave = (F.col("__d") + F.col("__c")).cast("long")
    n_risk = (
        F.sum(leave).over(w_tot)
        - F.coalesce(F.sum(leave).over(w_before), F.lit(0))
    ).cast("long")
    staged = per_t.select(
        "__g", "__t", "__d", "__c", n_risk.alias("__n")
    )
    dd, nd = F.col("__d").cast("double"), F.col("__n").cast("double")
    lf = F.when(
        F.col("__d") < F.col("__n"),
        F.floor(F.log(F.lit(1.0) - dd / nd) * F.lit(1_000_000.0)),
    ).otherwise(F.lit(-1_000_000_000_000)).cast("long")
    with_s = staged.select(
        "__g", "__t", "__d", "__c", "__n", lf.alias("__lf")
    ).select(
        "__g", "__t", "__d", "__c", "__n",
        F.sum("__lf").over(w_cum).alias("__cum"),
    )
    surv = F.floor(
        F.exp(F.col("__cum").cast("double") / F.lit(1_000_000.0))
        * F.lit(1_000_000.0)
    ).cast("long")
    return with_s.select(
        F.col("__g").alias(group_col),
        F.col("__t").alias("t"),
        F.col("__n").alias("n_risk"),
        F.col("__d").alias("n_events"),
        F.col("__c").alias("n_censored"),
        surv.alias("surv_micro"),
    )


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple OLS (slope, intercept, R²) — the grouped twin
    of the global ``ols_regression``: one regression per segment
    (price~size per brand, spend~tenure per market) without ever
    collecting a group to the driver:

        slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n
        R² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))

    Exactness: x/y quantize to integer cents at birth; the five
    moments accumulate in DECIMAL(38,0) per group (order-independent
    at any scale); slope/intercept/R² are ONE fixed fp64 expression
    tree each, micro-floored. Groups with n < 2, zero x-variance
    (slope undefined) or zero y-variance (R² undefined) drop.

    Shape: one partial-agg groupBy to (groups × 6 numbers); nothing
    else shuffles.

    Returns (group, n, slope_micro, intercept_micro, r2_micro) —
    slope/intercept in cent units scaled 1e6/1e4 respectively.
    """
    dec = "decimal(38,0)"
    rows = df.select(
        F.col(group_col).alias("__g"),
        F.round(F.col(x_col) * 100).cast("long").cast(dec).alias("__x"),
        F.round(F.col(y_col) * 100).cast("long").cast(dec).alias("__y"),
    )
    m = rows.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").cast(dec).alias("__sx"),
        F.sum("__y").cast(dec).alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast(dec).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast(dec).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast(dec).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = cov / vx
    intercept = (sy - slope * sx) / n
    r2 = (cov * cov) / (vx * vy)
    return m.filter((F.col("n") >= 2) & (vx > 0) & (vy > 0)).select(
        F.col("__g").alias(group_col),
        "n",
        F.floor(slope * F.lit(1_000_000.0)).cast("long").alias("slope_micro"),
        F.floor(intercept * F.lit(10_000.0)).cast("long").alias("intercept_micro"),
        F.floor(r2 * F.lit(1_000_000.0)).cast("long").alias("r2_micro"),
    )


def mann_kendall(
    df: DataFrame,
    part_col: str,
    seq_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall trend test per partition — IS this series going
    somewhere? The nonparametric monotone-TREND inference companion to
    ``kendall_tau`` (tau measures association between two variables;
    M-K tests one variable against time and attaches a Z statistic):

        S = Σ_{i<j} sign(x_j − x_i)
        Var(S) = [n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)] / 18
        Z = (S−1)/sqrt(Var)  if S>0,  0 if S=0,  (S+1)/sqrt(Var) else

    CONTRACT: ``df`` is a per-(partition, seq) SERIES (seq unique per
    partition, defines time order), so the pair self-join is
    partitions × series², never raw rows². Rows with a NULL partition,
    seq or value drop.

    Exactness: values cents-quantize at birth; S and the tie-corrected
    18·Var(S) are pure integers (var18 emitted for auditability); Z is
    ONE fp64 chain micro-floored (the ``_mann_kendall`` body).
    Partitions with n < 2 or Var = 0 (all values tied) drop.

    Returns (part, n, s_stat, var18, z_micro).
    """
    pts = df.dropna(subset=[part_col, seq_col, value_col]).select(
        F.col(part_col).alias("__p"),
        F.col(seq_col).alias("__i"),
        F.round(F.col(value_col) * 100).cast("long").alias("__x"),
    )
    return _mann_kendall(pts, part_col, ["__p"])


def auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """ROC AUC, exactly, without a global row sort: AUC is the
    probability a random positive outscores a random negative, i.e.
    the Mann-Whitney U of the positive class normalized by
    n_pos·n_neg — so it is ``mann_whitney_u`` with the label cast to
    boolean as the group (True vs False), average-rank ties
    contributing 1/2.

    Exactness: U is exact (doubled midranks are integers); AUC is one
    final double ratio, micro-floored. NULL scores/labels drop.
    Degenerate inputs (no positives or no negatives) emit nothing.

    Returns one row (n_pos, n_neg, auc_micro).
    """
    y = F.col(label_col).cast("boolean").alias("__y")
    u = mann_whitney_u(
        df.select(y, F.col(score_col).alias("__s")), "__y", "__s", True, False
    ).filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    np_, nn_ = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    return u.select(
        F.col("n_a").alias("n_pos"),
        F.col("n_b").alias("n_neg"),
        F.floor(F.col("u_a") / (np_ * nn_) * F.lit(1_000_000.0)).cast("long")
        .alias("auc_micro"),
    )


def cuped_ab(
    df: DataFrame,
    arm_col: str,
    metric_col: str,
    covariate_col: str,
    arm_a,
    arm_b,
) -> DataFrame:
    """CUPED-adjusted A/B comparison — variance reduction via a
    pre-experiment covariate (Deng et al. 2013, the industry-standard
    sensitivity boost): each unit's metric is replaced by
    y − θ·(x − x̄) with θ = cov(x, y)/var(x) POOLED across arms (x is
    pre-experiment, so θ is assignment-independent), which shrinks
    variance by the factor (1 − ρ²) without biasing the diff:

        diff_adj = (ȳ_a − θ(x̄_a − x̄)) − (ȳ_b − θ(x̄_b − x̄))
        SE_adj   = sqrt(s²_adj,a/n_a + s²_adj,b/n_b),
        s²_adj   = s²_y + θ²s²_x − 2θs_xy   (per arm, unbiased)

    Exactness: metric/covariate quantize to integer cents at birth;
    the 12 per-arm moments (n, Σx, Σy, Σxx, Σyy, Σxy) accumulate in
    DECIMAL(38,0) in ONE pass; θ, diffs, SE are one fixed fp64
    expression tree, micro-floored. Arms need n >= 2; pooled
    var(x) = 0 emits nothing (θ undefined).

    Returns one row (n_a, n_b, theta_micro, diff_micro,
    diff_adj_micro, se_adj_micro) in cent units (×1e4 scale).
    """
    dec = "decimal(38,0)"
    rows = df.filter(F.col(arm_col).isin([arm_a, arm_b])).select(
        (F.col(arm_col) == F.lit(arm_a)).alias("__a"),
        F.round(F.col(metric_col) * 100).cast("long").cast(dec).alias("__y"),
        F.round(F.col(covariate_col) * 100).cast("long").cast(dec).alias("__x"),
    )
    aggs = []
    for name, cond in (("a", F.col("__a")), ("b", ~F.col("__a"))):
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n_{name}"),
            F.sum(F.when(cond, F.col("__x"))).cast(dec).alias(f"__sx_{name}"),
            F.sum(F.when(cond, F.col("__y"))).cast(dec).alias(f"__sy_{name}"),
            F.sum(F.when(cond, F.col("__x") * F.col("__x"))).cast(dec)
            .alias(f"__sxx_{name}"),
            F.sum(F.when(cond, F.col("__y") * F.col("__y"))).cast(dec)
            .alias(f"__syy_{name}"),
            F.sum(F.when(cond, F.col("__x") * F.col("__y"))).cast(dec)
            .alias(f"__sxy_{name}"),
        ]
    m = rows.groupBy().agg(*aggs).filter(
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    )

    def d(c):
        return F.col(c).cast("double")

    na, nb = d("n_a"), d("n_b")
    nn = na + nb
    sx = d("__sx_a") + d("__sx_b")
    sy = d("__sy_a") + d("__sy_b")
    sxx = d("__sxx_a") + d("__sxx_b")
    sxy = d("__sxy_a") + d("__sxy_b")
    vx_pooled = nn * sxx - sx * sx
    theta = (nn * sxy - sx * sy) / vx_pooled
    xbar = sx / nn
    mya, myb = d("__sy_a") / na, d("__sy_b") / nb
    mxa, mxb = d("__sx_a") / na, d("__sx_b") / nb
    diff = mya - myb
    diff_adj = (mya - theta * (mxa - xbar)) - (myb - theta * (mxb - xbar))

    def s2_adj(name, n):
        sy_, sx_ = d(f"__sy_{name}"), d(f"__sx_{name}")
        syy_, sxx_ = d(f"__syy_{name}"), d(f"__sxx_{name}")
        sxy_ = d(f"__sxy_{name}")
        vy = (syy_ - sy_ * sy_ / n) / (n - F.lit(1.0))
        vx = (sxx_ - sx_ * sx_ / n) / (n - F.lit(1.0))
        cxy = (sxy_ - sx_ * sy_ / n) / (n - F.lit(1.0))
        return vy + theta * theta * vx - F.lit(2.0) * theta * cxy

    se = F.sqrt(s2_adj("a", na) / na + s2_adj("b", nb) / nb)
    ten_k = F.lit(10_000.0)
    return m.filter(vx_pooled > 0).select(
        "n_a", "n_b",
        F.floor(theta * F.lit(1_000_000.0)).cast("long").alias("theta_micro"),
        F.floor(diff * ten_k).cast("long").alias("diff_micro"),
        F.floor(diff_adj * ten_k).cast("long").alias("diff_adj_micro"),
        F.floor(se * ten_k).cast("long").alias("se_adj_micro"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Calibration table for a probabilistic score in [0, 1]: bucket
    predictions into ``bins`` equal-width bins and compare the mean
    predicted score against the observed positive rate per bin — the
    reliability-diagram aggregate behind ECE and the first diagnostic
    for any scoring model the AUC can't see (AUC is rank-only;
    calibration is about the VALUES).

    Exactness: the score is quantized to integer micro-units AT BIRTH
    (one deterministic fp64 multiply+floor per row); bin assignment,
    counts, and the micro sums are pure integers; the two means are
    one floor-division each. Out-of-range scores clamp into the end
    bins; NULL scores/labels drop.

    Shape: one projection + one partial-agg groupBy to <= ``bins``
    rows. Nothing else.

    Returns (bin, n, mean_pred_micro, frac_pos_micro).
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1 (got {bins})")
    smicro = F.floor(F.col(score_col) * F.lit(1_000_000.0)).cast("long")
    b = F.greatest(
        F.lit(0),
        F.least(
            F.lit(bins - 1),
            F.floor(F.col(score_col) * F.lit(float(bins))).cast("int"),
        ),
    ).cast("long")
    rows = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        b.alias("bin"),
        smicro.alias("__s"),
        F.col(label_col).cast("boolean").cast("long").alias("__p"),
    )
    return rows.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.floor(
            F.sum("__s").cast("double") / F.count(F.lit(1)).cast("double")
        ).cast("long").alias("mean_pred_micro"),
        F.floor(
            F.sum("__p").cast("double") / F.count(F.lit(1)).cast("double")
            * F.lit(1_000_000.0)
        ).cast("long").alias("frac_pos_micro"),
    )


def holt_winters(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    period: int,
    alpha: float = 0.5,
    beta: float = 0.2,
    gamma: float = 0.3,
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing per series — the
    level+trend+season forecaster ``holt_linear`` (stats.py:708) can't
    be: a trending series with a repeating period-``m`` pattern
    (weekly traffic, monthly revenue) needs the seasonal component or
    the forecast rides the last season's noise:

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ(x_t − l_t) + (1−γ)·s_{t−m}

    initialized l = mean(period 1), b = (mean(period 2) − mean(period
    1))/m, s_j = x_j − l (the standard two-period init); the fold runs
    t = m+1..n. Keys with n < 2m drop (init needs two full periods).

    Exactness (the holt_linear discipline): the recursion is
    inherently sequential, so determinism comes from ORDER + IDENTICAL
    IEEE ops — the fold runs over the sort_array-ed series with the
    full seasonal array carried IN the fold state, every step the same
    fixed-order double expression the oracle's recursive CTE computes
    (the oracle carries the seasonal LIST through the recursion the
    same way). Results micro-floored only at the end.

    Shape: ONE partial-agg groupBy collecting each key's bounded
    series; the fold is a per-row ``aggregate`` HOF — no window, no
    iteration-by-join, no driver loop. State is m+3 doubles per key.

    Returns (key, n, level_micro, trend_micro, season_next_micro,
    forecast_micro) — forecast = l + b + s_{next slot}.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2 (got {period})")
    for nm, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0.0 < v <= 1.0:
            raise ValueError(f"{nm} must be in (0, 1] (got {v})")
    m = period
    a_, b_, g_ = F.lit(float(alpha)), F.lit(float(beta)), F.lit(float(gamma))
    oa, ob, og = F.lit(1.0 - alpha), F.lit(1.0 - beta), F.lit(1.0 - gamma)
    series = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("t"),
                    F.col(value_col).cast("double").alias("x"),
                )
            )
        ).alias("__arr"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).filter(F.col("n") >= 2 * m)
    xs = F.transform(F.col("__arr"), lambda p: p["x"])

    def fsum(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    md = F.lit(float(m))
    l0 = fsum(F.slice(xs, 1, m)) / md
    b0 = (fsum(F.slice(xs, m + 1, m)) / md - l0) / md
    s0 = F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda j: F.element_at(xs, j.cast("int")) - l0,
    )
    init = F.struct(
        l0.alias("l"), b0.alias("b"), s0.alias("s"),
        F.lit(m).cast("long").alias("i"),
    )

    def step(acc: Column, x: Column) -> Column:
        slot = (acc["i"] % m + 1).cast("int")
        sm = F.element_at(acc["s"], slot)
        lp = a_ * (x - sm) + oa * (acc["l"] + acc["b"])
        bp = b_ * (lp - acc["l"]) + ob * acc["b"]
        sp = F.transform(
            F.sequence(F.lit(1), F.lit(m)),
            lambda j: F.when(
                j == slot, g_ * (x - lp) + og * sm
            ).otherwise(F.element_at(acc["s"], j.cast("int"))),
        )
        return F.struct(
            lp.alias("l"), bp.alias("b"), sp.alias("s"),
            (acc["i"] + 1).alias("i"),
        )

    rest = F.slice(xs, m + 1, F.size(xs) - m)
    state = F.aggregate(rest, init, step)
    micro = F.lit(1_000_000.0)
    next_slot = (F.col("n") % m + 1).cast("int")
    out = series.select(
        F.col("__k").alias(key_col),
        "n",
        state.alias("__st"),
    ).select(
        key_col,
        "n",
        F.floor(F.col("__st.l") * micro).cast("long").alias("level_micro"),
        F.floor(F.col("__st.b") * micro).cast("long").alias("trend_micro"),
        F.floor(F.element_at(F.col("__st.s"), next_slot) * micro)
        .cast("long").alias("season_next_micro"),
        F.floor(
            (F.col("__st.l") + F.col("__st.b")
             + F.element_at(F.col("__st.s"), next_slot)) * micro
        ).cast("long").alias("forecast_micro"),
    )
    return out


def wilson_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Wilson score confidence interval for a proportion, per group —
    the CI that behaves at the extremes (the Wald interval collapses
    to zero width at p̂ = 0 or 1 and escapes [0, 1]; Wilson stays
    honest, which is why it's the default for conversion funnels and
    pass rates):

        center = (p̂ + z²/2n) / (1 + z²/n)
        half   = z·sqrt(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    Exactness: successes/trials are exact integers from one partial
    agg; the bounds are ONE fixed fp64 expression tree over them,
    micro-floored. Groups with n = 0 cannot occur (no rows, no group);
    z is a caller-supplied literal parsing to the same double in both
    engines.

    Returns (group, n, successes, p_micro, lo_micro, hi_micro).
    """
    if z <= 0:
        raise ValueError(f"z must be > 0 (got {z})")
    zd = F.lit(float(z))
    agg = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(success_col).cast("boolean").cast("long"))
        .cast("long").alias("successes"),
    )
    n = F.col("n").cast("double")
    p = F.col("successes").cast("double") / n
    z2 = zd * zd
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = zd * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
    ) / denom
    micro = F.lit(1_000_000.0)
    return agg.select(
        F.col("__g").alias(group_col),
        "n", "successes",
        F.floor(p * micro).cast("long").alias("p_micro"),
        F.floor((center - half) * micro).cast("long").alias("lo_micro"),
        F.floor((center + half) * micro).cast("long").alias("hi_micro"),
    )


def survival_summary(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Median survival time and restricted mean survival time (RMST)
    per group — the two numbers a Kaplan-Meier curve is usually read
    for (how long does the TYPICAL subject last; how much lifetime is
    accrued up to the horizon), computed from the ``kaplan_meier``
    (stats.py) curve itself:

        median = min t with S(t) <= 1/2   (−1 if the curve never
                 drops that far — the documented sentinel, since a
                 NULL would poison the hash gate)
        RMST(τ) = ∫₀^τ S(t) dt,  τ = the group's last observed time
                 = t₁·1 + Σᵢ S(tᵢ)·(tᵢ₊₁ − tᵢ)   (S = 1 before t₁)

    Exactness: the integral is a sum of integer products
    surv_micro × Δt (micro-day units) over the (group, t) aggregate —
    pure integers end to end; the median is an integer min over a
    filtered aggregate.

    Returns (group, horizon, median_t, rmst_micro).
    """
    km = kaplan_meier(df, group_col, duration_col, event_col)
    w = Window.partitionBy(group_col).orderBy("t")
    staged = km.select(
        group_col, "t", "surv_micro",
        F.lead("t").over(w).alias("__nt"),
        F.row_number().over(w).alias("__rn"),
    )
    # S = 1 on [0, t1): contribute 1e6·t1 once per group via the first row
    seg = F.when(
        F.col("__rn") == 1, F.col("t") * F.lit(1_000_000)
    ).otherwise(F.lit(0)) + F.when(
        F.col("__nt").isNotNull(),
        F.col("surv_micro") * (F.col("__nt") - F.col("t")),
    ).otherwise(F.lit(0))
    med = F.min(
        F.when(F.col("surv_micro") <= 500_000, F.col("t"))
    )
    return staged.groupBy(group_col).agg(
        F.max("t").cast("long").alias("horizon"),
        F.coalesce(med, F.lit(-1)).cast("long").alias("median_t"),
        F.sum(seg).cast("long").alias("rmst_micro"),
    )


def corr_matrix(df: DataFrame, cols: list) -> DataFrame:
    """Pairwise Pearson correlation matrix over ``cols`` in ONE scan —
    the feature-redundancy screen run before any modeling: all
    k·(k−1)/2 pairs from a single partial-agg pass of k(k+3)/2 DECIMAL
    moments (the corr_stats discipline widened to a matrix; a naive
    per-pair F.corr would scan the table k²/2 times AND be
    summation-order-dependent).

    Exactness: values cents-quantize at birth; every moment is
    DECIMAL(38,0)-exact; each pair's r is one fixed fp64 expression,
    micro-floored. Pairs where either side has zero variance drop.

    Returns (col_x, col_y, n, corr_micro), one row per unordered pair
    (x before y in the given column order).
    """
    if len(cols) < 2:
        raise ValueError(f"need >= 2 cols (got {len(cols)})")
    dec = "decimal(38,0)"
    proj = df.select(
        *[
            F.round(F.col(c) * 100).cast("long").cast(dec).alias(f"__v{i}")
            for i, c in enumerate(cols)
        ]
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(len(cols)):
        aggs.append(F.sum(f"__v{i}").cast(dec).alias(f"__s{i}"))
        aggs.append(
            F.sum(F.col(f"__v{i}") * F.col(f"__v{i}")).cast(dec)
            .alias(f"__q{i}")
        )
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            aggs.append(
                F.sum(F.col(f"__v{i}") * F.col(f"__v{j}")).cast(dec)
                .alias(f"__c{i}_{j}")
            )
    m = proj.groupBy().agg(*aggs)
    n = F.col("n").cast("double")
    pair_structs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            si, sj = F.col(f"__s{i}").cast("double"), F.col(f"__s{j}").cast("double")
            qi, qj = F.col(f"__q{i}").cast("double"), F.col(f"__q{j}").cast("double")
            cij = F.col(f"__c{i}_{j}").cast("double")
            vx = n * qi - si * si
            vy = n * qj - sj * sj
            r = (n * cij - si * sj) / F.sqrt(vx * vy)
            pair_structs.append(
                F.struct(
                    F.lit(cols[i]).alias("col_x"),
                    F.lit(cols[j]).alias("col_y"),
                    F.when(
                        (vx > 0) & (vy > 0),
                        F.floor(r * F.lit(1_000_000.0)).cast("long"),
                    ).alias("corr_micro"),
                )
            )
    exploded = m.select(
        "n", F.explode(F.array(*pair_structs)).alias("__p")
    )
    return exploded.filter(F.col("__p.corr_micro").isNotNull()).select(
        F.col("__p.col_x").alias("col_x"),
        F.col("__p.col_y").alias("col_y"),
        "n",
        F.col("__p.corr_micro").alias("corr_micro"),
    )


def cramers_v(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Cramér's V association strength for two categoricals — the
    [0, 1]-normalized χ² ("IS there a relationship, and how strong"),
    the single number the contingency-cell table
    (relational.contingency_cells) doesn't give you:

        V = sqrt( χ² / (n · (min(r, c) − 1)) )

    Exactness: cell/marginal counts are exact integers; each cell's
    (O − E)²/E is ONE fixed fp64 expression over them, micro-quantized
    AT BIRTH and integer-summed (the order-independent cross-cell
    reduction — a raw float Σ would be partition-order-dependent);
    V is one final fp64 chain. NULL categories drop; degenerate
    tables (r < 2 or c < 2) emit nothing.

    Shape: one (x, y) cell aggregate; marginals as windows over the
    cells (bounded by the category-domain product, never rows).

    Returns one row (n, n_rows_x, n_cols_y, chi2_micro, v_micro).
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).cast("long").alias("__o"))
    )
    wx = Window.partitionBy("__x")
    wy = Window.partitionBy("__y")
    wall = Window.partitionBy()
    staged = cells.select(
        "__x", "__y", "__o",
        F.sum("__o").over(wx).cast("long").alias("__rx"),
        F.sum("__o").over(wy).cast("long").alias("__cy"),
        F.sum("__o").over(wall).cast("long").alias("__n"),
    )
    e = (
        F.col("__rx").cast("double")
        * F.col("__cy").cast("double")
        / F.col("__n").cast("double")
    )
    o = F.col("__o").cast("double")
    term = F.floor((o - e) * (o - e) / e * F.lit(1_000_000.0)).cast("long")
    agg = staged.groupBy().agg(
        F.first("__n").alias("n"),
        F.countDistinct("__x").cast("long").alias("n_rows_x"),
        F.countDistinct("__y").cast("long").alias("n_cols_y"),
        F.sum(term).cast("long").alias("chi2_micro"),
    ).filter((F.col("n_rows_x") >= 2) & (F.col("n_cols_y") >= 2))
    nd = F.col("n").cast("double")
    k = F.least(F.col("n_rows_x"), F.col("n_cols_y")).cast("double") - F.lit(1.0)
    v = F.sqrt(
        F.col("chi2_micro").cast("double") / F.lit(1_000_000.0) / (nd * k)
    )
    return agg.select(
        "n", "n_rows_x", "n_cols_y", "chi2_micro",
        F.floor(v * F.lit(1_000_000.0)).cast("long").alias("v_micro"),
    )


def levene_bf(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe test for variance homogeneity across groups —
    the check run BEFORE trusting a pooled-variance ANOVA ("do these
    segments even have comparable spread?"): a one-way ANOVA on the
    absolute deviations from each group's MEDIAN (Levene's test with
    the median center — the robust form that survives heavy tails).

    Composition: deviations z = |x − median_g| in exact cent units
    (the median is Spark's exact interpolating ``percentile``, the
    same order-statistic DuckDB's quantile_cont computes — the
    robust_scaler convention), then the ``anova_f`` (stats.py) bounded
    pico decomposition on z. The F statistic is scale-invariant, so
    anova_f's internal re-quantization changes nothing.

    Returns one row (n_groups, n_rows, ssb_pico, f_micro, eta2_micro)
    — large F = spreads differ; the eta² is the spread-heterogeneity
    effect size.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    rows = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("__g"), cents.alias("__c")
    )
    # Optimization r14: the previous form scanned the input THREE times
    # (exact `percentile` collect for the medians, then anova_f's grand
    # + per-group moment passes over the deviation rows). ONE pass now
    # collapses the rows to (group, cent) CELL counts — the
    # value-domain-bounded aggregate the ks_drift/wasserstein family
    # already relies on — and every later step is cell-scale:
    # the interpolating median is read off the per-group cumulative
    # cell window (lower/upper order statistics; (lo+hi)/2 over
    # exactly-representable integer doubles is bit-identical to
    # Spark's `percentile(.., 0.5)` interpolation lower+(hi-lo)*0.5),
    # and the ANOVA moments are count-weighted cell sums — the same
    # integer additions row-level anova_f performs, reassociated.
    dec = "decimal(38,0)"
    cells = (
        rows.groupBy("__g", "__c")
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
        .localCheckpoint(eager=True)
    )
    nn = cells.filter(F.col("__c").isNotNull())
    wg = Window.partitionBy("__g")
    wcum = Window.partitionBy("__g").orderBy("__c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = nn.select(
        "__g",
        "__c",
        F.sum("__cnt").over(wcum).cast("long").alias("__cum"),
        F.sum("__cnt").over(wg).cast("long").alias("__n"),
    )
    meds = (
        cum.groupBy("__g")
        .agg(
            F.min(
                F.when(F.col("__cum") >= F.expr("(__n - 1) DIV 2 + 1"), F.col("__c"))
            ).alias("__lo"),
            F.min(
                F.when(F.col("__cum") >= F.expr("__n DIV 2 + 1"), F.col("__c"))
            ).alias("__hi"),
        )
        .select(
            "__g",
            (
                (F.col("__lo").cast("double") + F.col("__hi").cast("double"))
                / F.lit(2.0)
            ).alias("__med"),
        )
    )
    # per-cell deviation, re-quantized exactly as anova_f's row path
    # (z is a half-integer double, so z*100 is an exact integer double)
    zc = F.round(
        F.abs(F.col("__c").cast("double") - F.col("__med")) * 100
    ).cast("long")
    staged = cells.join(F.broadcast(meds), "__g").select(
        "__g", "__cnt", zc.alias("__z")
    )
    cntd = F.col("__cnt").cast(dec)
    zd = F.col("__z").cast(dec)
    grand = staged.groupBy().agg(
        F.sum("__cnt").cast("long").alias("__n"),
        F.sum(cntd * zd).cast(dec).alias("__s"),
        F.sum(cntd * zd * zd).cast(dec).alias("__q"),
    )
    per_g = staged.groupBy("__g").agg(
        F.sum("__cnt").cast("long").alias("__ng"),
        F.sum(cntd * zd).cast(dec).alias("__sg"),
    )
    return _anova_f_from_moments(grand, per_g)


def ks_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-segment KS drift against the POOLED distribution — "which
    segments drifted" in one pass, where ``ks_statistic`` answers only
    the two-sample question:

        D_g = sup_v |F_g(v) − F_pool(v)|

    Both CDFs are right-continuous step functions; F_g jumps only at
    g's own values, so the sup is attained at a g-point evaluated from
    the RIGHT (both at v) or from the LEFT (both just before v — this
    catches pool-only jumps between consecutive g-points, including
    the run-up before g's first value). Each row therefore contributes
    two candidates:

        |c_g/n_g − C/N|  and  |(c_g − j_g)/n_g − (C − J)/N|

    with c/C the cumulative and j/J the at-v jump counts.

    Exactness: all counts are integers; each candidate is a
    deterministic per-row fp64 expression; max is order-free — the
    ks_statistic discipline per segment.

    Shape: one (group, value) partial agg + one pooled value agg; the
    pooled cumsum is a window over the DISTINCT-VALUE aggregate
    (bounded by the value domain — the rank_sum_test allowlist shape);
    per-group cumsums are group-partitioned windows over the same
    aggregate. NULLs drop.

    Returns (group, n, ks_d).
    """
    rows = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), F.col(value_col).alias("__v"))
    gv = rows.groupBy("__g", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    pool = gv.groupBy("__v").agg(F.sum("__c").cast("long").alias("__pc"))
    w_pool = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    pool_cum = pool.select(
        "__v", "__pc",
        F.sum("__pc").over(w_pool).cast("long").alias("__pcum"),
        F.sum("__pc").over(
            Window.orderBy("__v").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("__n_pool"),
    )
    w_g = (
        Window.partitionBy("__g").orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_g_all = Window.partitionBy("__g")
    staged = (
        gv.select(
            "__g", "__v", "__c",
            F.sum("__c").over(w_g).cast("long").alias("__gcum"),
            F.sum("__c").over(w_g_all).cast("long").alias("__ng"),
        )
        .join(pool_cum, "__v")
    )
    fg = F.col("__gcum").cast("double") / F.col("__ng").cast("double")
    fp = F.col("__pcum").cast("double") / F.col("__n_pool").cast("double")
    fg_l = (F.col("__gcum") - F.col("__c")).cast("double") / F.col("__ng").cast("double")
    fp_l = (F.col("__pcum") - F.col("__pc")).cast("double") / F.col("__n_pool").cast("double")
    cand = F.greatest(F.abs(fg - fp), F.abs(fg_l - fp_l))
    return staged.groupBy(F.col("__g").alias(group_col)).agg(
        F.max("__ng").cast("long").alias("n"),
        F.max(cand).alias("ks_d"),
    )


def robust_means(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Arithmetic, geometric, and harmonic means per group — the mean
    trio for positive quantities (rates, prices, ratios): GM is the
    right average for multiplicative quantities, HM for rates ("avg
    speed over equal distances"), and AM >= GM >= HM always (the
    built-in self-check, pinned in pytest).

    Exactness: values quantize to integer cents at birth; non-positive
    values DROP (ln/reciprocal undefined — documented, not NaN).
    AM comes from a DECIMAL(38,0) sum. GM telescopes through the
    micro-nat discipline: per-row floor(ln(cents)·1e6), integer sum,
    one exp. HM's reciprocals quantize to pico-units per row —
    floor(1e12/cents) is EXACT integer division — then integer-sum.
    Every cross-row reduction is an integer; each mean is one final
    fp64 expression, emitted in cent-micro units (×1e4).

    Shape: one partial-agg groupBy; nothing else.

    Returns (group, n, amean_micro, gmean_micro, hmean_micro).
    """
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    rows = df.select(
        F.col(group_col).alias("__g"), cents.alias("__c")
    ).filter(F.col("__c") > 0)
    ln_micro = F.floor(
        F.log(F.col("__c").cast("double")) * F.lit(1_000_000.0)
    ).cast("long")
    inv_pico = F.expr("1000000000000L div __c")
    m = rows.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__c").cast(dec)).cast(dec).alias("__s"),
        F.sum(ln_micro).cast(dec).alias("__ln"),
        F.sum(inv_pico).cast(dec).alias("__inv"),
    )
    n = F.col("n").cast("double")
    am = F.col("__s").cast("double") / n
    gm = F.exp(F.col("__ln").cast("double") / (n * F.lit(1_000_000.0)))
    hm = n * F.lit(1e12) / F.col("__inv").cast("double")
    ten_k = F.lit(10_000.0)
    return m.select(
        group_col, "n",
        F.floor(am * ten_k).cast("long").alias("amean_micro"),
        F.floor(gm * ten_k).cast("long").alias("gmean_micro"),
        F.floor(hm * ten_k).cast("long").alias("hmean_micro"),
    )


def cohens_d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cohen's d pooled-variance effect size — the magnitude companion
    to :func:`welch_ttest` (t says whether the means differ; d says by
    HOW MANY standard deviations, the number a practitioner actually
    acts on):

        d = (m̄_a − m̄_b) / s_p,
        s_p = sqrt( ((n_a−1)s²_a + (n_b−1)s²_b) / (n_a+n_b−2) )

    with the unbiased sample variances. Groups need n >= 2 each.

    Exactness: the welch_ttest moment discipline verbatim — integer
    cents at birth, DECIMAL(38,0) Σx/Σx² (order-independent), one
    fixed-order fp64 expression tree, micro-floored.

    Shape: one partial-agg groupBy collapsing both groups to one
    moment row. Nothing shuffles but six numbers.

    Returns one row (n_a, n_b, diff_micro, pooled_sd_micro, d_micro).
    """
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    sub = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        (F.col(group_col) == F.lit(group_a)).alias("__is_a"),
        cents.alias("__c"),
    )
    cd = F.col("__c").cast(dec)
    m = sub.groupBy().agg(
        F.sum(F.when(F.col("__is_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~F.col("__is_a"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__is_a"), cd)).cast(dec).alias("__sa"),
        F.sum(F.when(~F.col("__is_a"), cd)).cast(dec).alias("__sb"),
        F.sum(F.when(F.col("__is_a"), cd * cd)).cast(dec).alias("__qa"),
        F.sum(F.when(~F.col("__is_a"), cd * cd)).cast(dec).alias("__qb"),
    ).filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("__sa").cast("double"), F.col("__sb").cast("double")
    qa, qb = F.col("__qa").cast("double"), F.col("__qb").cast("double")
    ma, mb = sa / na, sb / nb
    ssa = qa - sa * sa / na  # (n−1)·s² — centered sum of squares
    ssb = qb - sb * sb / nb
    sp = F.sqrt((ssa + ssb) / (na + nb - F.lit(2.0)))
    d = (ma - mb) / sp
    return m.select(
        "n_a", "n_b",
        F.floor((ma - mb) * F.lit(10_000.0)).cast("long").alias("diff_micro"),
        F.floor(sp * F.lit(10_000.0)).cast("long").alias("pooled_sd_micro"),
        F.floor(d * F.lit(1_000_000.0)).cast("long").alias("d_micro"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group LOWER weighted median: the smallest value v such that
    the cumulative weight at v reaches half the group's total —
    integer-exactly, 2·cum(v) >= W. The unweighted median treats a
    1-unit and a 10k-unit row alike; revenue/volume questions need the
    weight ("the price at which half the QUANTITY trades").

    Exactness: ALL-integer — values quantize to cents, weights round to
    integers, and the defining inequality is a cross-multiplied integer
    comparison. No interpolation, no float ordering anywhere.

    Shape: pre-aggregate to (group, value) cells FIRST (the partial-agg
    shuffle, bounded by the value domain per group, never the row
    count), one windowed cumsum over the cells, one min-pick aggregate.
    The window is partitioned by group — never global.

    Returns (group, total_weight, wmedian_cents).
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    wgt = F.round(F.col(weight_col)).cast("long")
    cells = (
        df.select(
            F.col(group_col).alias("__g"), cents.alias("__v"), wgt.alias("__w")
        )
        .filter(F.col("__w") > 0)
        .groupBy("__g", "__v")
        .agg(F.sum("__w").alias("__cw"))
    )
    w_cum = Window.partitionBy("__g").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("__g")
    marked = cells.select(
        "__g", "__v",
        F.sum("__cw").over(w_cum).alias("__cum"),
        F.sum("__cw").over(w_all).alias("__tot"),
    )
    return (
        marked.filter(F.col("__cum") * 2 >= F.col("__tot"))
        .groupBy(F.col("__g").alias(group_col))
        .agg(
            F.min(F.col("__tot")).cast("long").alias("total_weight"),
            F.min("__v").cast("long").alias("wmedian_cents"),
        )
    )


def jackknife_means(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Delete-one-GROUP jackknife over a mean: for every group g, the
    estimate recomputed without g — the classic sensitivity/influence
    diagnostic ("is the corpus mean carried by one source?") and the
    variance estimator for non-iid grouped data, where row-level
    resampling understates error. Fits the engine's scale grain: groups
    (sources, shards, tenants) are the natural delete-one unit at 100 TB,
    and all N_g recomputations fall out of ONE aggregate pass:

        loo_mean(g) = (S − S_g) / (N − n_g)

    Exactness: integer cents at birth, DECIMAL(38,0) per-group and
    global sums; each loo mean is one fp64 ratio over exact integers,
    micro-floored. delta = loo − full flips sign exactly at groups that
    pull the mean up vs down.

    Shape: one partial-agg groupBy to (group, n_g, S_g); global (N, S)
    as a window over that bounded aggregate — never a second scan.

    Returns (group, n, loo_mean_micro, delta_micro), cent-micro units.
    """
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    per = (
        df.select(F.col(group_col).alias("__g"), cents.alias("__c"))
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("__c").cast(dec)).cast(dec).alias("__s"),
        )
    )
    # note the total aliases share no name with the per-group ones even
    # case-insensitively — Spark's default resolver treats __s/__S as
    # the same column
    w_all = Window.partitionBy()
    tot = per.select(
        "__g", "n", "__s",
        F.sum("n").over(w_all).alias("__nt"),
        F.sum("__s").over(w_all).cast(dec).alias("__st"),
    )
    n_rest = (F.col("__nt") - F.col("n")).cast("double")
    s_rest = (F.col("__st") - F.col("__s")).cast("double")
    loo = s_rest / n_rest
    full = F.col("__st").cast("double") / F.col("__nt").cast("double")
    ten_k = F.lit(10_000.0)
    return tot.filter(F.col("__nt") > F.col("n")).select(
        F.col("__g").alias(group_col), "n",
        F.floor(loo * ten_k).cast("long").alias("loo_mean_micro"),
        F.floor((loo - full) * ten_k).cast("long").alias("delta_micro"),
    )


# Truncated-Poisson(1) CDF cut points on the Knuth-mixer domain
# [0, 1000003): floor(P·Σ_{j<=k} e^{-1}/j!) for k = 0..3 —
# 1000003·0.9810118431 = 981014.79 → 981_014; multiplicity 4 absorbs
# the ~0.37% tail (identical truncation on both engines, so the
# estimator is deterministic — the classic "Poisson bootstrap"
# approximation of multinomial resampling, Chamandy et al. 2012).
_BOOT_P = 1_000_003
_BOOT_CUTS = (367_880, 735_761, 919_701, 981_014)


def poisson_bootstrap_mean(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_resamples: int = 64,
) -> DataFrame:
    """Deterministic Poisson bootstrap of a mean: ``n_resamples``
    resample estimates of mean(value), each row entering resample b
    with multiplicity ~ Poisson(1) — the streaming-friendly bootstrap
    (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012): no global resample-size coordination, so
    it fans out embarrassingly at 100 TB where a classic multinomial
    bootstrap cannot.

    Determinism: multiplicity comes from the engine's Knuth
    multiplicative mixer (the split_assign/mixture_sample recipe —
    cross-engine-exact integer arithmetic, no RNG):
    u = ((id·B + b) mod P · 2654435761) mod P, cut by _BOOT_CUTS.

    Exactness: per-resample Σ(m·cents) in DECIMAL(38,0), Σm as long;
    each resample mean is ONE fp64 ratio, micro-floored.

    Shape: explode(sequence(0, B−1)) inflates rows B× INSIDE a
    partition, but the immediate partial agg on b collapses each
    partition to <= B rows before the (tiny, B-row) shuffle — the
    wire cost is B numbers per partition, not B× the data.

    Returns (resample, n_eff, mean_micro), one row per resample with
    multiplicity support; percentile CIs are order statistics of the
    B returned rows (bounded, caller-side or one array_sort away).
    """
    if n_resamples < 1:
        raise ValueError(f"n_resamples must be >= 1 (got {n_resamples})")
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    rows = df.select(F.col(id_col).alias("__id"), cents.alias("__c")).select(
        "__id", "__c",
        F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("resample"),
    )
    u = F.pmod(
        F.pmod(F.col("__id") * n_resamples + F.col("resample"), F.lit(_BOOT_P))
        * F.lit(2654435761),
        F.lit(_BOOT_P),
    )
    c0, c1, c2, c3 = _BOOT_CUTS
    mult = (
        F.when(u < c0, 0)
        .when(u < c1, 1)
        .when(u < c2, 2)
        .when(u < c3, 3)
        .otherwise(4)
        .cast("long")
    )
    per = rows.select("resample", "__c", mult.alias("__m")).groupBy(
        "resample"
    ).agg(
        F.sum("__m").cast("long").alias("n_eff"),
        F.sum((F.col("__m") * F.col("__c")).cast(dec)).cast(dec).alias("__s"),
    ).filter(F.col("n_eff") > 0)
    mean = F.col("__s").cast("double") / F.col("n_eff").cast("double")
    return per.select(
        F.col("resample").cast("long").alias("resample"),
        "n_eff",
        F.floor(mean * F.lit(10_000.0)).cast("long").alias("mean_micro"),
    )


def control_chart(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    n_sigma: int = 3,
) -> DataFrame:
    """Shewhart individuals control chart per group: flag the points
    whose deviation from the group mean exceeds ``n_sigma`` population
    standard deviations — the process-monitoring primitive behind
    pipeline-health dashboards (is THIS month's revenue out of
    control, given this nation's own history?).

    Exactness: ALL-integer — with S = Σx, Q = Σx² (integer cents,
    DECIMAL(38,0)) the breach test |x − μ| > kσ cross-multiplies to

        (n·x − S)² > k² · (n·Q − S²)

    — exact integer arithmetic end to end, no sqrt, no division, no
    float compare. The signed side (+1 above, −1 below) falls out of
    sign(n·x − S). Bound: |n·x| must fit DECIMAL(38,0) squared, i.e.
    n·|cents| < 10^19 — control series are bounded per group (a chart
    over more than ~10^6 points isn't a chart), so this holds by
    construction.

    Shape: one partial-agg groupBy to (group, n, S, Q); moments join
    back broadcast-ably (|groups| rows); the row stream is scanned
    twice but shuffled AT MOST once (on group, for the moment agg).

    Returns (group, t, value_cents, side) for breach points only,
    side = +1 / −1.
    """
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    rows = df.select(
        F.col(group_col).alias("__g"),
        F.col(time_col).alias("t"),
        cents.alias("__c"),
    )
    m = rows.groupBy("__g").agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum(F.col("__c").cast(dec)).cast(dec).alias("__s"),
        F.sum((F.col("__c").cast(dec) * F.col("__c").cast(dec))).cast(dec).alias("__q"),
    )
    j = rows.join(F.broadcast(m), "__g")
    dev = F.col("__n") * F.col("__c").cast(dec) - F.col("__s")
    var_n2 = F.col("__n") * F.col("__q") - F.col("__s") * F.col("__s")
    breach = (dev * dev) > F.lit(int(n_sigma * n_sigma)).cast(dec) * var_n2
    return (
        j.filter(breach)
        .select(
            F.col("__g").alias(group_col),
            "t",
            F.col("__c").alias("value_cents"),
            F.when(dev > 0, F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("side"),
        )
    )


def lorenz_points(
    df: DataFrame,
    key_col: str,
    value_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Lorenz curve in ``buckets`` points: entities sorted by total
    value ascending, cut into NTILE buckets, cumulative share of the
    total per bucket — the curve behind the scalar :func:`gini`
    ("the bottom 50% of customers carry 3% of revenue" is the curve
    point; gini is its integral).

    NO GLOBAL WINDOW: a naive ``ntile(b) OVER (ORDER BY total)`` drags
    every entity through one partition. Global rank is built with the
    ``epoch_shuffle``/``pack_chunks_global`` prefix-sum idiom instead —
    an ORDER-PRESERVING coarse bucket (binary magnitude of the total,
    computed exactly as the length of ``conv(total, 10, 2)`` — no fp
    log anywhere), a rank window INSIDE each magnitude bucket, and
    bucket offsets from a <=130-row prefix sum broadcast back. NTILE
    is then replicated arithmetically from (rank, N): the first
    N mod b tiles take ceil(N/b) entities, the rest floor(N/b) — the
    SQL-standard definition, so a plain windowed NTILE oracle matches
    exactly.

    Exactness: ALL-integer until the final share — per-entity totals
    in cents (DECIMAL(38,0) sums), deterministic (total, key) order,
    per-bucket integer sums, cum share micro-floored from a DECIMAL
    ratio.

    Shape: one groupBy to entity totals (the only data-volume
    shuffle), one magnitude-partitioned rank window, two bounded
    broadcasts (offsets, N), one |buckets|-row rollup + cum window
    over the bounded bucket aggregate.

    Returns (bucket, n_keys, bucket_cents, cum_share_micro).
    """
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2 (got {buckets})")
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    per = (
        df.select(F.col(key_col).alias("__k"), cents.alias("__c"))
        .filter(F.col("__k").isNotNull())
        .groupBy("__k")
        .agg(F.sum(F.col("__c").cast(dec)).cast("long").alias("__tot"))
    )
    # Order-preserving coarse bucket, two levels: binary magnitude
    # (integer-exact floor(log2)+1 via base-2 string length — never a
    # float log) × the top 7 bits within the magnitude, so each bucket
    # spans <=1/64 of its magnitude range (<=8k buckets over the full
    # long domain; the rank window partitions on THIS, never globally).
    # Negatives mirror to strictly smaller buckets; zero sits between.
    bits_sql = "length(conv(cast(abs(__tot) as string), 10, 2))"
    bits = F.expr(bits_sql)
    # python-API shiftright only takes a literal shift — SQL shiftright
    # accepts a column expression
    fine = F.expr(f"shiftright(abs(__tot), greatest({bits_sql} - 7, 0))")
    pos = bits.cast("long") * 128 + fine
    mag = (
        F.when(F.col("__tot") > 0, pos)
        .when(F.col("__tot") < 0, -pos)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__mag")
    )
    keyed = per.select("__k", "__tot", mag)
    w_local = Window.partitionBy("__mag").orderBy("__tot", "__k")
    ranked = keyed.withColumn("__rn", F.row_number().over(w_local))
    counts = keyed.groupBy("__mag").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__mag").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__mag", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    n_tot = per.groupBy().agg(F.count(F.lit(1)).cast("long").alias("__N"))
    # SQL-standard NTILE from (rank, N) in integer div/mod only (the
    # plain `/` on longs is DOUBLE division in Spark — div keeps the
    # whole path integer-exact)
    tile = F.expr(
        f"""CASE WHEN __r <= (__N % {buckets}) * (__N div {buckets} + 1)
             THEN (__r - 1) div (__N div {buckets} + 1)
             ELSE (__N % {buckets})
                  + (__r - 1 - (__N % {buckets}) * (__N div {buckets} + 1))
                    div (__N div {buckets})
           END + 1"""
    ).cast("long")
    tiled = (
        ranked.join(F.broadcast(offsets), "__mag")
        .join(F.broadcast(n_tot))
        .select(
            "__tot",
            (F.col("__off") + F.col("__rn")).cast("long").alias("__r"),
            "__N",
        )
        .select(F.col("__tot"), tile.alias("bucket"))
    )
    agg = tiled.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("__tot").cast(dec)).cast(dec).alias("__b"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    out = agg.select(
        "bucket", "n_keys",
        F.col("__b").cast("long").alias("bucket_cents"),
        F.sum("__b").over(w_cum).cast(dec).alias("__cum"),
        F.sum("__b").over(w_all).cast(dec).alias("__all"),
    )
    # DIV, not floor-of-decimal-division: Spark decimal division rounds
    # HALF_UP at its result scale BEFORE floor could apply, which can
    # disagree with the oracle's exact integer floor-division by one ulp
    # at integer boundaries; DIV is exact on both engines.
    share = F.expr("CAST((__cum * 1000000) DIV __all AS BIGINT)")
    return out.select("bucket", "n_keys", "bucket_cents", share.alias("cum_share_micro"))


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles_ppm: list | None = None,
) -> DataFrame:
    """EXACT per-group quantiles (lower / type-1: the smallest value v
    with cum_count(v) >= ⌈q·n⌉) — the deterministic complement to
    ``approx_percentile`` (tdigest_quantiles): sketches trade exactness
    for one pass, but gate metrics and SLA cutlines need the true order
    statistic, reproducibly.

    NO GLOBAL OR PER-GROUP ROW SORT: the row stream collapses to
    (group, value, count) cells first — bounded by each group's value
    DOMAIN, never its row count (the rank_sum_test discipline) — then
    one group-partitioned cumsum window over the cells and one
    aggregate pick per quantile. Quantiles are ppm integers (250000 =
    p25), so threshold arithmetic is exact: ⌈q·n⌉ = (q·n + 999999) div
    1e6 in integer math on both engines.

    Returns (group, q_ppm, n, value_cents) — one row per group per
    requested quantile.
    """
    qs = quantiles_ppm if quantiles_ppm is not None else [250_000, 500_000, 750_000, 950_000]
    if not qs or any(not 0 < q <= 1_000_000 for q in qs):
        raise ValueError(f"quantiles_ppm must be in (0, 1e6] (got {qs})")
    cents = F.round(F.col(value_col) * 100).cast("long")
    cells = (
        df.select(F.col(group_col).alias("__g"), cents.alias("__v"))
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w_cum = Window.partitionBy("__g").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("__g")
    marked = cells.select(
        "__g", "__v",
        F.sum("__c").over(w_cum).alias("__cum"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    q_lit = F.explode(
        F.array(*[F.lit(int(q)).cast("long") for q in qs])
    ).alias("q_ppm")
    expanded = marked.select("__g", "__v", "__cum", "__n", q_lit)
    # ⌈q·n/1e6⌉ in pure integers; smallest v whose cum reaches it
    thr = F.expr("(q_ppm * __n + 999999) div 1000000")
    return (
        expanded.filter(F.col("__cum") >= thr)
        .groupBy(F.col("__g").alias(group_col), "q_ppm")
        .agg(
            F.min("__n").cast("long").alias("n"),
            F.min("__v").cast("long").alias("value_cents"),
        )
    )


def mase_forecast_error(
    df: DataFrame,
    group_col: str,
    time_col: str,
    actual_col: str,
    forecast_col: str,
    season: int = 1,
) -> DataFrame:
    """Mean Absolute Scaled Error per series (Hyndman & Koehler 2006):
    MAE of the forecast scaled by the MAE of the in-sample seasonal-
    naive forecast (lag-``season``) — THE scale-free forecast metric
    (MAPE explodes at zero actuals; MASE compares any series to "just
    repeat last season": < 1e6 micro beats naive).

    Exactness: actual/forecast quantize to integer cents; both MAEs
    are integer-cent sums over counts; the final ratio is ONE integer
    micro floor-division — no float anywhere.

    Shape: one group-partitioned lag window for the naive errors (over
    the series rows — time series are bounded per group by contract,
    the control_chart assumption), two partial aggs, one join on
    group.

    Returns (group, n, mae_cents_micro, naive_mae_cents_micro,
    mase_micro); series shorter than season+1 drop (naive MAE
    undefined).
    """
    if season < 1:
        raise ValueError(f"season must be >= 1 (got {season})")
    a = F.round(F.col(actual_col) * 100).cast("long")
    f_ = F.round(F.col(forecast_col) * 100).cast("long")
    rows = df.select(
        F.col(group_col).alias("__g"),
        F.col(time_col).alias("__t"),
        a.alias("__a"),
        f_.alias("__f"),
    )
    # value tiebreaks after __t: with duplicate timestamps the
    # seasonal-naive pairing would otherwise be partition-order
    # dependent (same determinism contract as time_weighted_average;
    # the oracle mirrors ORDER BY t, a, f).
    w = Window.partitionBy("__g").orderBy("__t", "__a", "__f")
    lagged = rows.select(
        "__g",
        F.abs(F.col("__a") - F.col("__f")).alias("__err"),
        F.abs(F.col("__a") - F.lag("__a", season).over(w)).alias("__nerr"),
    )
    agg = lagged.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__err").cast("long").alias("__se"),
        F.sum("__nerr").cast("long").alias("__sn"),
        F.count("__nerr").cast("long").alias("__cn"),
    )
    # DECIMAL(38,0) for the micro products: Σ|err|·count·1e6 passes
    # 2^63 well inside realistic revenue scales — ANSI would raise
    dec = "decimal(38,0)"
    return (
        agg.filter((F.col("__cn") > 0) & (F.col("__sn") > 0))
        .select(
            group_col, "n",
            F.expr(
                f"CAST((CAST(__se AS {dec}) * 1000000) DIV n AS BIGINT)"
            ).alias("mae_cents_micro"),
            F.expr(
                f"CAST((CAST(__sn AS {dec}) * 1000000) DIV __cn AS BIGINT)"
            ).alias("naive_mae_cents_micro"),
            F.expr(
                f"CAST((CAST(__se AS {dec}) * __cn * 1000000)"
                f" DIV (CAST(__sn AS {dec}) * n) AS BIGINT)"
            ).alias("mase_micro"),
        )
    )


def time_weighted_average(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Time-weighted average per series under step (sample-and-hold)
    interpolation: each observation's value holds until the next
    observation, so TWA = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last−t_first) — the
    correct mean for IRREGULARLY sampled state (sensor readings,
    account balances, queue depths), where the row-mean over-weights
    bursts of samples.

    Exactness: ALL-integer — values in cents, gaps in epoch
    MICROSECONDS (unix_micros), the weighted sum in DECIMAL(38,0)
    (cents × µs can pass 2⁶³), one micro floor-division in DECIMAL at
    the end. The last observation carries no weight (no gap after it)
    — the standard left-closed step convention, stated so the oracle
    replicates it rather than guessing.

    Shape: one group-partitioned lead window over the series rows, one
    partial agg. Series need >= 2 distinct timestamps.

    Returns (group, n, span_micros, twa_cents_micro).
    """
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    rows = df.select(
        F.col(group_col).alias("__g"),
        F.unix_micros(F.col(time_col)).alias("__t"),
        cents.alias("__v"),
    )
    # (t, v) order: a bare t-order leaves duplicate-timestamp rows in
    # engine-dependent order and the 0-width/real gaps would pair with
    # different values — the value tiebreak makes the step function
    # deterministic on both engines (identical (t, v) duplicates are
    # interchangeable by construction)
    w = Window.partitionBy("__g").orderBy("__t", "__v")
    gapped = rows.select(
        "__g", "__t", "__v",
        (F.lead("__t").over(w) - F.col("__t")).alias("__gap"),
    )
    agg = gapped.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__gap")).cast("long").alias("span_micros"),
        F.sum(
            (F.col("__v").cast(dec) * F.col("__gap").cast(dec))
        ).cast(dec).alias("__ws"),
    )
    return agg.filter(F.col("span_micros") > 0).select(
        group_col, "n", "span_micros",
        F.expr(
            f"CAST((__ws * 1000000) DIV CAST(span_micros AS {dec}) AS BIGINT)"
        ).alias("twa_cents_micro"),
    )


def population_stability_index(
    df: DataFrame,
    ref_col: str,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index per bin — THE production drift metric
    for model inputs/scores (banking/ML-monitoring convention: < 0.1
    stable, 0.1–0.25 drifting, > 0.25 retrain): reference-decile bins,
    PSI_k = (p_k − q_k)·ln(p_k/q_k) with p from the reference rows
    (``ref_col`` true) and q from the current rows.

    Bin edges are the EXACT type-1 deciles of the REFERENCE (the
    exact_group_quantiles machinery: value-domain cell aggregate + one
    cumsum window, no row sort, no sketch), broadcast as one 9-element
    array; bin assignment is a JVM higher-order filter over it. Counts
    get +1 Laplace smoothing (the standard zero-bin guard, applied
    identically on both engines). Each bin's PSI term is ONE fp64
    expression over exact integers, micro-floored — no cross-row float
    sum anywhere; the scalar PSI is the integer sum of the returned
    terms.

    Returns (bin, ref_n, cur_n, psi_term_micro), bins 1..n_bins always
    present.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2 (got {n_bins})")
    cents = F.round(F.col(value_col) * 100).cast("long")
    rows = df.select(
        F.col(ref_col).cast("boolean").alias("__ref"), cents.alias("__v")
    )
    ref_cells = (
        rows.filter(F.col("__ref"))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w_cum = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    marked = ref_cells.select(
        "__v",
        F.sum("__c").over(w_cum).alias("__cum"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    qs = [i * 1_000_000 // n_bins for i in range(1, n_bins)]
    q_lit = F.explode(F.array(*[F.lit(q).cast("long") for q in qs])).alias("q")
    picked = (
        marked.select("__v", "__cum", "__n", q_lit)
        .filter(F.col("__cum") >= F.expr("(q * __n + 999999) div 1000000"))
        .groupBy("q")
        .agg(F.min("__v").alias("__edge"))
    )
    edges = picked.groupBy().agg(
        F.array_sort(F.collect_list("__edge")).alias("__edges")
    )
    # bin = 1 + |{edges strictly below v}| — right-closed decile bins
    binned = rows.crossJoin(F.broadcast(edges)).select(
        "__ref",
        (
            F.lit(1)
            + F.size(F.filter("__edges", lambda e: e < F.col("__v")))
        ).cast("long").alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("__ref"), 1).otherwise(0)).cast("long").alias("__rc"),
        F.sum(F.when(~F.col("__ref"), 1).otherwise(0)).cast("long").alias("__cc"),
    )
    all_bins = edges.select(
        F.explode(F.sequence(F.lit(1), F.lit(n_bins))).alias("__b")
    ).select(F.col("__b").cast("long").alias("bin"))
    filled = all_bins.join(counts, "bin", "left").select(
        "bin",
        F.coalesce("__rc", F.lit(0)).cast("long").alias("ref_n"),
        F.coalesce("__cc", F.lit(0)).cast("long").alias("cur_n"),
    )
    w_tot = Window.partitionBy()
    tot = filled.select(
        "bin", "ref_n", "cur_n",
        (F.sum("ref_n").over(w_tot) + n_bins).alias("__np"),
        (F.sum("cur_n").over(w_tot) + n_bins).alias("__nq"),
    )
    # Laplace +1 per bin; one fp64 tree per row, micro-floored
    cp = (F.col("ref_n") + 1).cast("double")
    cq = (F.col("cur_n") + 1).cast("double")
    np_, nq_ = F.col("__np").cast("double"), F.col("__nq").cast("double")
    term = (cp / np_ - cq / nq_) * F.log((cp * nq_) / (cq * np_))
    return tot.select(
        "bin", "ref_n", "cur_n",
        F.floor(term * F.lit(1_000_000.0)).cast("long").alias("psi_term_micro"),
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim_ppm: int = 100_000,
) -> DataFrame:
    """Per-group symmetric trimmed mean: drop exactly ⌊α·n⌋ rows from
    EACH end of the sorted group, average the rest — the classic
    outlier-robust location estimate between the mean (α=0) and the
    median (α→0.5), with the textbook integer definition so it is
    hash-gate exact.

    NO ROW SORT: the (group, value) CELL aggregate + one
    group-partitioned cumsum locates every cell's rank interval
    [cum−c+1, cum]; the kept multiplicity is its overlap with
    [⌊αn⌋+1, n−⌊αn⌋] — pure integer min/max arithmetic, tie-exact.
    Kept sum in DECIMAL(38,0); ONE fp64 ratio at the end.

    Returns (group, n, n_kept, tmean_micro) in cent-micro units;
    groups where the trim consumes everything drop.
    """
    if not 0 <= trim_ppm < 500_000:
        raise ValueError(f"trim_ppm must be in [0, 500000) (got {trim_ppm})")
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    cells = (
        df.select(F.col(group_col).alias("__g"), cents.alias("__v"))
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w_cum = Window.partitionBy("__g").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("__g")
    marked = cells.select(
        "__g", "__v", "__c",
        F.sum("__c").over(w_cum).alias("__cum"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    lo = F.expr(f"(__n * {int(trim_ppm)}) div 1000000")
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__cum"), F.col("__n") - lo)
        - F.greatest(F.col("__cum") - F.col("__c") + 1, lo + 1)
        + 1,
    )
    agg = marked.select(
        "__g", "__v", "__n", kept.alias("__k")
    ).groupBy(F.col("__g").alias(group_col)).agg(
        F.min("__n").cast("long").alias("n"),
        F.sum("__k").cast("long").alias("n_kept"),
        F.sum((F.col("__v").cast(dec) * F.col("__k").cast(dec))).cast(dec).alias("__s"),
    )
    mean = F.col("__s").cast("double") / F.col("n_kept").cast("double")
    return agg.filter(F.col("n_kept") > 0).select(
        group_col, "n", "n_kept",
        F.floor(mean * F.lit(10_000.0)).cast("long").alias("tmean_micro"),
    )


def vector_dq(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    expected_dim: int,
) -> DataFrame:
    """Embedding-column data-quality profile — the vector analogue of
    dq_checks, run before any similarity/dedup stage trusts the
    column: NULL vectors, empty vectors, wrong dimensionality,
    non-finite components (NaN/±Inf), and exact all-zero vectors
    (which break cosine normalization). One scan, one 1-row aggregate;
    the predicates are JVM higher-order functions over the array —
    no Python, no explode (an explode would inflate the scan
    ``dim``-fold before aggregating).

    All counts are exact integers; zero-vector detection is exact
    equality (not a norm threshold — a float norm sum would be
    order-dependent).

    Returns one row (n_vecs, n_null, n_empty, n_wrong_dim,
    n_nonfinite, n_allzero).
    """
    if expected_dim < 1:
        raise ValueError(f"expected_dim must be >= 1 (got {expected_dim})")
    v = F.col(vec_col)
    nonfinite = F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == float("inf")))
    has_null_comp = F.exists(v, lambda x: x.isNull())
    # forall semantics: all-zero iff EVERY element is literally 0.0 —
    # a vector containing a NULL element is NOT all-zero (forall yields
    # NULL there, coalesced to false; the oracle mirrors with
    # "no element IS NULL OR <> 0"). A ~exists(x != 0) form silently
    # diverged cross-engine on [NULL, 0.0]; NULL elements are counted
    # explicitly as n_null_comp instead.
    allzero = F.forall(v, lambda x: x == 0.0)
    return df.select(
        F.lit(1).alias("__one"),
        v.isNull().alias("__null"),
        (v.isNotNull() & (F.size(v) == 0)).alias("__empty"),
        (v.isNotNull() & (F.size(v) != expected_dim)).alias("__wrong"),
        (v.isNotNull() & F.coalesce(nonfinite, F.lit(False))).alias("__nonfin"),
        (v.isNotNull() & F.coalesce(has_null_comp, F.lit(False))).alias("__nullc"),
        (v.isNotNull() & (F.size(v) > 0) & F.coalesce(allzero, F.lit(False))).alias(
            "__zero"
        ),
    ).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.col("__null").cast("long")).cast("long").alias("n_null"),
        F.sum(F.col("__empty").cast("long")).cast("long").alias("n_empty"),
        F.sum(F.col("__wrong").cast("long")).cast("long").alias("n_wrong_dim"),
        F.sum(F.col("__nonfin").cast("long")).cast("long").alias("n_nonfinite"),
        F.sum(F.col("__nullc").cast("long")).cast("long").alias("n_null_comp"),
        F.sum(F.col("__zero").cast("long")).cast("long").alias("n_allzero"),
    )


def pass_at_k(
    df: DataFrame,
    problem_col: str = "problem_id",
    correct_col: str = "correct",
    k: int = 3,
) -> DataFrame:
    """Unbiased pass@k estimator (Chen et al. 2021, "Evaluating Large
    Language Models Trained on Code", eq. 1) over per-sample eval rows:
    for a problem with n samples of which c pass,
    ``pass@k = 1 - C(n-c, k) / C(n, k)`` — the probability that at
    least one of k drawn samples passes. The standard code-generation
    eval metric a training-data pipeline computes over its eval grid.

    Exact integer form: the binomial ratio's k! cancels, so
    ``C(n-c,k)/C(n,k) = prod_{i<k}(n-c-i) / prod_{i<k}(n-i)`` — two
    falling-factorial products. The numerator crosses a zero factor
    whenever n-c < k, so it is exactly 0 there (pass@k = 1) with no
    case split, and pass@k in micro-units is
    ``1e6 - (1e6 * num) DIV den``. Every cell is an exact integer —
    hash-gate safe with no float discipline needed.

    Output is the BOUNDED (n_samples, n_correct) profile, not one row
    per problem: problems sharing (n, c) share the estimator, so the
    result is at most |n-domain|·|c-domain| rows regardless of corpus
    size. Columns (n_samples, n_correct, n_problems, pass_at_k_micro).

    Scale shape: one partial-agg shuffle to (problem → n, c), one to
    the tiny (n, c) profile. Products accumulate in DECIMAL(38,0);
    the documented bound is n^k · 1e6 < 10^38 (n ≤ ~10^10 at k = 3 —
    far beyond any per-problem sample count).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    per = (
        df.groupBy(problem_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.sum(F.col(correct_col).cast("long")).cast("long").alias("n_correct"),
        )
        .filter(F.col("n_samples") >= k)
    )
    prof = per.groupBy("n_samples", "n_correct").agg(
        F.count(F.lit(1)).cast("long").alias("n_problems")
    )
    num = "CAST(1 AS DECIMAL(38,0))"
    den = "CAST(1 AS DECIMAL(38,0))"
    for i in range(k):
        num += f" * (n_samples - n_correct - {i})"
        den += f" * (n_samples - {i})"
    micro = (
        f"CAST(1000000 - (CAST(1000000 AS DECIMAL(38,0)) * ({num}))"
        f" DIV ({den}) AS BIGINT)"
    )
    return prof.select(
        "n_samples",
        "n_correct",
        "n_problems",
        F.expr(micro).alias("pass_at_k_micro"),
    )


def pass_at_k_ci(
    df: DataFrame,
    problem_col: str = "problem_id",
    correct_col: str = "correct",
    k: int = 3,
    z: float = 1.96,
) -> DataFrame:
    """Corpus-level pass@k with a Wilson score interval (VERDICT r12
    #6 / r13 #5) — the uncertainty an eval dashboard needs next to the
    point estimate: the mean over problems of the unbiased per-problem
    ``pass_at_k`` estimator, with Wilson bounds computed as if each
    problem contributed a Bernoulli observation at its estimator value.

    That Bernoulli treatment is the standard dashboard approximation:
    the per-problem estimator is a bounded [0,1] value, not a coin
    flip, and Bernoulli variance p(1−p) DOMINATES the variance of any
    bounded [0,1] variable with the same mean — so the interval is
    conservative (never too narrow), which is the safe failure mode
    for a go/no-go eval gate.

    Exactness: the summed estimator mass ``s_micro = Σ_problems
    pass@k_micro`` is an exact integer (profile-weighted sum of the
    exact per-profile falling-factorial estimates); the Wilson bounds
    are ONE fixed fp64 expression tree over (s_micro, n) — the
    wilson_ci discipline — micro-floored, identically replayed by the
    oracle.

    Scale shape: the pass_at_k profile aggregation (two partial-agg
    shuffles, bounded output) plus a 1-row reduce.

    Returns one row (k, n_problems, pass_at_k_mean_micro, lo_micro,
    hi_micro).
    """
    if z <= 0:
        raise ValueError(f"z must be > 0 (got {z})")
    prof = pass_at_k(df, problem_col, correct_col, k)
    tot = prof.groupBy().agg(
        F.sum("n_problems").cast("long").alias("n_problems"),
        F.sum(F.col("n_problems") * F.col("pass_at_k_micro"))
        .cast("long")
        .alias("s_micro"),
    )
    zd = F.lit(float(z))
    n = F.col("n_problems").cast("double")
    p = F.col("s_micro").cast("double") / (n * F.lit(1_000_000.0))
    z2 = zd * zd
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = zd * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
    ) / denom
    micro = F.lit(1_000_000.0)
    return tot.select(
        F.lit(int(k)).cast("long").alias("k"),
        "n_problems",
        F.floor(p * micro).cast("long").alias("pass_at_k_mean_micro"),
        F.floor((center - half) * micro).cast("long").alias("lo_micro"),
        F.floor((center + half) * micro).cast("long").alias("hi_micro"),
    )


def self_consistency(
    df: DataFrame,
    problem_col: str = "problem_id",
    answer_col: str = "answer",
    gold_col: str = "gold",
) -> DataFrame:
    """Self-consistency majority-vote accuracy (Wang et al. 2022,
    "Self-Consistency Improves Chain of Thought Reasoning"): per
    problem, k sampled answers vote; the majority answer (ties broken
    by SMALLEST answer value, deterministically) is compared to the
    problem's gold answer. ``gold_col`` rides on every sample row
    (constant per problem).

    The per-problem argmax is ONE partial-aggregable struct min over
    the (problem, answer) vote counts — ``min(struct(-votes, answer))``
    orders by most votes then smallest answer, so no window and no
    per-problem sort. Output is a single corpus row: (n_problems,
    n_majority_correct, accuracy_micro, mean_vote_share_micro), where
    accuracy_micro = correct·1e6 DIV problems and mean_vote_share_micro
    is the mean of per-problem floor(votes·1e6 / n_votes) — every cell
    an exact integer.

    Scale shape: two partial-agg shuffles keyed on the problem id
    (vote counts, then argmax+totals) and a 1-row final aggregate.
    """
    counts = df.groupBy(problem_col, answer_col).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    top = counts.groupBy(problem_col).agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("neg_votes"),
                F.col(answer_col).alias("answer"),
            )
        ).alias("s"),
        F.sum("cnt").cast("long").alias("n_votes"),
    )
    gold = df.groupBy(problem_col).agg(F.min(gold_col).alias("gold"))
    per = top.join(gold, problem_col).select(
        F.col(problem_col),
        (-F.col("s.neg_votes")).cast("long").alias("votes"),
        F.col("n_votes"),
        (F.col("s.answer") == F.col("gold")).cast("long").alias("ok"),
    )
    return per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_problems"),
        F.sum("ok").cast("long").alias("n_majority_correct"),
        F.expr(
            "CAST(CAST(SUM(ok) AS DECIMAL(38,0)) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("accuracy_micro"),
        F.expr(
            "CAST(SUM(CAST(votes AS DECIMAL(38,0)) * 1000000 DIV n_votes)"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("mean_vote_share_micro"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str = "item_id",
    category_col: str = "category",
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) — chance-corrected inter-annotator
    agreement over items each rated by the same number n of raters:
    ``kappa = (P̄ − P̄e) / (1 − P̄e)`` with P̄ the mean pairwise
    agreement per item and P̄e the squared-marginal chance agreement.
    The QA metric a labeling/curation pipeline runs over redundant
    human or model judgments before trusting them as filters.

    Exact rational form: with per-(item, category) counts n_ij,
    S = Σ n_ij², T = total ratings, N = items, n = T/N, and
    C2 = Σ_j (Σ_i n_ij)², the identity
    ``kappa = ((S − T)·T − (n−1)·C2) / ((n−1)·(T² − C2))`` holds —
    every term an exact integer. The ratio is evaluated entirely in
    DECIMAL(38,0) (safe to T < ~10^16 ratings) and emitted as
    ``kappa_micro`` (integer DIV — truncation toward zero in both
    Spark and DuckDB, and kappa CAN be negative for worse-than-chance
    raters). Denominator 0 (all ratings in one category) yields NULL
    kappa. The exact input sums (s_sq, c_sq, total_ratings) ride
    along so a caller can reconstruct the full-precision rational.

    Input is one row per (item, rater) assignment; rater identity never
    matters, only counts. Uniform n ≥ 2 per item is the caller's
    contract (Fleiss' requirement); n is derived as T DIV N. The counts
    are the shared rating cells, so rows with a NULL item or category
    drop and single-rated items are left out; off-contract, a corpus of
    only single-rated items reads 0 items and NULL counts and kappa.

    Scale shape: the rating cells (one partial-agg shuffle bounded by
    items × category domain), then two tiny reductions (per-item and
    per-category) into a single row. Nothing global ever sorts.
    """
    cells = _rating_cells(df, item_col, category_col)
    tot = cells.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s_sq"),
        F.sum("c").cast("long").alias("t"),
        F.countDistinct("item").cast("long").alias("n_items"),
    )
    col2 = (
        cells.groupBy("label")
        .agg(F.sum("c").cast("long").alias("cj"))
        .agg(F.sum(F.col("cj") * F.col("cj")).cast("long").alias("c_sq"))
    )
    d = "CAST({x} AS DECIMAL(38,0))"
    num = (
        f"(({d.format(x='s_sq')} - t) * t"
        f" - (t DIV n_items - 1) * {d.format(x='c_sq')})"
    )
    den = f"((t DIV n_items - 1) * ({d.format(x='t')} * t - c_sq))"
    return tot.crossJoin(col2).select(
        "n_items",
        F.expr("CAST(t DIV n_items AS BIGINT)").alias("n_raters"),
        F.col("t").alias("total_ratings"),
        "s_sq",
        "c_sq",
        F.expr(
            f"CAST(({num} * 1000000) DIV NULLIF({den}, 0) AS BIGINT)"
        ).alias("kappa_micro"),
    )


def bradley_terry_quantized(
    matches: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iters: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Bradley-Terry pairwise-preference strengths by Hunter's (2004)
    MM iteration, micro-quantized integers throughout — the ranking
    model preference/RLHF pipelines fit over pairwise comparisons
    (model A beat model B), and the kmeans_provable discipline applied
    to it. Input is one row per match (winner id, loser id).

    Quantized MM round, every step an exact integer:
    ``D_i = Σ_j (n_ij · scale²) DIV (π_i + π_j)`` (term-wise truncating
    division over the directed pair table), then
    ``π'_i = ((W_i + 1) · scale²) DIV D_i``, floored at 1. The +1 on
    wins is explicit Laplace regularization: the textbook MM update is
    undefined for players with zero wins (their strength collapses to
    0 and later rounds divide by π_i + π_j = 0); the floor keeps every
    rating positive. The D_i sum itself is guarded with NULLIF(d, 0) +
    COALESCE→1 (ADVICE r11): if every term truncates to 0 (an
    undefeated player's rating blowing past n·scale² of its opponents'
    combined ratings), the update saturates the player at rating 1
    EXPLICITLY in both engines, instead of riding Spark's
    null-skipping GREATEST while DuckDB's //0 diverges — the
    saturation edge is a defined fixpoint, not an engine accident.
    Ratings are scale-free, so no normalization pass
    — determinism comes from the fixed ``iters`` and the fixed
    truncation points, replayed by an ANSI oracle as ``iters``
    unrolled MATERIALIZED CTE rounds over the pair table.

    Scale shape: matches collapse ONCE into the (unordered pair → n)
    table — one partial-agg shuffle, bounded by the PLAYER-pair domain
    (players², not matches) — and every MM round joins only that pair
    table against the |players|-row rating table. 100 TB of match logs
    cost one aggregation; the loop never rescans them.

    Returns (player, wins, n_matches, rating_micro) — wins/matches
    exact counts, rating in scale units (π₀ = scale for everyone).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1 (got {iters})")
    w_c, l_c = F.col(winner_col), F.col(loser_col)
    m = matches.select(
        w_c.cast("long").alias("__w"), l_c.cast("long").alias("__l")
    )
    # ONE scan of the match log: the directed (winner, loser) count table
    # (bounded by players², not matches) feeds both the unordered pair
    # table and the per-player win counts — its per-pair sums are exactly
    # the counts the two separate scans produced.
    dcnt = m.groupBy("__w", "__l").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=True)
    pairs = (
        dcnt.select(
            F.least("__w", "__l").alias("a"),
            F.greatest("__w", "__l").alias("b"),
            "n",
        )
        .groupBy("a", "b")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    dirp = pairs.select(
        F.col("a").alias("i"), F.col("b").alias("j"), "n"
    ).unionByName(
        pairs.select(F.col("b").alias("i"), F.col("a").alias("j"), "n")
    ).localCheckpoint(eager=True)
    wins = dcnt.groupBy(F.col("__w").alias("p")).agg(
        F.sum("n").cast("long").alias("wins")
    )
    players = dirp.select(F.col("i").alias("p")).distinct()
    base = (
        players.join(wins, "p", "left")
        .select(
            "p",
            F.coalesce(F.col("wins"), F.lit(0).cast("long")).alias("wins"),
        )
        .localCheckpoint(eager=True)
    )
    sq = scale * scale
    rating = base.select("p", F.lit(scale).cast("long").alias("r"))
    for _ in range(iters):
        d = (
            dirp.join(rating.select(F.col("p").alias("i"), F.col("r").alias("ri")), "i")
            .join(rating.select(F.col("p").alias("j"), F.col("r").alias("rj")), "j")
            .groupBy(F.col("i").alias("p"))
            .agg(
                F.sum(
                    F.expr(f"CAST(n AS DECIMAL(38,0)) * {sq} DIV (ri + rj)")
                ).alias("d")
            )
        )
        rating = (
            base.join(d, "p")
            .select(
                "p",
                F.expr(
                    f"CAST(GREATEST(COALESCE(CAST(wins + 1 AS DECIMAL(38,0))"
                    f" * {sq} DIV NULLIF(d, 0), 1), 1) AS BIGINT)"
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    n_m = dirp.groupBy(F.col("i").alias("p")).agg(
        F.sum("n").cast("long").alias("n_matches")
    )
    return (
        base.join(n_m, "p")
        .join(rating, "p")
        .select(
            F.col("p").alias("player"),
            "wins",
            "n_matches",
            F.col("r").alias("rating_micro"),
        )
    )


def cliffs_delta(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cliff's delta (Cliff 1993) — the nonparametric ordinal effect
    size ``(#{a > b} − #{a < b}) / (n_a · n_b)`` over all cross-group
    pairs: the robust "how often does A beat B" companion to the
    rank-sum test, used to judge whether a quality/metric shift is
    practically meaningful, not just significant.

    Computed WITHOUT forming pairs and WITHOUT a global row sort (the
    mann_whitney_u discipline): one partial-agg shuffle collapses the
    rows to (value, n_a, n_b) distinct-value counts — bounded by the
    value DOMAIN — and ``#{a > b} = Σ_v n_a(v) · cum_b_before(v)``
    from a prefix sum over that aggregate. ``#{a < b}`` falls out of
    the identity gt + lt + ties = n_a·n_b. Every cell is an exact
    integer; delta_micro is a truncating DECIMAL DIV (negative deltas
    truncate identically in Spark and DuckDB). NULL values drop;
    delta_micro is NULL when a group is empty.

    Returns one row (n_a, n_b, n_gt, n_lt, n_ties, delta_micro).
    """
    vc = _two_group_value_counts(df, group_col, value_col, group_a, group_b)
    zero = F.lit(0)
    return (
        vc.agg(
            *_group_totals(),
            F.coalesce(
                F.sum(F.col("n_a") * (F.col("cum_b") - F.col("n_b"))), zero
            ).cast("long").alias("n_gt"),
            F.coalesce(F.sum(F.col("n_a") * F.col("n_b")), zero)
            .cast("long").alias("n_ties"),
        )
        .select(
            "n_a",
            "n_b",
            "n_gt",
            (F.col("n_a") * F.col("n_b") - F.col("n_gt") - F.col("n_ties"))
            .cast("long")
            .alias("n_lt"),
            "n_ties",
            F.expr(
                "CAST((CAST(n_gt AS DECIMAL(38,0))"
                " - (n_a * n_b - n_gt - n_ties)) * 1000000"
                " DIV NULLIF(CAST(n_a AS DECIMAL(38,0)) * n_b, 0) AS BIGINT)"
            ).alias("delta_micro"),
        )
    )


def mcnemar_test(
    df: DataFrame,
    a_col: str = "correct_a",
    b_col: str = "correct_b",
) -> DataFrame:
    """McNemar's paired test (McNemar 1947, continuity-corrected) over
    per-item binary outcomes of two systems on the SAME items — the
    standard "is model B actually better than model A" check when both
    were scored on one eval set (marginal accuracies alone double-count
    the items both get right). Only the discordant counts matter:
    b = #(A right, B wrong), c = #(A wrong, B right), and the statistic
    is ``(|b − c| − 1)² / (b + c)``.

    All-integer: the four contingency cells are exact counts and the
    statistic is one truncating DECIMAL DIV in micro-units (NULL when
    b + c = 0 — the systems never disagree, nothing to test).

    Scale shape: a single partial-agg reduce over boolean projections —
    zero joins, zero windows, one 1-row output.

    Returns (n_items, n_both_right, n_only_a, n_only_b, n_both_wrong,
    chi2_micro).
    """
    a = F.col(a_col).cast("boolean")
    b = F.col(b_col).cast("boolean")
    return df.select(
        (a & b).cast("long").alias("__rr"),
        (a & ~b).cast("long").alias("__ro"),
        (~a & b).cast("long").alias("__or"),
        (~a & ~b).cast("long").alias("__ww"),
    ).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("__rr").cast("long").alias("n_both_right"),
        F.sum("__ro").cast("long").alias("n_only_a"),
        F.sum("__or").cast("long").alias("n_only_b"),
        F.sum("__ww").cast("long").alias("n_both_wrong"),
        F.expr(
            "CAST((ABS(CAST(SUM(__ro) AS DECIMAL(38,0)) - SUM(__or)) - 1)"
            " * (ABS(CAST(SUM(__ro) AS DECIMAL(38,0)) - SUM(__or)) - 1)"
            " * 1000000 DIV NULLIF(SUM(__ro) + SUM(__or), 0) AS BIGINT)"
        ).alias("chi2_micro"),
    )


def dawid_skene_hard(
    df: DataFrame,
    item_col: str = "item_id",
    rater_col: str = "rater",
    label_col: str = "label",
    iters: int = 2,
) -> DataFrame:
    """Hard-assignment Dawid-Skene consensus labeling (Dawid & Skene
    1979, the hard-EM variant — the kmeans_quantized discipline
    applied to annotator aggregation): the principled successor to
    plain majority vote when raters differ in quality. Round 0 sets
    each item's consensus to its majority label (ties → smallest
    label); each subsequent round scores every rater's accuracy
    against the current consensus in exact integer micro-units, then
    re-labels each item by the accuracy-weighted vote
    ``argmax_k Σ_{r voted k} acc_r`` (ties → smallest label). Good
    raters gain weight, noisy raters lose it, and systematically
    contrarian raters stop dragging the consensus.

    Every step is exact integer arithmetic: accuracies are truncating
    ``1e6 DIV`` ratios, vote weights are sums of those micro values,
    and both argmaxes are partial-aggregable struct-mins
    (``min(struct(-weight, label))``) — no windows, no collect. The
    full ``iters``-round loop unrolls to MATERIALIZED oracle CTEs
    (labels must be small non-negative integers < 8 so the oracle's
    arg_min key encoding ``-w*8 + label`` is order-isomorphic to the
    struct ordering).

    Scale shape: per round, one (item, label) partial-agg shuffle for
    the weighted votes and one rater-keyed aggregate for accuracies —
    both bounded by item and rater domains; labels localCheckpoint
    each round (the connected_components lesson).

    Returns the per-rater report after ``iters`` rounds:
    (rater, n_votes, n_agree, accuracy_micro).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1 (got {iters})")
    # Optimization r14: votes are hash(__it)-partitioned before the
    # one-time checkpoint — every per-round step is item-keyed (the
    # consensus join, the weighted-vote aggregate, the argmax), so the
    # materialized layout satisfies them all and only the |items|-row
    # label frame and the tiny per-rater accuracy table move per round.
    votes = (
        df.select(
            F.col(item_col).alias("__it"),
            F.col(rater_col).alias("__r"),
            F.col(label_col).cast("long").alias("__l"),
        )
        .repartition(F.col("__it"))
        .localCheckpoint(eager=True)
    )

    def argmax_label(weighted: DataFrame, w_col: str) -> DataFrame:
        return (
            weighted.groupBy("__it")
            .agg(
                F.min(
                    F.struct(
                        (-F.col(w_col)).alias("nw"), F.col("__l").alias("l")
                    )
                ).alias("s")
            )
            .select("__it", F.col("s.l").alias("__c"))
        )

    counts = votes.groupBy("__it", "__l").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    labels = argmax_label(counts, "__n").localCheckpoint(eager=True)
    acc = None
    for _ in range(iters):
        joined = votes.join(labels, "__it")
        acc = joined.groupBy("__r").agg(
            F.count(F.lit(1)).cast("long").alias("n_votes"),
            F.sum((F.col("__l") == F.col("__c")).cast("long"))
            .cast("long")
            .alias("n_agree"),
            F.expr(
                "CAST(CAST(SUM(CASE WHEN __l = __c THEN 1 ELSE 0 END)"
                " AS DECIMAL(38,0)) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("accuracy_micro"),
        )
        # acc is consumed exactly once (the weighted re-vote below) and
        # both of its inputs are already materialized — checkpointing it
        # only added a blocking job per round (optimization r14).
        weighted = (
            votes.join(acc.select("__r", "accuracy_micro"), "__r")
            .groupBy("__it", "__l")
            .agg(F.sum("accuracy_micro").cast("long").alias("__w"))
        )
        labels = argmax_label(weighted, "__w").localCheckpoint(eager=True)
    final = votes.join(labels, "__it").groupBy("__r").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes"),
        F.sum((F.col("__l") == F.col("__c")).cast("long"))
        .cast("long")
        .alias("n_agree"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN __l = __c THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("accuracy_micro"),
    )
    return final.select(
        F.col("__r").alias("rater"), "n_votes", "n_agree", "accuracy_micro"
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str = "item_id",
    rater_col: str = "rater",
    label_col: str = "label",
) -> DataFrame:
    """Krippendorff's alpha, nominal metric (Krippendorff 1970/2004)
    — the inter-annotator agreement statistic that, unlike Fleiss'
    kappa, is DEFINED for missing data: items may carry any number of
    ratings, and raters need not overlap. The right QA gate for real
    curation pipelines, where redundancy is ragged (spot double-rating,
    model+human mixes) rather than the uniform n-per-item Fleiss
    requires.

    Exact form (coincidence-matrix algebra for nominal data, the
    ``_krippendorff`` kernel with pair weight 2): over items with
    m_u >= 2 ratings, each item's observed-disagreement contribution is
    the ordered disagreeing pair count over m_u - 1:
    ``t_u = (m_u^2 - SUM_c n_uc^2) / (m_u - 1)``; expected
    disagreement is ``D_e = (n^2 - SUM_c n_c^2) / (n - 1)`` over the
    pooled category totals, and ``alpha = 1 - D_o / D_e`` with
    ``D_o = SUM_u t_u``. The per-item division is the ONE non-integer
    step, so it is micro-quantized at the established truncation
    point: ``t_u_scaled = (pairs_u * 1e6) DIV (m_u - 1)``, exact and
    identically replayed by the oracle; the final
    ``alpha_micro = 1e6 - (D_o_scaled * (n - 1)) DIV (n^2 - SUM n_c^2)``
    is one more truncating DIV (alpha CAN be negative; truncation is
    toward zero in both engines). Degenerate corpora (one category
    overall) yield NULL alpha.

    Single-rating items are excluded everywhere (they carry no
    agreement information — the standard convention), including from
    n and the category totals. Rows with a NULL item, rater or label
    drop.

    Returns one row (n_items, n_ratings, do_scaled, de_num, de_den,
    alpha_micro).
    """
    k = _krippendorff(df, item_col, rater_col, label_col, "nominal")
    return k.select(
        "n_items",
        "n_ratings",
        F.col("do_scaled").cast("long").alias("do_scaled"),
        F.col("de_num").cast("long").alias("de_num"),
        F.expr("CAST(n_ratings - 1 AS BIGINT)").alias("de_den"),
        "alpha_micro",
    )


def krippendorff_ordinal(
    df: DataFrame,
    item_col: str = "item_id",
    rater_col: str = "rater",
    label_col: str = "label",
) -> DataFrame:
    """Krippendorff's alpha, ORDINAL metric (Krippendorff 2004 §11.3)
    — inter-annotator agreement for Likert-style ordered scales, the
    common real-world annotation-QA case the nominal form
    (``krippendorff_alpha``) under-penalizes: a 1-vs-5 disagreement
    must cost more than a 1-vs-2, and the ordinal distance
    ``delta²(c,k) = (SUM_{g=c..k} n_g − (n_c + n_k)/2)²`` weights each
    category pair by the cumulative pooled margins between them.

    Exact integer form (the ``_krippendorff`` kernel): with margins n_g
    over multi-rated items, the DOUBLED distance
    ``w(c,k) = (2·S(c,k) − n_c − n_k)²`` (S = inclusive margin sum
    c..k) is the squared gap between the two labels' doubled midranks
    in the pooled margins, an exact integer; the /4 cancels between D_o
    and D_e, so ``alpha = 1 − (n−1)·[Σ_u Σ_{c<k} n_uc·n_uk·w / (m_u−1)]
    / Σ_{c<k} n_c·n_k·w``. The per-item division is the ONE
    non-integer step, micro-quantized at the established truncation
    point; the final alpha is one more truncating DIV (NULL when every
    rating is one category — nothing to scale against). With exactly
    TWO categories w is constant, so ordinal alpha equals nominal
    alpha by construction (pytest-pinned invariant).

    Single-rating items are excluded everywhere (no agreement
    information), exactly as in the nominal form; rows with a NULL
    item, rater or label drop.

    Scale shape: the rating cells (one (item,label) partial-agg
    shuffle); the midrank window lives on the LABEL DOMAIN (bounded — a
    rating scale, never the corpus) and joins back to the cells; the
    pair sums are closed-form per group, never a pair join.

    Returns one row (n_items, n_ratings, disagreement_micro,
    alpha_micro) — the raw D_o/D_e integers grow like n_items·n² and
    can exceed BIGINT at scale, so only their micro-scaled ratio is
    emitted (``alpha_micro = 1e6 − disagreement_micro``); the internal
    arithmetic is DECIMAL(38,0)-exact throughout.
    """
    k = _krippendorff(df, item_col, rater_col, label_col, "ordinal")
    return k.drop("do_scaled", "de_num")


def cochran_armitage(
    df: DataFrame,
    dose_col: str,
    case_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test (Cochran 1954; Armitage 1955) — is
    a binary outcome's rate MONOTONE in an ordered exposure? The 2×k
    contingency test that chi_square (association, order-blind)
    cannot express: with integer dose scores w_i, group sizes n_i,
    case counts r_i, totals N/R,

        T = Σ w_i (r_i − n_i·R/N),
        Var = R(N−R)·(N·Σw_i²n_i − (Σw_i n_i)²) / N³,
        Z = T / √Var

    The right screen for "does quality-score bucket predict
    pass-rate" style eval questions where buckets are ordered.

    Exactness: ``A = Σ w_i(r_i·N − n_i·R) = T·N`` and
    ``V3 = R(N−R)(N·Σw²n − (Σwn)²) = Var·N³`` are exact
    DECIMAL(38,0) integers (V3 reaches ~N⁴ — decimal-exact to ~10⁹
    rows); Z = A/√(V3/N) is ONE fixed fp64 expression over them,
    micro-floored. NULL when Var = 0 (all cases, no cases, or one
    dose level — no trend to test). Dose values must be integers
    (quantize upstream).

    Scale shape: one dose-keyed partial-agg shuffle (k ≤ dose
    domain), one 1-row reduce over the bounded group table.

    Returns one row (k, n_total, n_cases, z_micro).
    """
    w = F.col(dose_col).cast("long")
    case = F.col(case_col).cast("boolean").cast("long")
    per = df.groupBy(w.alias("__w")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(case).cast("long").alias("__r"),
    )
    return per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__n").cast("long").alias("n_total"),
        F.sum("__r").cast("long").alias("n_cases"),
        F.sum(F.expr("CAST(__w AS DECIMAL(38,0)) * __r")).alias("__wr"),
        F.sum(F.expr("CAST(__w AS DECIMAL(38,0)) * __n")).alias("__wn"),
        F.sum(F.expr("CAST(__w AS DECIMAL(38,0)) * __w * __n")).alias("__w2n"),
    ).select(
        "k",
        "n_total",
        "n_cases",
        F.expr(
            """CASE WHEN n_cases = 0 OR n_cases = n_total OR k < 2 THEN NULL
               ELSE CAST(FLOOR(
                 CAST(__wr * n_total - __wn * n_cases AS DOUBLE)
                 / SQRT(CAST(CAST(n_cases AS DECIMAL(38,0))
                     * (n_total - n_cases)
                     * (n_total * __w2n - __wn * __wn) AS DOUBLE)
                   / CAST(n_total AS DOUBLE))
                 * 1000000) AS BIGINT) END"""
        ).alias("z_micro"),
    )


def krippendorff_interval(
    df: DataFrame,
    item_col: str = "item_id",
    rater_col: str = "rater",
    label_col: str = "label",
) -> DataFrame:
    """Krippendorff's alpha, INTERVAL metric (Krippendorff 2004
    §11.3) — agreement for numeric scales where the DIFFERENCE is
    meaningful (scores, counts, millisecond ratings): pair distance
    ``delta²(c,k) = (c − k)²``, completing the alpha family
    (nominal = krippendorff_alpha, ordinal = krippendorff_ordinal,
    interval = this). Values must be integer-quantized upstream
    (the engine-wide discipline).

    Same coincidence kernel (``_krippendorff``) as the ordinal form
    with the margin-independent squared-difference weight — so NO
    window over the labels:
    ``alpha = 1 − (n−1)·[Σ_u Σ_{c<k} n_uc·n_uk·(c−k)² / (m_u−1)]
    / Σ_{c<k} n_c·n_k·(c−k)²``, one micro truncation per item + one
    final truncating DIV (NULL when every rating is one value).
    Single-rating items are excluded everywhere; rows with a NULL item,
    rater or label drop. DECIMAL(38,0)-exact intermediates.

    Returns one row (n_items, n_ratings, disagreement_micro,
    alpha_micro).
    """
    k = _krippendorff(df, item_col, rater_col, label_col, "interval")
    return k.drop("do_scaled", "de_num")


def cochran_q(
    df: DataFrame,
    item_col: str = "item_id",
    treatment_col: str = "treatment",
    outcome_col: str = "correct",
) -> DataFrame:
    """Cochran's Q test (Cochran 1950) — k matched binary classifiers
    on the same n items: do the systems differ at all? The k-way
    generalization of McNemar (k=2 reduces to it, sans continuity
    correction), and the right FIRST test before pairwise McNemars
    when an eval harness compares many model variants at once.

    All-integer identity: with column totals G_j (per treatment), row
    totals R_i (per item), and T = SUM G_j,
    ``Q = (k-1) * (k * SUM G_j^2 - T^2) / (k*T - SUM R_i^2)`` — every
    term an exact count, one truncating micro DIV at the end (NULL
    when the denominator is 0: all items unanimous across systems,
    nothing to test). Uniform k per item is the caller's contract
    (matched design); k is derived as total_cells DIV n_items. Rows
    with a NULL item, treatment or outcome drop.

    Scale shape: the item and treatment margin totals
    (``_margin_totals``, the treatment domain is bounded), crossed.

    Returns one row (n_items, k, total_successes, g_sq, r_sq,
    q_micro).
    """
    cells = df.dropna(subset=[item_col, treatment_col, outcome_col])
    x = F.col(outcome_col).cast("boolean").cast("long")
    cols = _margin_totals(cells, treatment_col, x).select(
        F.col("sk2").alias("g2")
    )
    return _margin_totals(cells, item_col, x).crossJoin(cols).select(
        F.col("keys").alias("n_items"),
        F.expr("CAST(cells DIV keys AS BIGINT)").alias("k"),
        F.col("sx").cast("long").alias("total_successes"),
        F.col("g2").cast("long").alias("g_sq"),
        F.col("sk2").cast("long").alias("r_sq"),
        F.expr(
            "CAST((cells DIV keys - 1) * ((cells DIV keys) * g2 - sx * sx)"
            " * 1000000 DIV NULLIF((cells DIV keys) * sx - sk2, 0) AS BIGINT)"
        ).alias("q_micro"),
    )


def kendall_w(
    df: DataFrame,
    judge_col: str = "judge",
    item_col: str = "item_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith 1939) — m judges each ranking the same n items: how much do
    the rankings agree as a GROUP (1 = identical orders, 0 = no
    association)? The multi-ranker complement to pairwise Kendall tau;
    an eval pipeline runs it over per-model preference rankings before
    trusting an aggregate leaderboard.

    All-integer identity (no ties — each judge's ranks are a
    permutation of 1..n, the caller's contract; use a deterministic
    tie-break upstream): with item rank sums R_i,
    ``W = 12 * SUM (R_i - m(n+1)/2)^2 / (m^2 (n^3 - n))``, computed in
    the half-integer-free form ``3 * s_dev / (m^2 (n^3 - n))`` with
    ``s_dev = SUM (2 R_i - c)^2 = 4·SUM R_i^2 − 4c·SUM R_i + n·c^2``,
    ``c = m(n+1)`` — exact integers end to end, one truncating micro
    DIV (NULL for n < 2). m is derived as total_ranks DIV n. Rows with
    a NULL judge, item or rank drop.

    Scale shape: the item margin totals (``_margin_totals``: one
    item-keyed partial-agg shuffle, one 1-row reduce). Judge identity
    never shuffled.

    Returns one row (n_items, n_judges, s_dev, w_micro).
    """
    t = _margin_totals(
        df.dropna(subset=[judge_col, item_col, rank_col]),
        item_col,
        F.col(rank_col).cast("long"),
    ).select(
        F.col("keys").alias("n_items"),
        F.expr("CAST(cells DIV keys AS BIGINT)").alias("n_judges"),
        "sx",
        "sk2",
        F.expr("CAST(cells DIV keys AS DECIMAL(38,0)) * (keys + 1)").alias("c"),
    )
    s_dev = "(4 * sk2 - 4 * c * sx + n_items * c * c)"
    return t.select(
        "n_items",
        "n_judges",
        F.expr(f"CAST({s_dev} AS BIGINT)").alias("s_dev"),
        F.expr(
            f"CAST({s_dev} * 3000000"
            " DIV NULLIF(CAST(n_judges AS DECIMAL(38,0)) * n_judges"
            " * (CAST(n_items AS DECIMAL(38,0)) * n_items * n_items"
            "    - n_items), 0) AS BIGINT)"
        ).alias("w_micro"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945) over paired
    measurements — the non-parametric "did system Y beat system X on
    the same items" check for ORDINAL per-item scores (where McNemar
    needs binary outcomes and a paired t-test trusts normality).
    Zero differences drop (the standard convention); ties in |d| get
    average ranks.

    All-integer discipline: ranks are carried DOUBLED (average ranks
    are half-integers; 2·rank is always integral), built without any
    global sort from the per-|d| value counts and a cumulative count
    over the bounded DISTINCT-|d| table (``_doubled_midrank``):
    a value with cb smaller |d|'s below it and t occurrences spans
    doubled-ranks ``2·cb + 1 … 2·cb + 2t - 1``, averaging
    ``2·cb + t + 1``. W+ (doubled) sums those over positive d's. The
    normal approximation is emitted as ``z_micro``: with
    ``num = W2+ − n(n+1)/2`` and ``s2 = n(n+1)(2n+1)/6`` (always
    integral), ``z = num / (2·sqrt(s2/4)) = num / sqrt(s2)`` — exact
    integers into one fp64 sqrt + divide + floor, bit-identical in
    any IEEE engine. No tie correction on the variance (documented:
    with heavy ties prefer the exact integer cells also returned).

    Scale shape: one projection, one partial-agg shuffle to distinct
    |d| counts (bounded by the value domain), one window over that
    bounded table, a 1-row reduce.

    Returns one row (n_pairs, n_zero, w_plus_double, w_minus_double,
    z_micro).
    """
    d = F.col(x_col).cast("long") - F.col(y_col).cast("long")
    base = df.select(d.alias("__d")).filter(F.col("__d").isNotNull())
    nz = base.filter(F.col("__d") != 0).select(
        F.abs("__d").alias("__a"), (F.col("__d") > 0).cast("long").alias("__p")
    )
    vc = nz.groupBy("__a").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("__p").cast("long").alias("np"),
    )
    ranked = vc.select("t", "np", _doubled_midrank("t", "__a").alias("r2"))
    zero = F.lit(0).cast("long")
    # COALESCE to 0: an all-zero-difference sample leaves `ranked`
    # empty, and a global aggregate over zero rows yields NULL sums —
    # the degenerate case must report (n_pairs=0, W=0, z NULL), not a
    # NULL-ridden row (caught by the hypothesis rank-conservation
    # property).
    agg = ranked.groupBy().agg(
        F.coalesce(F.sum("t"), zero).cast("long").alias("n"),
        F.coalesce(F.sum(F.col("np") * F.col("r2")), zero)
        .cast("long").alias("w2p"),
        F.coalesce(F.sum((F.col("t") - F.col("np")) * F.col("r2")), zero)
        .cast("long").alias("w2m"),
    )
    n_zero = base.filter(F.col("__d") == 0).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_zero")
    )
    return agg.crossJoin(n_zero).select(
        F.col("n").alias("n_pairs"),
        "n_zero",
        F.col("w2p").alias("w_plus_double"),
        F.col("w2m").alias("w_minus_double"),
        F.when(
            F.col("n") > 0,
            F.floor(
                (F.col("w2p") - F.col("n") * (F.col("n") + 1) / F.lit(2.0))
                .cast("double")
                / F.sqrt(
                    (F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1)
                     / F.lit(6.0)).cast("double")
                )
                * F.lit(1000000.0)
            ),
        ).cast("long").alias("z_micro"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str = "item_id",
    treatment_col: str = "treatment",
    value_col: str = "score",
) -> DataFrame:
    """Friedman rank test (Friedman 1937) — k systems scored on the
    same n items ("blocks"): rank the systems WITHIN each item, then
    test whether the rank sums differ. The non-parametric k-way
    repeated-measures ANOVA an eval harness runs before pairwise
    post-hocs; the ordinal-score complement to Cochran's Q.

    Determinism contract: within-block ranks come from ``row_number``
    over ``(value, treatment)`` — the treatment id is the documented
    tie-break, so ranks are ALWAYS a 1..k permutation (no average-rank
    fractions, no tie-corrected denominator) and the statistic is a
    defined function of the data, identically replayed by the oracle.

    All-integer identity: with within-block ranks summed per treatment
    to R_j, ``chi2_F = 12·SUM R_j² / (n·k·(k+1)) − 3·n·(k+1)``
    computed as the single rational
    ``(12·SUM R_j² − 3·n²·k·(k+1)²) / (n·k·(k+1))`` — exact integers,
    one truncating micro DIV. Degenerate designs: the denominator
    n·k·(k+1) is 0 (DIV → NULL chi2_micro) only when n or k is 0; at
    k=1 it is 2n ≠ 0 and the identity collapses to exactly 0 (12·n²·1²
    − 3·n²·1·4 = 0), so chi2_micro is 0, not NULL — a one-treatment
    design carries no evidence, which 0 states correctly (ADVICE r12
    corrected the earlier "NULL for k < 2" claim). k derives as
    total_cells DIV n_blocks (uniform k per block is the matched
    design's contract).

    Scale shape: ONE block-partitioned window (k rows per partition),
    one treatment-keyed partial-agg shuffle (bounded domain), a 1-row
    reduce.

    Returns one row (n_blocks, k, r_sq, chi2_micro).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.col(block_col)).orderBy(
        F.col(value_col), F.col(treatment_col)
    )
    ranked = df.select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__tr"),
        F.row_number().over(w).cast("long").alias("__r"),
    )
    rj = ranked.groupBy("__tr").agg(
        F.sum("__r").cast("long").alias("rj"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    return rj.groupBy().agg(
        F.max("nb").cast("long").alias("n_blocks"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("rj") * F.col("rj")).cast("long").alias("r_sq"),
        F.expr(
            "CAST((12 * CAST(SUM(rj * rj) AS DECIMAL(38,0))"
            " - 3 * CAST(MAX(nb) AS DECIMAL(38,0)) * MAX(nb) * COUNT(*)"
            "   * (COUNT(*) + 1) * (COUNT(*) + 1)) * 1000000"
            " DIV NULLIF(CAST(MAX(nb) AS DECIMAL(38,0)) * COUNT(*)"
            "            * (COUNT(*) + 1), 0) AS BIGINT)"
        ).alias("chi2_micro"),
    )


def item_analysis(
    df: DataFrame,
    item_col: str = "item_id",
    subject_col: str = "subject",
    outcome_col: str = "correct",
) -> DataFrame:
    """Classical-test-theory item analysis over an eval matrix
    (subjects × items, binary outcomes): per-item DIFFICULTY (the
    p-value — fraction answering correctly) and DISCRIMINATION (the
    point-biserial correlation of the item outcome with the subject's
    rest-score, i.e. total EXCLUDING the item — the uncorrected form
    inflates easy-item discrimination by self-correlation). The
    question-bank QA an eval pipeline runs to find broken items:
    near-0 or negative r_pb means the "hard" item is noise, p near 1
    means it measures nothing.

    Integer discipline: per-subject totals and all moment sums are
    exact integers; ``p_micro`` is a truncating DIV. The point-
    biserial ``r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)·(n·Σy² −
    (Σy)²))`` takes exact-integer moments into one fp64 sqrt + divide
    + floor (bit-identical in IEEE engines); NULL when either
    variance is 0 (unanimous item or constant rest-scores).

    Scale shape: one subject-keyed partial-agg for totals, one
    broadcast-joinable map back (subject totals are |subjects| rows —
    AQE broadcasts when small, shuffles on the key otherwise), one
    item-keyed partial-agg. No windows.

    Returns (item, n_subjects, n_correct, p_micro, r_pb_micro).
    """
    cells = df.select(
        F.col(item_col).alias("__item"),
        F.col(subject_col).alias("__s"),
        F.col(outcome_col).cast("boolean").cast("long").alias("__x"),
    )
    totals = cells.groupBy("__s").agg(
        F.sum("__x").cast("long").alias("__tot")
    )
    joined = cells.join(totals, "__s").select(
        "__item", "__x", (F.col("__tot") - F.col("__x")).alias("__y")
    )
    n = F.count(F.lit(1)).cast("long")
    sx = F.sum("__x").cast("long")
    sy = F.sum("__y").cast("long")
    sxx = F.sum(F.col("__x") * F.col("__x")).cast("long")
    syy = F.sum(F.col("__y") * F.col("__y")).cast("long")
    sxy = F.sum(F.col("__x") * F.col("__y")).cast("long")
    num = (n * sxy - sx * sy).cast("double")
    var_x = (n * sxx - sx * sx).cast("double")
    var_y = (n * syy - sy * sy).cast("double")
    return joined.groupBy("__item").agg(
        n.alias("n_subjects"),
        sx.alias("n_correct"),
        F.expr(
            "CAST(CAST(SUM(__x) AS DECIMAL(38,0)) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("p_micro"),
        F.when(
            (var_x > 0) & (var_y > 0),
            F.floor(num / F.sqrt(var_x * var_y) * F.lit(1000000.0)),
        ).cast("long").alias("r_pb_micro"),
    ).select(
        F.col("__item").alias("item"),
        "n_subjects",
        "n_correct",
        "p_micro",
        "r_pb_micro",
    )


def weighted_kappa(
    df: DataFrame,
    a_col: str = "rating_a",
    b_col: str = "rating_b",
    n_categories: int | None = None,
    weights: str = "quadratic",
) -> DataFrame:
    """Cohen's weighted kappa (Cohen 1968) — two raters, ORDINAL
    categories 0..C-1: disagreement is penalized by distance, so
    confusing adjacent grades costs |i−j| (linear) or (i−j)²
    (quadratic, the default — the form equivalent to an ICC and the
    standard for graded eval rubrics). The ordinal complement to
    Fleiss/Krippendorff nominal agreement.

    All-integer identity: with observed pair counts o_ij and marginals
    r_i, c_j over n items, ``kappa_w = 1 − n·Σ w_ij·o_ij / Σ
    w_ij·r_i·c_j`` — every term exact (the expected matrix never
    divides by n; it is cross-multiplied away), one truncating micro
    DIV (NULL when the expected disagreement is 0: a rater never
    varies). ``n_categories`` is reporting-only (defaults to 1 + max
    observed rating; absent categories contribute zero to every sum,
    so the identity never needs the full domain); the w table is C²,
    bounded.

    Scale shape: one partial-agg shuffle to the C²-bounded observed
    matrix, two C-bounded marginal reductions, a cross of marginals
    (C² rows), a 1-row reduce.

    Returns one row (n_items, n_categories, sum_w_obs, sum_w_exp,
    kappa_micro).
    """
    if weights not in ("quadratic", "linear"):
        raise ValueError(f"weights must be quadratic|linear (got {weights!r})")
    pw = 2 if weights == "quadratic" else 1
    pairs = df.select(
        F.col(a_col).cast("long").alias("__a"),
        F.col(b_col).cast("long").alias("__b"),
    )
    o = pairs.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    wcol = (
        (F.col("__a") - F.col("__b")) * (F.col("__a") - F.col("__b"))
        if pw == 2
        else F.abs(F.col("__a") - F.col("__b"))
    )
    c_expr = (
        F.max(F.lit(n_categories)).cast("long")
        if n_categories is not None
        else (F.max(F.greatest("__a", "__b")) + 1).cast("long")
    )
    obs = o.groupBy().agg(
        F.sum("o").cast("long").alias("n"),
        F.sum(wcol.cast("long") * F.col("o")).cast("long").alias("swo"),
        c_expr.alias("c"),
    )
    ra = pairs.groupBy(F.col("__a").alias("__i")).agg(
        F.count(F.lit(1)).cast("long").alias("ri")
    )
    cb = pairs.groupBy(F.col("__b").alias("__j")).agg(
        F.count(F.lit(1)).cast("long").alias("cj")
    )
    wexp = (
        (F.col("__i") - F.col("__j")) * (F.col("__i") - F.col("__j"))
        if pw == 2
        else F.abs(F.col("__i") - F.col("__j"))
    )
    exp = (
        ra.crossJoin(cb)
        .select(
            (wexp.cast("long") * F.col("ri") * F.col("cj")).alias("__t")
        )
        .groupBy()
        .agg(F.sum("__t").cast("long").alias("swe"))
    )
    return obs.crossJoin(exp).select(
        F.col("n").alias("n_items"),
        F.col("c").alias("n_categories"),
        F.col("swo").alias("sum_w_obs"),
        F.col("swe").alias("sum_w_exp"),
        F.expr(
            "CAST(1000000 - CAST(n AS DECIMAL(38,0)) * swo * 1000000"
            " DIV NULLIF(swe, 0) AS BIGINT)"
        ).alias("kappa_micro"),
    )


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str = "stratum",
    treatment_col: str = "treated",
    outcome_col: str = "outcome",
) -> DataFrame:
    """Mantel-Haenszel common odds ratio (Mantel & Haenszel 1959)
    across 2x2 strata — the Simpson's-paradox guard an ablation
    analysis runs before trusting a pooled contingency table: the
    crude OR mixes stratum composition with effect; the MH estimate
    weights each stratum's OR by b_i·c_i/n_i and is valid under
    confounding by stratum.

    Integer discipline: per-stratum cells (a=treated-success,
    b=treated-failure, c=control-success, d=control-failure) are
    exact; the per-stratum terms ``R_i = a_i·d_i·1e6 DIV n_i`` and
    ``S_i = b_i·c_i·1e6 DIV n_i`` micro-truncate at ONE defined point
    each (both engines replay it), then ``OR_MH = ΣR·1e6 DIV ΣS``.
    The crude OR rides along so the Simpson gap is visible in one
    row. NULL ORs when a denominator is 0.

    Scale shape: one partial-agg shuffle to the stratum-bounded cell
    table, a 1-row reduce. Zero joins.

    Returns one row (n_strata, n_rows, sum_r_micro, sum_s_micro,
    or_mh_micro, or_crude_micro).
    """
    t = F.col(treatment_col).cast("boolean")
    y = F.col(outcome_col).cast("boolean")
    cells = df.groupBy(F.col(stratum_col).alias("__s")).agg(
        F.sum((t & y).cast("long")).cast("long").alias("a"),
        F.sum((t & ~y).cast("long")).cast("long").alias("b"),
        F.sum((~t & y).cast("long")).cast("long").alias("c"),
        F.sum((~t & ~y).cast("long")).cast("long").alias("d"),
    )
    return cells.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(F.col("a") + F.col("b") + F.col("c") + F.col("d"))
        .cast("long")
        .alias("n_rows"),
        F.sum(
            F.expr(
                "CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000"
                " DIV NULLIF(a + b + c + d, 0) AS DECIMAL(38,0))"
            )
        ).cast("decimal(38,0)").cast("long").alias("sum_r_micro"),
        F.sum(
            F.expr(
                "CAST(CAST(b AS DECIMAL(38,0)) * c * 1000000"
                " DIV NULLIF(a + b + c + d, 0) AS DECIMAL(38,0))"
            )
        ).cast("decimal(38,0)").cast("long").alias("sum_s_micro"),
        F.expr(
            "CAST(SUM(CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000"
            "   DIV NULLIF(a + b + c + d, 0) AS DECIMAL(38,0))) * 1000000"
            " DIV NULLIF(SUM(CAST(CAST(b AS DECIMAL(38,0)) * c * 1000000"
            "   DIV NULLIF(a + b + c + d, 0) AS DECIMAL(38,0))), 0)"
            " AS BIGINT)"
        ).alias("or_mh_micro"),
        F.expr(
            "CAST(CAST(SUM(a) AS DECIMAL(38,0)) * SUM(d) * 1000000"
            " DIV NULLIF(CAST(SUM(b) AS DECIMAL(38,0)) * SUM(c), 0)"
            " AS BIGINT)"
        ).alias("or_crude_micro"),
    )


def conformal_calibration(
    cal: DataFrame,
    test: DataFrame,
    score_col: str = "score",
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Split-conformal calibration + coverage check (Vovk et al. 2005;
    the distribution-free uncertainty wrapper a scoring pipeline puts
    around ANY model): from a calibration set of integer nonconformity
    scores, the threshold is the k-th smallest with
    ``k = ceil((n+1)·(1−α))``, and a held-out set then verifies the
    finite-sample guarantee (coverage >= 1−α in expectation). α is a
    RATIONAL (alpha_num/alpha_den) so k is exact integer arithmetic:
    ``k = ((n+1)·(alpha_den−alpha_num) + alpha_den − 1) DIV alpha_den``.

    The order statistic is found WITHOUT a global sort: scores
    collapse to the bounded distinct-value count table, a cumulative
    count over it (the cliffs_delta/wilcoxon window shape) locates the
    smallest value whose cumulative count reaches k. Scores must be
    integers (micro-quantize upstream — the established discipline).

    Scale shape: two partial-agg shuffles to distinct-value tables,
    one window over the bounded distinct values, one broadcastable
    1-row threshold joined into a 1-row coverage reduce.

    Returns one row (n_cal, k, qhat, n_test, n_covered,
    coverage_micro, target_micro) — or ZERO rows when the calibration
    set is too small for the level (k > n, i.e. n < ceil(1/α) − 1: the
    finite-sample threshold is +∞ and no finite qhat exists; documented
    convention, pinned in the property test).
    """
    if not (0 < alpha_num < alpha_den):
        raise ValueError("alpha must be a rational in (0, 1)")
    from pyspark.sql import Window

    n_keep = alpha_den - alpha_num
    vc = cal.groupBy(F.col(score_col).cast("long").alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vc.select(
        "__v", F.sum("__c").over(w).cast("long").alias("__cum"),
        F.sum("__c").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("__n"),
    )
    k_expr = f"CAST(((__n + 1) * {n_keep} + {alpha_den} - 1) DIV {alpha_den} AS BIGINT)"
    qhat = (
        cum.filter(F.expr(f"__cum >= {k_expr}"))
        .groupBy()
        .agg(
            F.min("__v").cast("long").alias("qhat"),
            F.max("__n").cast("long").alias("n_cal"),
            F.expr(f"MAX({k_expr})").alias("k"),
        )
        # a too-small calibration set (k > n) leaves the filter empty
        # and the global agg yields one all-NULL row — drop it so the
        # documented zero-row convention holds (caught by the
        # hypothesis order-statistic property)
        .filter(F.col("qhat").isNotNull())
    )
    cov = test.select(F.col(score_col).cast("long").alias("__t")).crossJoin(
        F.broadcast(qhat)
    ).groupBy("n_cal", "k", "qhat").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum((F.col("__t") <= F.col("qhat")).cast("long"))
        .cast("long")
        .alias("n_covered"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN __t <= qhat THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("coverage_micro"),
    )
    return cov.select(
        "n_cal", "k", "qhat", "n_test", "n_covered", "coverage_micro",
        F.lit(1_000_000 * n_keep // alpha_den).cast("long").alias(
            "target_micro"
        ),
    )


def pinball_loss(
    df: DataFrame,
    actual_col: str = "y",
    forecast_col: str = "yhat",
    taus: list[tuple[int, int]] = ((1, 10), (5, 10), (9, 10)),
) -> DataFrame:
    """Mean pinball (quantile) loss at a grid of quantile levels — the
    proper scoring rule for quantile forecasts (the forecasting eval
    complement to holt_winters/mase): for level τ and error d = y − ŷ,
    ``loss = max(τ·d, (τ−1)·d)``. Each τ is a RATIONAL num/den so the
    per-row loss ``max(num·d, (num−den)·d)`` is an exact integer in
    den-scaled units; the mean micro-truncates once per level:
    ``mean_micro = Σ·1e6 DIV (n·den)``. Inputs must be integers
    (quantize upstream).

    Scale shape: one projection per τ folded into a single explode-free
    aggregate pass (each τ is its own SUM over the same scan), 1-row
    output per τ via an unpivot of bounded width.

    Returns (tau_num, tau_den, n, sum_loss_den, mean_loss_micro).
    """
    if not taus:
        raise ValueError("taus must be non-empty")
    d = F.col(actual_col).cast("long") - F.col(forecast_col).cast("long")
    base = df.select(d.alias("__d"))
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for num, den in taus:
        if not (0 < num < den):
            raise ValueError(f"tau must be in (0,1): {num}/{den}")
        aggs.append(
            F.sum(
                F.greatest(
                    F.lit(num) * F.col("__d"),
                    F.lit(num - den) * F.col("__d"),
                )
            ).cast("long").alias(f"s_{num}_{den}")
        )
    one = base.groupBy().agg(*aggs)
    parts = []
    for num, den in taus:
        parts.append(
            one.select(
                F.lit(num).cast("long").alias("tau_num"),
                F.lit(den).cast("long").alias("tau_den"),
                F.col("n"),
                F.col(f"s_{num}_{den}").alias("sum_loss_den"),
                F.expr(
                    f"CAST(CAST(s_{num}_{den} AS DECIMAL(38,0)) * 1000000"
                    f" DIV NULLIF(n * {den}, 0) AS BIGINT)"
                ).alias("mean_loss_micro"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def brier_decomposition(
    df: DataFrame,
    prob_col: str = "p_micro",
    outcome_col: str = "outcome",
    n_bins: int = 10,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score over binned
    forecasts: ``Brier = REL − RES + UNC`` with reliability
    ``Σ n_k (f̄_k − ō_k)² / n``, resolution ``Σ n_k (ō_k − ō)² / n``
    and uncertainty ``ō(1 − ō)`` — the calibration audit that says
    WHERE a probability forecast loses (miscalibrated bins vs no
    discriminative power), one level deeper than calibration_bins'
    per-bin table.

    Integer discipline: forecasts arrive micro-quantized (prob_col in
    [0, 1e6] — the established at-birth convention); bins are
    ``floor(p·n_bins / 1e6)`` clamped to n_bins−1; per-bin means f̄_k,
    ō_k and the base rate ō micro-truncate at defined points, and the
    three components are then exact integer sums of squared micro
    differences, each divided once. The recomposed
    ``brier_check_micro = rel − res + unc`` rides along (the identity
    holds only up to the three truncations — emit it, don't hide it).

    Scale shape: one partial-agg shuffle to ≤ n_bins cells, a scalar
    base-rate reduce, a 1-row output.

    Returns one row (n, n_bins, rel_micro, res_micro, unc_micro,
    brier_check_micro).
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2 (got {n_bins})")
    p = F.col(prob_col).cast("long")
    y = F.col(outcome_col).cast("boolean").cast("long")
    binned = df.select(
        F.least(
            F.expr(f"CAST({prob_col} * {n_bins} DIV 1000000 AS BIGINT)"),
            F.lit(n_bins - 1).cast("long"),
        ).alias("__k"),
        p.alias("__p"),
        y.alias("__y"),
    )
    per = binned.groupBy("__k").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.expr("CAST(SUM(__p) DIV COUNT(*) AS BIGINT)").alias("fk"),
        F.expr(
            "CAST(CAST(SUM(__y) AS DECIMAL(38,0)) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("ok"),
        F.sum("__y").cast("long").alias("yk"),
    )
    # the corpus base rate is a 1-row reduce of the bounded bin table,
    # broadcast back for the resolution term (window-free)
    base = per.groupBy().agg(
        F.sum("nk").cast("long").alias("n"),
        F.expr(
            "CAST(CAST(SUM(yk) AS DECIMAL(38,0)) * 1000000"
            " DIV SUM(nk) AS BIGINT)"
        ).alias("obar"),
    )
    joined = per.crossJoin(F.broadcast(base))
    return joined.groupBy("n", "obar").agg(
        F.expr(
            "CAST(SUM(nk * CAST(fk - ok AS DECIMAL(38,0))"
            " * CAST(fk - ok AS DECIMAL(38,0))) DIV (MAX(n) * 1000000)"
            " AS BIGINT)"
        ).alias("rel_micro"),
        F.expr(
            "CAST(SUM(nk * CAST(ok - obar AS DECIMAL(38,0))"
            " * CAST(ok - obar AS DECIMAL(38,0))) DIV (MAX(n) * 1000000)"
            " AS BIGINT)"
        ).alias("res_micro"),
        F.expr(
            "CAST(CAST(obar AS DECIMAL(38,0)) * (1000000 - obar)"
            " DIV 1000000 AS BIGINT)"
        ).alias("unc_micro"),
    ).select(
        F.col("n"),
        F.lit(n_bins).cast("long").alias("n_bins"),
        "rel_micro", "res_micro", "unc_micro",
        (F.col("rel_micro") - F.col("res_micro") + F.col("unc_micro"))
        .cast("long")
        .alias("brier_check_micro"),
    )


def sprt_eval(
    df: DataFrame,
    order_col: str = "item_id",
    outcome_col: str = "correct",
    llr_pos_micro: int | None = None,
    llr_neg_micro: int | None = None,
    p0_num: int = 1,
    p0_den: int = 2,
    p1_num: int = 3,
    p1_den: int = 5,
    alpha_micro: int = 50_000,
    beta_micro: int = 50_000,
) -> DataFrame:
    """Wald's sequential probability ratio test replay (Wald 1945)
    over an ordered stream of binary outcomes — "could this eval have
    stopped early?": H0: p = p0 vs H1: p = p1; each success adds
    ``ln(p1/p0)``, each failure ``ln((1−p1)/(1−p0))``, and the walk
    stops at ``ln((1−β)/α)`` (accept H1) or ``ln(β/(1−α))`` (accept
    H0). The per-step increments and both thresholds are computed
    ONCE in Python and embedded as integer micro-nat literals in both
    engines (the ndcg discount-table discipline) — no engine
    transcendental is ever compared.

    The cumulative walk is one window over ``order_col`` — a GLOBAL
    ordered prefix sum, so this op is EVAL-SET-BOUNDED by contract
    (thousands-to-millions of items, not corpus-scale; that is what a
    sequential test is for). Crossing detection is then a 1-row
    aggregate: the smallest step index whose cumulative LLR exits the
    band (conditional struct-mins — no second pass, no collect).

    Returns one row (n_items, n_successes, final_llr_micro,
    upper_micro, lower_micro, first_cross_step, decision) — decision
    'accept_h1' / 'accept_h0' at the FIRST crossing (Wald's sampling
    plan), 'continue' if the walk never exits.
    """
    import math

    from pyspark.sql import Window

    if llr_pos_micro is None:
        llr_pos_micro = math.floor(
            math.log((p1_num * p0_den) / (p0_num * p1_den)) * 1e6
        )
    if llr_neg_micro is None:
        llr_neg_micro = math.floor(
            math.log(
                ((p1_den - p1_num) * p0_den) / ((p0_den - p0_num) * p1_den)
            )
            * 1e6
        )
    upper = math.floor(math.log((1e6 - beta_micro) / alpha_micro) * 1e6)
    lower = math.floor(math.log(beta_micro / (1e6 - alpha_micro)) * 1e6)
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    wr = Window.orderBy(order_col)
    walk = df.select(
        F.col(order_col),
        F.col(outcome_col).cast("boolean").cast("long").alias("__y"),
    ).select(
        "__y",
        F.row_number().over(wr).cast("long").alias("__step"),
        F.sum(
            F.when(F.col("__y") == 1, F.lit(llr_pos_micro)).otherwise(
                F.lit(llr_neg_micro)
            )
        ).over(w).cast("long").alias("__llr"),
    )
    up, lo = F.lit(upper).cast("long"), F.lit(lower).cast("long")
    return walk.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("__y").cast("long").alias("n_successes"),
        F.max(F.struct(F.col("__step"), F.col("__llr")))["__llr"]
        .cast("long")
        .alias("final_llr_micro"),
        F.max(up).alias("upper_micro"),
        F.max(lo).alias("lower_micro"),
        F.min(
            F.when((F.col("__llr") >= up) | (F.col("__llr") <= lo),
                   F.col("__step"))
        ).cast("long").alias("first_cross_step"),
        F.coalesce(
            F.min(
                F.when(F.col("__llr") >= up,
                       F.struct(F.col("__step"), F.lit("accept_h1").alias("d")))
                .when(F.col("__llr") <= lo,
                      F.struct(F.col("__step"), F.lit("accept_h0").alias("d")))
            )["d"],
            F.lit("continue"),
        ).alias("decision"),
    )


def benjamini_hochberg(
    df: DataFrame,
    id_col: str = "hyp_id",
    p_micro_col: str = "p_micro",
    alpha_micro: int = 50_000,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (Benjamini & Hochberg
    1995) — the multiple-testing gate for a battery of per-slice
    hypothesis tests (per-domain drift checks, per-arm metric deltas):
    sort the m p-values ascending, find the LARGEST rank i with
    ``p_(i) <= (i/m)·alpha``, and reject hypotheses 1..i.

    Exactness: p-values arrive as micro integers, so the step-up
    comparison is the exact integer inequality
    ``p_micro·m <= i·alpha_micro`` — no float thresholds anywhere. The
    rank is a window over the p-value sort (ties broken by id for a
    deterministic rejection SET, matching SQL ROW_NUMBER semantics);
    the cutoff rank is the max passing i, then each hypothesis is
    flagged by comparing its rank to the cutoff.

    Scale shape: one distinct-sort window over the hypothesis table —
    BH is defined on the global p-value order, but the hypothesis
    table is the already-aggregated RESULT of m upstream tests (one
    row per slice/arm), orders of magnitude smaller than the data that
    produced it; m in the billions would itself be the anomaly. One
    window pass + one scalar cutoff join.

    NULL convention (ADVICE r13): rows with a NULL p-value are DROPPED
    before ranking — under Spark's ascending NULLS FIRST they would
    take the lowest ranks, inflate m, and (being incomparable in the
    step-up filter yet rank-below any non-null cutoff) be marked
    rejected while shifting every real hypothesis's rank. A missing
    p-value is an upstream-test failure, not evidence; callers who
    need them surfaced should audit ``p IS NULL`` separately.

    Returns (id, p_micro, rank, m, reject) ordered by rank.
    """
    if not (0 < alpha_micro < 1_000_000):
        raise ValueError(f"alpha_micro must be in (0, 1e6) (got {alpha_micro})")
    df = df.filter(F.col(p_micro_col).isNotNull())
    w = Window.orderBy(F.col(p_micro_col), F.col(id_col))
    ranked = df.select(
        F.col(id_col),
        F.col(p_micro_col).cast("long").alias("p_micro"),
        F.row_number().over(w).cast("long").alias("rank"),
    )
    m = ranked.groupBy().agg(F.count(F.lit(1)).cast("long").alias("m"))
    cut = (
        ranked.join(F.broadcast(m))
        .filter(F.col("p_micro") * F.col("m") <= F.col("rank") * F.lit(alpha_micro))
        .groupBy()
        .agg(F.max("rank").alias("__cut"))
    )
    return (
        ranked.join(F.broadcast(m))
        .join(F.broadcast(cut))
        .select(
            id_col,
            "p_micro",
            "rank",
            "m",
            (F.col("rank") <= F.coalesce(F.col("__cut"), F.lit(0))).alias("reject"),
        )
    )


def icc_oneway(
    df: DataFrame,
    item_col: str = "item_id",
    value_col: str = "rating",
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1,1)
    (Shrout & Fleiss 1979, case 1) — reliability of single ratings when
    each item is rated by a (different) set of k raters: with n items
    and k ratings per item, ``ICC = (MSB − MSW) / (MSB + (k−1)·MSW)``
    from the one-way ANOVA mean squares.

    All-integer identity: with integer ratings, per-item sums S_j,
    grand sum G and Σx², define ``A = n·ΣS_j² − G² (= n·k·SSB)`` and
    ``B = k·Σx² − ΣS_j² (= k·SSW)`` — both exact DECIMAL. Then
    ``MSB = A/(n·k·(n−1))`` and ``MSW = B/(n·k·(k−1))`` share the
    common denominator n·k·(n−1)·(k−1), so the ICC collapses to one
    truncating micro DIV of two exact integers:
    ``num = A·(k−1) − B·(n−1)``, ``den = A·(k−1) + B·(n−1)·(k−1)``.
    No float enters before the single DIV. Uniform k is the one-way
    design's contract (derived as total DIV n; supply a balanced
    rating frame). Rows with a NULL item or value drop.

    Scale shape: the item margin totals (``_margin_totals``: one
    item-keyed partial-agg shuffle, one 1-row reduce). No windows.

    Returns one row (n_items, k, icc_micro).
    """
    t = _margin_totals(
        df.dropna(subset=[item_col, value_col]),
        item_col,
        F.col(value_col).cast("long"),
    ).select(
        F.col("keys").alias("n"),
        F.expr("cells DIV keys").alias("k"),
        F.expr("keys * sk2 - sx * sx").alias("a"),
        F.expr("(cells DIV keys) * sx2 - sk2").alias("b"),
    )
    return t.select(
        F.col("n").alias("n_items"),
        "k",
        F.expr(
            "CAST((a * (k - 1) - b * (n - 1)) * 1000000"
            " DIV NULLIF(a * (k - 1) + b * (n - 1) * (k - 1), 0) AS BIGINT)"
        ).alias("icc_micro"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_micro_col: str = "score_micro",
    label_col: str = "y",
    n_bins: int = 10,
) -> DataFrame:
    """Expected calibration error (Naeini et al. 2015) — the scalar
    companion to the reliability table (calibration_bins): bin
    predictions by score into ``n_bins`` equal-width bins and average
    |accuracy − confidence| weighted by bin mass:
    ``ECE = Σ_b (n_b/N)·|acc_b − conf_b|``.

    All-integer identity: scores are micro integers in [0, 1e6], so
    per bin ``|acc_b − conf_b|·n_b·1e6 = |pos_b·1e6 − Σ score_micro|``
    is an EXACT integer (both terms are bin-level integer sums), and
    ``ECE_micro = Σ_b |pos_b·1e6 − conf_sum_b| DIV N`` — a single
    truncating integer division. No float enters at any point.

    Scale shape: one bounded-key partial-agg shuffle (n_bins keys),
    one reduce. The bin id is a pure projection.

    Returns one row (n, n_bins, ece_micro).
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1 (got {n_bins})")
    s = F.col(score_micro_col).cast("long")
    bin_id = F.least(
        F.expr(f"CAST({score_micro_col} AS BIGINT) * {n_bins} DIV 1000000"),
        F.lit(n_bins - 1).cast("long"),
    )
    per = (
        df.select(
            bin_id.alias("__bin"),
            s.alias("__s"),
            F.col(label_col).cast("long").alias("__y"),
        )
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("__y").cast("long").alias("pos_b"),
            F.sum("__s").cast("long").alias("conf_sum_b"),
        )
    )
    return per.groupBy().agg(
        F.sum("n_b").cast("long").alias("n"),
        F.lit(n_bins).cast("long").alias("n_bins"),
        F.expr(
            "CAST(SUM(ABS(CAST(pos_b AS DECIMAL(38,0)) * 1000000"
            " - conf_sum_b)) DIV NULLIF(SUM(n_b), 0) AS BIGINT)"
        ).alias("ece_micro"),
    )


def mcc_binary(
    df: DataFrame,
    label_col: str = "y",
    pred_col: str = "yhat",
) -> DataFrame:
    """Matthews correlation coefficient for a binary classifier —
    the single-number confusion summary robust to class imbalance
    (unlike accuracy): ``MCC = (TP·TN − FP·FN) /
    √((TP+FP)(TP+FN)(TN+FP)(TN+FN))``.

    Exactness: the four cells are exact BIGINT counts from one
    aggregate pass; the numerator and the four marginal factors are
    exact DECIMAL products; the only transcendental is ONE sqrt of an
    exact integer — a fixed expression both engines evaluate on the
    identical value — then one floor to micro.

    Scale shape: one reduce (conditional-sum aggregate), no shuffle
    beyond the partial-agg merge. Returns one row
    (tp, fp, tn, fn, mcc_micro).
    """
    y = F.col(label_col).cast("boolean")
    p = F.col(pred_col).cast("boolean")
    cells = df.groupBy().agg(
        F.sum((y & p).cast("long")).cast("long").alias("tp"),
        F.sum(((~y) & p).cast("long")).cast("long").alias("fp"),
        F.sum(((~y) & (~p)).cast("long")).cast("long").alias("tn"),
        F.sum((y & (~p)).cast("long")).cast("long").alias("fn"),
    )
    return cells.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.expr(
            """CAST(FLOOR(
              CAST(CAST(tp AS DECIMAL(38,0)) * tn
                   - CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE)
              / NULLIF(SQRT(CAST(
                  (CAST(tp AS DECIMAL(38,0)) + fp)
                  * (CAST(tp AS DECIMAL(38,0)) + fn)
                  * (CAST(tn AS DECIMAL(38,0)) + fp)
                  * (CAST(tn AS DECIMAL(38,0)) + fn) AS DOUBLE)), 0.0)
              * 1000000) AS BIGINT)"""
        ).alias("mcc_micro"),
    )


def cusum_detect(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    target: int,
    slack: int,
    threshold: int,
) -> DataFrame:
    """One-sided CUSUM change detection (Page 1954) per series — the
    sequential drift alarm for per-entity metric streams (the temporal
    complement to ks_drift/psi_drift's batch two-sample tests): with
    integer observations x_t, the upper CUSUM
    ``S_t = max(0, S_{t−1} + (x_t − target − slack))`` alarms at the
    first t where S_t > threshold.

    The textbook recursion looks inherently sequential, but the
    clamped sum has a closed prefix form: with
    ``c_t = Σ_{≤t}(x − target − slack)``,
    ``S_t = c_t − min(0, min_{≤t} c)`` — a running sum and a running
    min, BOTH plain prefix windows, so the whole detector is two
    window passes per series partition, exact BIGINT arithmetic
    throughout.

    Scale shape: one series-partitioned window pass (rows stay in
    their partition; spillable sort within series), one per-series
    aggregate. No global sort, no iteration.

    Returns (group, n, max_cusum, first_alarm_step) — first_alarm_step
    NULL when the series never alarms.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = F.col(value_col).cast("long") - F.lit(int(target)) - F.lit(int(slack))
    walk = df.select(
        F.col(group_col).alias("group"),
        F.col(order_col).alias("__o"),
        F.sum(d).over(w).cast("long").alias("__c"),
    ).select(
        "group",
        "__o",
        (
            F.col("__c")
            - F.least(
                F.lit(0).cast("long"),
                F.min("__c").over(
                    Window.partitionBy("group")
                    .orderBy(F.col("__o"))
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
        ).alias("__s"),
        F.row_number()
        .over(Window.partitionBy("group").orderBy(F.col("__o")))
        .cast("long")
        .alias("__step"),
    )
    return walk.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("__s").cast("long").alias("max_cusum"),
        F.min(
            F.when(F.col("__s") > F.lit(int(threshold)), F.col("__step"))
        ).cast("long").alias("first_alarm_step"),
    )


def cusum_two_sided(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    target: int,
    slack: int,
    threshold: int,
) -> DataFrame:
    """Two-sided CUSUM change detection (Page 1954) per series — the
    symmetric completion of ``cusum_detect`` (VERDICT r13 #6): the
    upper walk ``S⁺_t = max(0, S⁺ + (x − target − slack))`` catches
    upward drift, the lower walk ``S⁻_t = max(0, S⁻ + (target − slack
    − x))`` catches downward drift, and the series alarms at the first
    step where EITHER exceeds the threshold. A one-sided monitor on a
    metric that can degrade both ways (latency up, revenue down) is
    half a detector.

    Same closed prefix form as the one-sided operator, mirrored: each
    clamped recursion is a running sum minus its clamped running min,
    and the lower walk's prefix sum is just the NEGATED upper-deviation
    sum shifted by 2·slack — so both walks come out of ONE window pass
    per series partition (the two prefix sums share the window frame),
    exact BIGINT throughout.

    Returns (group, n, max_cusum_upper, max_cusum_lower,
    first_alarm_step, alarm_side) — alarm_side 'upper'/'lower'/'both'
    by which walk breached at the first alarm step, NULL when the
    series never alarms.
    """
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wo = Window.partitionBy(group_col).orderBy(F.col(order_col))
    dup = F.col(value_col).cast("long") - F.lit(int(target)) - F.lit(int(slack))
    ddn = F.lit(int(target)) - F.lit(int(slack)) - F.col(value_col).cast("long")
    thr = F.lit(int(threshold))
    walk = (
        df.select(
            F.col(group_col).alias("group"),
            F.col(order_col).alias("__o"),
            F.sum(dup).over(wcum).cast("long").alias("__cu"),
            F.sum(ddn).over(wcum).cast("long").alias("__cd"),
            F.row_number().over(wo).cast("long").alias("__step"),
        )
        .select(
            "group",
            "__step",
            (
                F.col("__cu")
                - F.least(
                    F.lit(0).cast("long"),
                    F.min("__cu").over(
                        Window.partitionBy("group")
                        .orderBy(F.col("__step"))
                        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                    ),
                )
            ).alias("__su"),
            (
                F.col("__cd")
                - F.least(
                    F.lit(0).cast("long"),
                    F.min("__cd").over(
                        Window.partitionBy("group")
                        .orderBy(F.col("__step"))
                        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                    ),
                )
            ).alias("__sd"),
        )
    )
    agg = walk.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("__su").cast("long").alias("max_cusum_upper"),
        F.max("__sd").cast("long").alias("max_cusum_lower"),
        F.min(
            F.when((F.col("__su") > thr) | (F.col("__sd") > thr), F.col("__step"))
        ).cast("long").alias("first_alarm_step"),
        F.min(
            F.when(
                (F.col("__su") > thr) | (F.col("__sd") > thr),
                F.struct(
                    F.col("__step").alias("step"),
                    F.when((F.col("__su") > thr) & (F.col("__sd") > thr), "both")
                    .when(F.col("__su") > thr, "upper")
                    .otherwise("lower")
                    .alias("side"),
                ),
            )
        ).alias("__first"),
    )
    return agg.select(
        "group",
        "n",
        "max_cusum_upper",
        "max_cusum_lower",
        "first_alarm_step",
        F.col("__first.side").alias("alarm_side"),
    )


def theil_index(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Theil T inequality index per group (Theil 1967) — the
    information-theoretic concentration measure for positive values
    (spend, token counts, cluster sizes): for group g with members x_i
    and mean μ_g, ``T_g = (1/n_g) Σ (x_i/μ_g)·ln(x_i/μ_g)``; 0 = all
    equal, ln(n) = all mass on one member.

    Determinism (the ln-micro discipline): μ_g is fixed as the IEEE
    double ``CAST(exact DECIMAL sum AS DOUBLE) / n_g``; each member's
    term ``(x/μ)·ln(x/μ)`` is evaluated on identical doubles in both
    engines and floored to micro AT BIRTH, so the group reduction is
    an exact BIGINT sum (order-independent, hash-gate-safe); the mean
    is one integer DIV. Rows with x <= 0 are excluded (Theil's
    domain), n_g counts the included rows.

    Scale shape: one group-keyed partial-agg shuffle for (sum, n), a
    bounded group-stats broadcast back onto the members (group
    cardinality = the GROUP domain, not the row count), then a second
    partial-agg sum. Two shuffles total, no windows.

    Returns (group, n, theil_micro) per group.
    """
    pos = df.filter(F.col(value_col) > 0).select(
        F.col(group_col).alias("group"),
        F.col(value_col).cast("decimal(38,6)").alias("__x"),
    )
    stats = pos.groupBy("group").agg(
        F.sum("__x").alias("__sum"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # no broadcast hint: the stats side is group-domain-sized, which is
    # USUALLY tiny but not bounded by construction — AQE broadcasts it
    # at runtime when it is actually small (repo convention: never
    # force-broadcast anything that scales with an input).
    joined = pos.join(stats, "group").select(
        "group",
        "n",
        F.expr(
            """CAST(FLOOR(
              (CAST(__x AS DOUBLE) / (CAST(__sum AS DOUBLE) / n))
              * LN(CAST(__x AS DOUBLE) / (CAST(__sum AS DOUBLE) / n))
              * 1000000) AS BIGINT)"""
        ).alias("__t_micro"),
    )
    return joined.groupBy("group").agg(
        F.max("n").alias("n"),
        F.expr("CAST(SUM(__t_micro) DIV MAX(n) AS BIGINT)").alias("theil_micro"),
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation — Pearson's r over average ranks, the
    monotone-association measure robust to outliers and nonlinearity
    (the value-based complement to kendall_tau's pair-concordance).

    Computed WITHOUT a global row sort (the 100 TB antipattern): each
    variable collapses to its distinct-VALUE counts; average ranks fall
    out of one window over that bounded-domain aggregate as exact
    HALF-integers, carried as DOUBLED integers (2·rank = 2·cum_before +
    count + 1). Rows join their two doubled ranks back (hash joins on
    value), and rho is the textbook moment identity over exact DECIMAL
    sums of doubled ranks — numerator and the two variance factors are
    exact integers, so the only float is ONE division by the sqrt of
    their exact product, floored to micro.

    Scale shape: ONE pass over the rows collapses to the (x, y) CELL
    counts — bounded by the product of the two value domains, the same
    boundedness assumption the per-variable rank windows already make —
    and the cell table is materialized (localCheckpoint, the house
    idiom for bounded frames). Every post-scan step — rank windows,
    rank joins, count-weighted moment sums — is cell-scale. NULLs in
    either column drop (documented).

    Returns one row (n, rho_micro).
    """
    base = df.select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    cells = (
        base.groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).cast("long").alias("__cn"))
        .localCheckpoint(eager=True)
    )

    def doubled_ranks(col: str) -> DataFrame:
        vc = cells.groupBy(col).agg(F.sum("__cn").cast("long").alias("c"))
        return vc.select(col, _doubled_midrank("c", col).alias(f"{col}_2r"))

    rx = doubled_ranks("__x")
    ry = doubled_ranks("__y")
    ranked = cells.join(rx, "__x").join(ry, "__y")
    cn = F.col("__cn").cast("decimal(38,0)")
    tot = ranked.groupBy().agg(
        F.sum("__cn").cast("long").alias("n"),
        F.sum(F.col("__x_2r").cast("decimal(38,0)") * cn).alias("su"),
        F.sum(F.col("__y_2r").cast("decimal(38,0)") * cn).alias("sv"),
        F.sum(
            F.col("__x_2r").cast("decimal(38,0)") * F.col("__x_2r") * cn
        ).alias("suu"),
        F.sum(
            F.col("__y_2r").cast("decimal(38,0)") * F.col("__y_2r") * cn
        ).alias("svv"),
        F.sum(
            F.col("__x_2r").cast("decimal(38,0)") * F.col("__y_2r") * cn
        ).alias("suv"),
    )
    return tot.select(
        "n",
        F.expr(
            """CAST(FLOOR(
              CAST(n * suv - su * sv AS DOUBLE)
              / NULLIF(SQRT(CAST(n * suu - su * su AS DOUBLE)
                       * CAST(n * svv - sv * sv AS DOUBLE)), 0.0)
              * 1000000) AS BIGINT)"""
        ).alias("rho_micro"),
    )


def goodman_kruskal_gamma(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Goodman-Kruskal gamma for two ORDINAL variables (Goodman &
    Kruskal 1954) — concordance over the untied pairs only:
    ``gamma = (C − D)/(C + D)``, the ordinal-association measure that,
    unlike kendall_tau's tau-a, ignores ties entirely (right for
    coarse scales: quality buckets, priority bands, star ratings).

    Never pairs rows: the data collapses to its (x, y) CONTINGENCY
    cells (bounded by the ordinal domains), and C/D are sums of
    n₁·n₂ over strictly-ordered CELL pairs — a self-join of the cell
    table against itself (|cells|² comparisons, domain-bounded, not
    data-bounded). Counts are exact DECIMAL; gamma is one truncating
    micro DIV.

    Returns one row (concordant, discordant, gamma_micro).
    """
    # Optimization r14: the cell table is DOMAIN-bounded (the operator's
    # whole premise), but it is referenced twice by the self-join below
    # — unmaterialized, each side re-scanned and re-aggregated the full
    # input. localCheckpoint (the house bounded-frame idiom) makes the
    # source aggregation run once.
    cells = (
        df.groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    a = cells.alias("a")
    b = cells.alias("b")
    pair = a.join(
        b,
        (F.col("a.x") < F.col("b.x"))
        & (F.col("a.y") != F.col("b.y")),
    ).select(
        (F.col("a.y") < F.col("b.y")).alias("conc"),
        (F.col("a.c").cast("decimal(38,0)") * F.col("b.c")).alias("w"),
    )
    tot = pair.groupBy().agg(
        F.sum(F.when(F.col("conc"), F.col("w")).otherwise(F.lit(0))).alias("cc"),
        F.sum(F.when(~F.col("conc"), F.col("w")).otherwise(F.lit(0))).alias("dd"),
    )
    return tot.select(
        F.col("cc").cast("long").alias("concordant"),
        F.col("dd").cast("long").alias("discordant"),
        F.expr(
            "CAST((cc - dd) * 1000000 DIV NULLIF(cc + dd, 0) AS BIGINT)"
        ).alias("gamma_micro"),
    )


def page_hinkley(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    delta_micro: int,
    lambda_micro: int,
) -> DataFrame:
    """Page-Hinkley mean-shift detection per series (Page 1954; the
    Gama et al. 2004 streaming form) — the SELF-CALIBRATING drift
    alarm: unlike cusum_detect's fixed target, PH measures each
    observation against the series' own RUNNING mean,
    ``m_t = Σ_{i≤t} (x_i − x̄_i − δ)``, and alarms when
    ``m_t − min_{s≤t} m_s > λ``.

    Exactness: per-row deviation ``x·1e6 − (cumsum·1e6 DIV i) − δ`` is
    integer arithmetic with ONE truncating DIV per row (the running
    mean), mirrored verbatim by an oracle; m_t is then a second exact
    prefix sum and the running min a third window — all on the same
    series partition, one window pass in the plan.

    Returns (group, n, max_ph, first_alarm_step) — first_alarm_step
    NULL when the series never alarms.
    """
    wo = Window.partitionBy(group_col).orderBy(F.col(order_col))
    w = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x = F.col(value_col).cast("long")
    stepped = df.select(
        F.col(group_col).alias("group"),
        F.col(order_col).alias("__o"),
        F.row_number().over(wo).cast("long").alias("__i"),
        F.sum(x).over(w).cast("long").alias("__cum"),
        x.alias("__x"),
    ).select(
        "group",
        "__o",
        "__i",
        F.expr(
            f"__x * 1000000 - (__cum * 1000000 DIV __i) - {int(delta_micro)}"
        ).cast("long").alias("__dev"),
    )
    w2 = (
        Window.partitionBy("group")
        .orderBy(F.col("__o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The running-min window orders by the SAME physical column as the
    # two windows before it (__o, which __i follows by construction) so
    # all three windows share one (group, __o) sort — ordering by the
    # derived __i forced Catalyst to re-sort (optimization r14).
    walk = stepped.select(
        "group",
        "__i",
        "__o",
        F.sum("__dev").over(w2).cast("long").alias("__m"),
    ).select(
        "group",
        "__i",
        (F.col("__m") - F.min("__m").over(
            Window.partitionBy("group")
            .orderBy(F.col("__o"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )).alias("__ph"),
    )
    return walk.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("__ph").cast("long").alias("max_ph"),
        F.min(
            F.when(F.col("__ph") > F.lit(int(lambda_micro)), F.col("__i"))
        ).cast("long").alias("first_alarm_step"),
    )


def winsorized_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    alpha_num: int = 5,
    alpha_den: int = 100,
) -> DataFrame:
    """Winsorized mean per group — the outlier-robust location estimate
    that CLAMPS the tails instead of dropping them (trimmed_mean's
    sibling; winsorizing keeps n constant, so downstream variance math
    stays honest): values below the α-quantile pull up to it, above
    the (1−α)-quantile pull down, then a plain mean.

    Quantiles are type-1 (inverted-CDF) over the distinct-VALUE
    aggregate: lo = smallest v with cum ≥ ⌈α·n⌉, hi = smallest v with
    cum ≥ ⌈(1−α)·n⌉ — exact integer ceilings (``(n·num + den − 1) DIV
    den``), no interpolation, engine-exact. One bounded window per
    group over the value domain, clamp as a join + projection, exact
    integer mean (one truncating micro DIV).

    Returns (group, n, lo, hi, wmean_micro). Input values must be
    integers (quantize upstream).
    """
    if not (0 < alpha_num * 2 < alpha_den):
        raise ValueError("alpha must be in (0, 0.5)")
    x = F.col(value_col).cast("long")
    vc = df.groupBy(F.col(group_col).alias("group"), x.alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = (
        Window.partitionBy("group")
        .orderBy(F.col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.select(
        "group", "v", "c", F.sum("c").over(w).cast("long").alias("cum"),
        F.sum("c").over(
            Window.partitionBy("group").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("n"),
    )
    lo_t = F.expr(f"(n * {int(alpha_num)} + {int(alpha_den)} - 1) DIV {int(alpha_den)}")
    hi_t = F.expr(
        f"(n * {int(alpha_den - alpha_num)} + {int(alpha_den)} - 1)"
        f" DIV {int(alpha_den)}"
    )
    # Optimization r14: the clamp quantiles become two more windows over
    # the SAME group partition of the cell table (no extra exchange),
    # and the clamped mean is the count-weighted cell sum
    # Σ c·clamp(v) — arithmetically identical to the former row-level
    # sum — so the row stream is scanned and aggregated exactly ONCE;
    # the previous form re-scanned the input and hash-joined the bounds
    # back onto every row.
    wg = Window.partitionBy("group").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bounded = cum.select(
        "group",
        "v",
        "c",
        "n",
        F.min(F.when(F.col("cum") >= lo_t, F.col("v"))).over(wg).cast("long").alias("lo"),
        F.min(F.when(F.col("cum") >= hi_t, F.col("v"))).over(wg).cast("long").alias("hi"),
    )
    return bounded.groupBy("group").agg(
        F.max("n").alias("n"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.expr(
            "CAST(SUM(c * GREATEST(lo, LEAST(hi, v))) * 1000000 DIV MAX(n)"
            " AS BIGINT)"
        ).alias("wmean_micro"),
    )


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table — the campaign-targeting readout
    for a ranking score ("if we act on the top 10%/20%/…, what share
    of all positives do we capture, and at what lift over random?").

    Computed WITHOUT a global row sort: scores collapse to their
    distinct-VALUE counts (n, positives per score), one window over
    that bounded-domain aggregate (descending score) yields cumulative
    coverage, and each distinct-score block lands in the bucket of its
    cumulative END position: ``bucket = (cum − 1)·B DIV n + 1``
    (documented convention: a tie-block spans no bucket boundary — it
    belongs wholly to the bucket its last row reaches; bucket sizes
    are therefore approximate under heavy ties, which the emitted
    cum_n makes visible). All counts exact integers; the two rates are
    truncating micro DIVs.

    Returns (bucket, cum_n, cum_pos, capture_micro, lift_micro) — one
    row per non-empty bucket, capture = cum_pos/total_pos, lift =
    (cum_pos/cum_n)/(total_pos/n).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1 (got {n_buckets})")
    y = F.col(label_col).cast("long")
    vc = df.groupBy(F.col(score_col).alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(y).cast("long").alias("p"),
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vc.select(
        F.sum("c").over(w).cast("long").alias("cum"),
        F.sum("p").over(w).cast("long").alias("cum_p"),
        F.sum("c").over(wall).cast("long").alias("n"),
        F.sum("p").over(wall).cast("long").alias("tp"),
    )
    per_bucket = (
        cum.select(
            F.expr(f"(cum - 1) * {n_buckets} DIV n + 1").alias("bucket"),
            "cum",
            "cum_p",
            "n",
            "tp",
        )
        .groupBy("bucket")
        .agg(
            F.max("cum").alias("cum_n"),
            F.max(F.struct(F.col("cum"), F.col("cum_p")))["cum_p"].alias(
                "cum_pos"
            ),
            F.max("n").alias("n"),
            F.max("tp").alias("tp"),
        )
    )
    return per_bucket.select(
        "bucket",
        "cum_n",
        "cum_pos",
        F.expr(
            "CAST(cum_pos * 1000000 DIV NULLIF(tp, 0) AS BIGINT)"
        ).alias("capture_micro"),
        F.expr(
            "CAST(CAST(cum_pos AS DECIMAL(38,0)) * n * 1000000"
            " DIV NULLIF(CAST(cum_n AS DECIMAL(38,0)) * tp, 0) AS BIGINT)"
        ).alias("lift_micro"),
    )


def cronbach_alpha(
    df: DataFrame,
    subject_col: str = "subject",
    item_col: str = "item_id",
    value_col: str = "score",
) -> DataFrame:
    """Cronbach's alpha — internal-consistency reliability of a k-item
    battery (does the item set measure ONE construct?), the scale-level
    companion to item_analysis's per-item diagnostics:

        alpha = k/(k−1) · (1 − Σ_i var_i / var_total)

    over subject × item integer scores (population variances; the n²
    denominators cancel, so the ratio is exact).

    All-integer identity: over n subjects, the item variances sum to
    ``num1 = Σ_i (n·Σx_i² − s_i²) = n·Σx² − Σ s_i²`` (s_i the item
    sums); per subject totals T give ``num2 = n·ΣT² − G²``; then
    ``alpha = k·(num2 − num1) / ((k−1)·num2)`` — one truncating micro
    DIV of exact DECIMAL integers. A complete battery (every subject
    scores every item once) is the contract. Rows with a NULL subject,
    item or score drop.

    Scale shape: the subject and item margin totals
    (``_margin_totals``), crossed. No windows.

    Returns one row (n_subjects, k, alpha_micro).
    """
    cells = df.dropna(subset=[subject_col, item_col, value_col])
    x = F.col(value_col).cast("long")
    items = _margin_totals(cells, item_col, x).select(
        F.col("keys").alias("k"), F.col("sk2").alias("si2")
    )
    t = _margin_totals(cells, subject_col, x).crossJoin(items).select(
        F.col("keys").alias("n_subjects"),
        "k",
        F.expr("keys * sx2 - si2").alias("num1"),
        F.expr("keys * sk2 - sx * sx").alias("num2"),
    )
    return t.select(
        "n_subjects",
        "k",
        F.expr(
            "CAST(k * (num2 - num1) * 1000000"
            " DIV NULLIF((k - 1) * num2, 0) AS BIGINT)"
        ).alias("alpha_micro"),
    )


def nelson_aalen(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard per group — kaplan_meier's
    estimator sibling on the SAME risk-set aggregate: instead of the
    survival product, the cumulative hazard ``H(t) = Σ_{u≤t} d_u/n_u``
    (the quantity additive-hazards models and log-rank-style
    comparisons consume directly; S ≈ exp(−H) ties the two).

    Exactness: per-time increments ``d·1e6 DIV n`` are truncating
    integer DIVs AT BIRTH (each < 1e6 shaved by < 1 micro, the same
    compounding bound the micro-nat discipline documents), and the
    cumulative sum is an exact integer window over the (group, t)
    aggregate — order-independent, hash-gate-safe.

    Shape: identical to kaplan_meier — one (group, t) partial agg,
    windows over the aggregate only.

    Returns (group, t, n_risk, n_events, cum_hazard_micro).
    """
    rows = df.select(
        F.col(group_col).alias("group"),
        F.col(duration_col).cast("long").alias("t"),
        F.col(event_col).cast("boolean").alias("__e"),
    ).filter(F.col("t").isNotNull())
    per_t = rows.groupBy("group", "t").agg(
        F.sum(F.when(F.col("__e"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("__e"), 0).otherwise(1)).cast("long").alias("c"),
    )
    w_tot = Window.partitionBy("group")
    w_before = (
        Window.partitionBy("group").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("group").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    leave = (F.col("d") + F.col("c")).cast("long")
    n_risk = (
        F.sum(leave).over(w_tot)
        - F.coalesce(F.sum(leave).over(w_before), F.lit(0))
    ).cast("long")
    staged = per_t.select(
        "group", "t", "d", n_risk.alias("n_risk")
    ).withColumn("__h", F.expr("d * 1000000 DIV n_risk").cast("long"))
    return staged.select(
        "group",
        "t",
        "n_risk",
        F.col("d").alias("n_events"),
        F.sum("__h").over(w_cum).cast("long").alias("cum_hazard_micro"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """1-Wasserstein (earth-mover) distance between two groups' value
    distributions — the INTEGRAL drift measure next to ks_drift's
    supremum (KS says "the worst CDF gap"; W1 says "how much mass must
    move how far", the quantity that tracks gradual shift a sup-norm
    misses): for 1-D distributions, ``W1 = ∫ |F_a(v) − F_b(v)| dv``,
    exactly a sum over the pooled distinct values of
    ``|cum_a·n_b − cum_b·n_a| · (v_next − v)`` scaled by 1/(n_a·n_b).

    Exactness: EVERYTHING is integer — cumulative counts from one
    window over the pooled distinct-VALUE aggregate, the segment gap,
    the cross products in DECIMAL — and the single division to micro
    happens ONCE at the end. No float enters at any point (the rare
    fully-exact transcendental-free distance).

    Scale shape: one partial-agg shuffle to the pooled value domain,
    one value-domain window (the rank_sum_test class), a 1-row reduce.
    Values must be integers (quantize upstream). NULL values drop;
    w1_micro is NULL when a group is empty.

    Returns one row (n_a, n_b, w1_micro) — w1 in VALUE units × 1e-6.
    """
    vc = _two_group_value_counts(df, group_col, value_col, group_a, group_b)
    v = F.col("v").cast("long")
    terms = vc.select(
        "tot_a",
        "tot_b",
        F.expr(
            "ABS(CAST(cum_a AS DECIMAL(38,0)) * tot_b"
            " - CAST(cum_b AS DECIMAL(38,0)) * tot_a)"
        ).alias("__gap"),
        # the last value has no segment to its right
        F.coalesce(F.lead(v).over(Window.orderBy("v")) - v, F.lit(0)).alias("__dv"),
    )
    return terms.groupBy().agg(
        *_group_totals(),
        F.expr(
            "CAST(SUM(__gap * __dv) * 1000000"
            " DIV NULLIF(CAST(MAX(tot_a) AS DECIMAL(38,0)) * MAX(tot_b), 0)"
            " AS BIGINT)"
        ).alias("w1_micro"),
    )


def roc_points(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """ROC curve points — (threshold, TPR, FPR) at every distinct score
    (predict positive when score ≥ threshold), the curve behind
    auc_balance's scalar: what you plot, and where you read off an
    operating point under a false-positive budget.

    Computed from the distinct-VALUE aggregate (positives/negatives
    per score, one DESCENDING cumulative window — the rank_sum_test
    class); rates are truncating micro DIVs of exact counts. Curve
    cardinality = |distinct scores| (value-domain-bounded; quantize
    the score upstream to cap it — the calibration_bins discipline).

    Returns (threshold, tp, fp, tpr_micro, fpr_micro) ordered by
    threshold (one row per distinct score).
    """
    y = F.col(label_col).cast("long")
    vc = df.groupBy(F.col(score_col).alias("threshold")).agg(
        F.sum(y).cast("long").alias("p"),
        F.sum(F.lit(1) - y).cast("long").alias("q"),
    )
    return _roc_points_from_value_counts(vc)


def _roc_points_from_value_counts(vc: DataFrame) -> DataFrame:
    """roc_points' curve tail over a prebuilt (threshold, p, q)
    distinct-score aggregate — split out (optimization r14) so a
    caller that already holds a value-counts table (e.g. because the
    scoring transform is a monotone function of a raw score whose
    min/max the caller needs too) can reuse it instead of re-scanning
    the corpus. Same expressions, same results."""
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return vc.select(
        "threshold",
        F.sum("p").over(w).cast("long").alias("tp"),
        F.sum("q").over(w).cast("long").alias("fp"),
        F.expr(
            "CAST(SUM(p) OVER (ORDER BY threshold DESC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000"
            " DIV NULLIF(SUM(p) OVER (), 0) AS BIGINT)"
        ).alias("tpr_micro"),
        F.expr(
            "CAST(SUM(q) OVER (ORDER BY threshold DESC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000"
            " DIV NULLIF(SUM(q) OVER (), 0) AS BIGINT)"
        ).alias("fpr_micro"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    step form) — the ranking-quality scalar that, unlike ROC-AUC,
    stays honest under extreme class imbalance (the retrieval/filter
    regime): descending by score, ``AP = Σ_k P@k · [y_k = 1] / P``.

    Tie convention (documented, oracle-mirrored): ties are evaluated
    as a BLOCK at the block's END — every positive in a tied block
    earns the precision at the block boundary (the pessimistic
    convention; optimistic/interpolated variants differ only within
    blocks). Per block the contribution is
    ``pos_b · ((cum_pos·1e6) DIV cum_n)`` — one truncating DIV per
    distinct score — and the final mean is one more DIV by P.

    Scale shape: distinct-score aggregate + one descending cumulative
    window (value-domain-bounded), 1-row reduce.

    Returns one row (n, n_pos, ap_micro).
    """
    y = F.col(label_col).cast("long")
    vc = df.groupBy(F.col(score_col).alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(y).cast("long").alias("p"),
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vc.select(
        "p",
        F.sum("c").over(w).cast("long").alias("cum"),
        F.sum("p").over(w).cast("long").alias("cum_p"),
    )
    return cum.groupBy().agg(
        F.expr("CAST(MAX(cum) AS BIGINT)").alias("n"),
        F.sum("p").cast("long").alias("n_pos"),
        F.expr(
            "CAST(SUM(p * ((cum_p * 1000000) DIV cum))"
            " DIV NULLIF(SUM(p), 0) AS BIGINT)"
        ).alias("ap_micro"),
    )


def benford_digits(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Benford's-law first-digit audit — the classic fabricated-data /
    corrupted-feed screen for naturally-scaled positive quantities
    (amounts, populations, counts): lawful data has
    ``P(d) = log10(1 + 1/d)``; uniform or hand-typed data doesn't.

    The first digit comes from the decimal STRING of the positive
    integer value (exact in every engine — no float log10 at
    power-of-ten boundaries); the nine expected probabilities are
    Python-computed double literals embedded in the plan (the ndcg
    discount-table discipline), and each digit's chi-square term
    ``(n_d − N·p_d)²/(N·p_d)`` is ONE fixed double expression floored
    to micro. Non-positive values drop (Benford's domain).

    Scale shape: one projection + one 9-key partial-agg shuffle, a
    1-row total broadcast. Returns ALL 9 rows (digit, n,
    expected_micro, chi2_term_micro) — unobserved digits appear with
    ``n = 0`` and contribute their full ``(0 − N·p_d)²/(N·p_d) =
    N·p_d`` term (ADVICE r13: dropping them understated the statistic
    exactly for the most anomalous feeds, e.g. a single-digit
    corpus). Σ chi2_term_micro vs a chi-square(8) critical value is
    the caller's alarm. Requires ≥1 positive value (N = 0 yields
    NULL terms — nothing to audit).
    """
    import math

    probs = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
    v = F.col(value_col).cast("long")
    observed = (
        df.filter(v > 0)
        .select(F.substring(v.cast("string"), 1, 1).cast("long").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("long").alias("digit")
    )
    digits = (
        spine.join(observed, "digit", "left")
        .select("digit", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"))
    )
    tot = digits.groupBy().agg(F.sum("n").cast("long").alias("__N"))
    p_expr = "CASE digit " + " ".join(
        f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in probs.items()
    ) + " END"
    return (
        digits.join(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr(
                f"CAST(FLOOR(({p_expr}) * 1000000) AS BIGINT)"
            ).alias("expected_micro"),
            F.expr(
                f"""CAST(FLOOR(
                  (n - __N * ({p_expr})) * (n - __N * ({p_expr}))
                  / (__N * ({p_expr})) * 1000000) AS BIGINT)"""
            ).alias("chi2_term_micro"),
        )
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Isotonic (monotone) calibration of a binary-outcome rate against
    a score — the nonparametric recalibration map (PAVA fit) that
    Platt scaling can't match when the miscalibration isn't sigmoid:
    fitted rates are the pool-adjacent-violators solution, computed
    here via the MINIMAX identity ``ŷ_i = max_{j≤i} min_{k≥i}
    avg(y_j..y_k)`` — no sequential pooling loop, so the whole fit is
    three bounded joins/aggregates.

    CONTRACT: the score must be pre-quantized to a BOUNDED level
    domain (the calibration_bins discipline — e.g. 100 levels): the
    minimax enumerates level SEGMENTS, |levels|³/6 tiny rows for ~100
    levels, and none of it scales with the row count (rows only feed
    the per-level aggregate).

    Determinism: segment averages are divisions of exact integer
    cumulative sums (identical doubles in both engines); min/max over
    those doubles are order-independent; ONE floor to micro at the
    end.

    Returns (score, n, pos, iso_micro) per level, iso monotone
    non-decreasing in score.
    """
    y = F.col(label_col).cast("long")
    lv = df.groupBy(F.col(score_col).alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("pos"),
    )
    w = Window.orderBy(F.col("s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = lv.select(
        "s",
        "n",
        "pos",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("pos").over(w).cast("long").alias("cp"),
    )
    a = cum.select(
        F.col("s").alias("j"),
        (F.col("cn") - F.col("n")).alias("cn_before"),
        (F.col("cp") - F.col("pos")).alias("cp_before"),
    )
    b = cum.select(
        F.col("s").alias("k"), F.col("cn").alias("cn_k"), F.col("cp").alias("cp_k")
    )
    segs = a.join(b, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cp_k") - F.col("cp_before")).cast("double")
            / (F.col("cn_k") - F.col("cn_before")).cast("double")
        ).alias("avg"),
    )
    lev = cum.select(F.col("s").alias("i"))
    tri = lev.join(
        segs, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i"))
    )
    inner = tri.groupBy("i", "j").agg(F.min("avg").alias("minavg"))
    fit = inner.groupBy("i").agg(
        F.floor(F.max("minavg") * F.lit(1_000_000.0)).cast("long").alias(
            "iso_micro"
        )
    )
    return (
        cum.join(fit, cum["s"] == fit["i"])
        .select("s", "n", "pos", "iso_micro")
        .withColumnRenamed("s", "score")
    )


def diebold_mariano(
    df: DataFrame,
    loss_a_col: str,
    loss_b_col: str,
) -> DataFrame:
    """Diebold-Mariano forecast-comparison test (Diebold & Mariano
    1995, the iid-differential form) — is forecaster A's loss
    significantly different from B's on the same targets? The
    decision-grade companion to pinball_loss/mase (which score one
    forecaster in isolation): with per-target loss differential
    ``d = loss_a − loss_b``,

        DM = mean(d) / √(var(d)/n) = S·√(n−1) / √(n·Q − S²)

    over exact integer sums S = Σd, Q = Σd² — ONE fixed double
    expression, floored to micro. (The HAC-corrected form for
    h-step-overlap forecasts adds autocovariance terms; per-target
    iid losses — the eval-set regime — use this one.)

    Scale shape: a single partial-agg reduce. Integer losses required
    (quantize upstream). DM is NULL when all differentials are equal
    (zero variance). Returns one row (n, mean_diff_micro, dm_micro).
    """
    d = F.col(loss_a_col).cast("long") - F.col(loss_b_col).cast("long")
    tot = df.select(d.alias("__d")).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__d").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("__d").cast("decimal(38,0)") * F.col("__d")).alias("q"),
    )
    return tot.select(
        "n",
        F.expr("CAST(s * 1000000 DIV NULLIF(n, 0) AS BIGINT)").alias(
            "mean_diff_micro"
        ),
        F.expr(
            """CAST(FLOOR(
              CAST(s AS DOUBLE) * SQRT(CAST(n - 1 AS DOUBLE))
              / NULLIF(SQRT(CAST(n * q - s * s AS DOUBLE)), 0.0)
              * 1000000) AS BIGINT)"""
        ).alias("dm_micro"),
    )


def log_rank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-group log-rank test (Mantel 1966) — the inferential sibling
    of the kaplan_meier / nelson_aalen estimators: are the two
    survival curves DIFFERENT, weighting every event time by its risk
    set? At each pooled event time t with d_t events, n_t at risk and
    n_{a,t} at risk in group A:

        O = Σ d_{a,t},  E = Σ d_t·n_{a,t}/n_t,
        V = Σ d_t·(n_a/n_t)·(1 − n_a/n_t)·(n_t − d_t)/(n_t − 1)

    and z = (O − E)/√V (χ² = z² against 1 df).

    Determinism: risk sets are exact integer cumulative windows over
    the pooled distinct-TIME aggregate (the kaplan_meier shape); each
    time's E and V terms are ONE fixed double expression over exact
    integers floored to micro AT BIRTH, so the three totals are exact
    BIGINT sums and the final z is one sqrt over micro integers.
    Times with n_t = 1 contribute V = 0 by the (n_t − 1) guard.

    Scale shape: one (group, t)-collapsed partial agg, windows over
    the time domain, a 1-row reduce.

    Returns one row (o_a, e_a_micro, v_micro, z_micro).
    """
    rows = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        (F.col(group_col) == group_a).alias("__ga"),
        F.col(duration_col).cast("long").alias("t"),
        F.col(event_col).cast("boolean").alias("__e"),
    ).filter(F.col("t").isNotNull())
    per_t = rows.groupBy("t").agg(
        F.sum(F.when(F.col("__ga") & F.col("__e"), 1).otherwise(0))
        .cast("long").alias("da"),
        F.sum(F.when(F.col("__ga") & ~F.col("__e"), 1).otherwise(0))
        .cast("long").alias("ca"),
        F.sum(F.when(~F.col("__ga") & F.col("__e"), 1).otherwise(0))
        .cast("long").alias("db"),
        F.sum(F.when(~F.col("__ga") & ~F.col("__e"), 1).otherwise(0))
        .cast("long").alias("cb"),
    )
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    staged = per_t.select(
        "t",
        "da",
        "db",
        (
            F.sum(F.col("da") + F.col("ca")).over(w_tot)
            - F.coalesce(F.sum(F.col("da") + F.col("ca")).over(w_before), F.lit(0))
        ).cast("long").alias("na"),
        (
            F.sum(F.col("db") + F.col("cb")).over(w_tot)
            - F.coalesce(F.sum(F.col("db") + F.col("cb")).over(w_before), F.lit(0))
        ).cast("long").alias("nb"),
    ).filter(F.col("da") + F.col("db") > 0)
    terms = staged.select(
        "da",
        F.expr(
            """CAST(FLOOR(CAST(da + db AS DOUBLE) * na / (na + nb)
               * 1000000) AS BIGINT)"""
        ).alias("e_micro"),
        F.expr(
            """CASE WHEN na + nb < 2 THEN CAST(0 AS BIGINT)
               ELSE CAST(FLOOR(
                 CAST(da + db AS DOUBLE)
                 * (CAST(na AS DOUBLE) / (na + nb))
                 * (1.0 - CAST(na AS DOUBLE) / (na + nb))
                 * (CAST(na + nb - da - db AS DOUBLE) / (na + nb - 1))
                 * 1000000) AS BIGINT) END"""
        ).alias("v_micro"),
    )
    tot = terms.groupBy().agg(
        F.sum("da").cast("long").alias("o_a"),
        F.sum("e_micro").cast("long").alias("e_a_micro"),
        F.sum("v_micro").cast("long").alias("v_micro"),
    )
    return tot.select(
        "o_a",
        "e_a_micro",
        "v_micro",
        F.expr(
            """CAST(FLOOR(
              (CAST(o_a AS DOUBLE) * 1000000 - e_a_micro)
              / NULLIF(SQRT(CAST(v_micro AS DOUBLE) * 1000000), 0.0)
              * 1000000) AS BIGINT)"""
        ).alias("z_micro"),
    )


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Pooled two-proportion z-test — the conversion-rate / pass-rate
    A-vs-B readout (the per-slice test whose p-values feed
    benjamini_hochberg when run as a battery):

        z = (p̂_a − p̂_b) / √(p̂·(1−p̂)·(1/n_a + 1/n_b)),  p̂ pooled.

    Exact integer counts from one conditional-sum reduce; z is ONE
    fixed double expression floored to micro. NULL when either arm is
    empty or the pooled rate is degenerate (0 or 1 — zero variance).

    Returns one row (n_a, n_b, x_a, x_b, z_micro).
    """
    ga = F.col(group_col) == group_a
    gb = F.col(group_col) == group_b
    s = F.col(success_col).cast("long")
    tot = df.filter(ga | gb).groupBy().agg(
        F.sum(ga.cast("long")).cast("long").alias("n_a"),
        F.sum(gb.cast("long")).cast("long").alias("n_b"),
        F.sum(F.when(ga, s).otherwise(0)).cast("long").alias("x_a"),
        F.sum(F.when(gb, s).otherwise(0)).cast("long").alias("x_b"),
    )
    return tot.select(
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        F.expr(
            """CASE WHEN n_a = 0 OR n_b = 0
                 OR x_a + x_b = 0 OR x_a + x_b = n_a + n_b
               THEN CAST(NULL AS BIGINT)
               ELSE CAST(FLOOR(
                 (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                 / SQRT(
                   (CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 / n_a + 1.0 / n_b))
                 * 1000000) AS BIGINT) END"""
        ).alias("z_micro"),
    )


def post_stratified_mean(
    df: DataFrame,
    arm_col: str,
    stratum_col: str,
    value_col: str,
    arm_a,
    arm_b,
) -> DataFrame:
    """Post-stratified treatment-effect estimate — the variance
    reduction you get AFTER the fact when assignment ignored a known
    prognostic stratum (the non-covariate sibling of cuped_ab): weight
    each stratum's within-arm mean difference by the stratum's POOLED
    population share,

        Δ_ps = Σ_s (N_s/N) · (ȳ_{a,s} − ȳ_{b,s})

    over strata containing BOTH arms (matched strata, the cem_att
    convention; dropped-strata mass is visible via n_strata vs the
    caller's stratum count).

    Exactness: integer outcomes; per-stratum means truncate ONCE each
    (micro DIV), the weighted combination is exact DECIMAL, one final
    DIV by the matched-population total. Returns one row
    (n_strata, n_a, n_b, diff_micro).
    """
    a = F.col(arm_col) == arm_a
    b = F.col(arm_col) == arm_b
    y = F.col(value_col).cast("long")
    per = df.filter(a | b).groupBy(F.col(stratum_col).alias("s")).agg(
        F.sum(a.cast("long")).cast("long").alias("na"),
        F.sum(b.cast("long")).cast("long").alias("nb"),
        F.sum(F.when(a, y).otherwise(0)).cast("long").alias("sya"),
        F.sum(F.when(b, y).otherwise(0)).cast("long").alias("syb"),
    )
    matched = per.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "na",
        "nb",
        F.expr(
            "CAST(CAST(na + nb AS DECIMAL(38,0))"
            " * ((sya * 1000000 DIV na) - (syb * 1000000 DIV nb))"
            " AS DECIMAL(38,0))"
        ).alias("__term"),
    )
    return matched.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.expr(
            "CAST(SUM(__term) DIV NULLIF(SUM(na) + SUM(nb), 0) AS BIGINT)"
        ).alias("diff_micro"),
    )


def tv_distance(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Total-variation distance between two groups' value
    distributions — the third exact member of the drift family
    (ks_drift = sup CDF gap, wasserstein_1d = transport cost, TV =
    probability-mass disagreement; the same statistic t_closeness
    applies per equivalence class, here as a standalone two-slice
    scalar): ``TV = ½ Σ_v |p_v − q_v|``.

    FULLY exact: per distinct value ``|c_a·n_b − c_b·n_a|`` is an
    exact DECIMAL integer, the sum is exact, and the single division
    ``Σ·1e6 DIV (2·n_a·n_b)`` truncates once. No float, no window —
    one value-domain partial-agg shuffle and a reduce. NULL values
    drop; tv_micro is NULL when a group is empty.

    Returns one row (n_a, n_b, tv_micro).
    """
    vc = _two_group_value_counts(df, group_col, value_col, group_a, group_b)
    return vc.agg(
        *_group_totals(),
        F.expr(
            "CAST(SUM(ABS(CAST(n_a AS DECIMAL(38,0)) * tot_b"
            " - CAST(n_b AS DECIMAL(38,0)) * tot_a)) * 1000000"
            " DIV NULLIF(2 * CAST(MAX(tot_a) AS DECIMAL(38,0)) * MAX(tot_b), 0)"
            " AS BIGINT)"
        ).alias("tv_micro"),
    )


def hellinger_distance(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Squared Hellinger distance between two groups' value
    distributions — the drift-family member that, unlike TV, rewards
    AGREEMENT IN SHAPE smoothly (½ Σ (√p − √q)², bounded [0, 1];
    H² = 1 exactly when supports are disjoint) and, unlike JSD, is a
    proper metric after one sqrt:

        H² = ½ Σ_v (√(c_a,v/n_a) − √(c_b,v/n_b))²

    Determinism: each distinct value's term is ONE fixed double
    expression over exact integer counts floored to micro at birth
    (the ln-micro discipline's sqrt sibling), so the reduction is an
    exact BIGINT sum; one value-domain partial agg, one reduce, no
    window. NULL values drop; h2_micro is NULL when a group is empty.

    Returns one row (n_a, n_b, h2_micro).
    """
    vc = _two_group_value_counts(df, group_col, value_col, group_a, group_b)
    p = "SQRT(CAST(n_a AS DOUBLE) / NULLIF(tot_a, 0))"
    q = "SQRT(CAST(n_b AS DOUBLE) / NULLIF(tot_b, 0))"
    return vc.agg(
        *_group_totals(),
        F.expr(
            f"CAST(SUM(CAST(FLOOR(({p} - {q}) * ({p} - {q}) * 500000) AS BIGINT))"
            " AS BIGINT)"
        ).alias("h2_micro"),
    )


def cvm_distance(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Cramér-von Mises statistic between two groups'
    value distributions — the INTEGRATED-squared member completing the
    exact drift family (ks_drift = sup CDF gap, wasserstein_1d = L1
    transport, tv/hellinger = mass disagreement; CvM = the L2 gap,
    sensitive to many small CDF deviations a single-point KS supremum
    misses): evaluated at every pooled observation,

        T = n·m/(n+m)² · Σ_z (F_a(z) − F_b(z))²
          = Σ_v (c_av + c_bv)·(A_v·m − B_v·n)² / (n·m·(n+m)²)

    with A/B the cumulative counts at distinct value v — so the whole
    statistic is one exact integer sum over the DISTINCT-VALUE
    aggregate (the ks_drift shape: cumsums over the value domain,
    never a row sort) and ONE truncating micro DIV at the end. Fully
    exact, no float anywhere.

    DECIMAL bound (documented): the summed term reaches ~n⁵ at equal
    slice sizes; DECIMAL(38,0) holds exactly to ~10^6 rows per slice —
    beyond that, quantize values into bounded bins first (the
    histogram discipline all drift scalars share). NULL values drop;
    cvm_micro is NULL when a group is empty.

    Returns one row (n_a, n_b, cvm_micro).
    """
    vc = _two_group_value_counts(df, group_col, value_col, group_a, group_b)
    gap = (
        "(CAST(cum_a AS DECIMAL(38,0)) * tot_b"
        " - CAST(cum_b AS DECIMAL(38,0)) * tot_a)"
    )
    return vc.agg(
        *_group_totals(),
        F.expr(
            f"CAST(SUM(CAST(n_a + n_b AS DECIMAL(38,0)) * {gap} * {gap}) * 1000000"
            " DIV NULLIF(CAST(MAX(tot_a) AS DECIMAL(38,0)) * MAX(tot_b)"
            "   * (MAX(tot_a) + MAX(tot_b)) * (MAX(tot_a) + MAX(tot_b)), 0)"
            " AS BIGINT)"
        ).alias("cvm_micro"),
    )


def ad_distance(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Anderson-Darling statistic (Scholz & Stephens 1987,
    the ties/right-continuous-ECDF A2kN form, k=2) — the
    VARIANCE-WEIGHTED member completing the exact drift family: where
    cvm_distance integrates the squared CDF gap uniformly, AD divides
    each term by B(N-B), up-weighting the distribution TAILS where
    drift detectors are usually blind.  For k=2 the inner sample sum
    collapses algebraically (N·cumb - n_b·B = -(N·cuma - n_a·B)), so

        A2 = (N-1)/(n_a·n_b) · SUM_{blocks j: B_j < N}
               l_j · (N·cuma_j - n_a·B_j)^2 / (B_j·(N-B_j))

    with l_j the pooled count in distinct-value block j, B_j the
    pooled cumulative count, cuma_j group a's cumulative count — the
    ks_drift/cvm shape exactly: one shuffle to the DISTINCT-VALUE
    aggregate, cumsums over the value domain, never a row sort.
    Per-block truncating micro DIV, then one exact final DIV: fully
    integer, order-independent, hash-gate-safe.

    DECIMAL bound (documented): the per-block numerator reaches
    ~l·N^4·1e6; DECIMAL(38,0) holds exactly to ~10^6 rows per slice —
    beyond that, quantize values into bounded bins first (the
    histogram discipline all drift scalars share).

    NULL values drop; ad_micro is NULL when a group is empty.

    Returns one row (n_a, n_b, ad_micro) with ad_micro = floor(A2·1e6)
    up to the documented per-block truncation.
    """
    vc = _two_group_value_counts(df, group_col, value_col, group_a, group_b)
    cum = vc.select(
        "tot_a",
        "tot_b",
        (F.col("n_a") + F.col("n_b")).alias("l"),
        "cum_a",
        (F.col("cum_a") + F.col("cum_b")).alias("bj"),
        (F.col("tot_a") + F.col("tot_b")).alias("n"),
    )
    # the bj = N block contributes 0 by definition and is zeroed in
    # the term (not filtered out): an all-tied pooled sample must
    # yield ad_micro = 0, not an empty frame aggregating to NULL
    # (hypothesis-caught edge)
    terms = (
        cum.withColumn(
            "__a",
            F.expr(
                "CAST(l AS DECIMAL(38,0)) * 1000000"
                " * (CAST(cum_a AS DECIMAL(38,0)) * n"
                "    - CAST(bj AS DECIMAL(38,0)) * tot_a)"
                " * (CAST(cum_a AS DECIMAL(38,0)) * n"
                "    - CAST(bj AS DECIMAL(38,0)) * tot_a)"
            ),
        )
        .withColumn("__b", F.expr("CAST(bj AS DECIMAL(38,0)) * (n - bj)"))
        .select(
            "tot_a",
            "tot_b",
            # pmod identity, not DIV (BIGINT-narrowing): the per-block
            # quotient can pass int64 under heavy ties near the slice
            # bound; this keeps the truncating quotient in DECIMAL
            F.expr(
                "CASE WHEN bj < n THEN"
                " CAST((__a - pmod(__a, __b)) / __b AS DECIMAL(38,0))"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            ).alias("__t"),
        )
    )
    return terms.groupBy().agg(
        *_group_totals(),
        F.expr(
            "CAST(SUM(__t) * (MAX(tot_a) + MAX(tot_b) - 1)"
            " DIV NULLIF(CAST(MAX(tot_a) AS DECIMAL(38,0)) * MAX(tot_b), 0)"
            " AS BIGINT)"
        ).alias("ad_micro"),
    )


def kruskal_wallis(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Kruskal-Wallis H: the k-group generalization of the rank-sum
    test (one-way ANOVA on ranks) — the missing member between
    mann_whitney_u (k=2) and friedman_test (blocked designs).  Like
    every rank statistic in this module it NEVER sorts rows: one
    shuffle collapses the table to (group, value) cell counts, the
    rank window runs over the pooled DISTINCT-VALUE aggregate (bounded
    by the value domain), and average-rank ties fall out exactly via
    the doubled-rank integers r2(v) = 2·cum_before(v) + t(v) + 1
    (twice the average rank — so every intermediate stays integral).

        H = 3/(N(N+1)) · SUM_g R2_g^2 / n_g  -  3(N+1)
        H_ties = H · (N^3-N) / (N^3-N - SUM_v (t_v^3-t_v))

    with R2_g = SUM_v n_gv·r2_v the doubled rank sum of group g.
    Per-group truncating micro DIV, exact integer sums everywhere
    else; the tie-corrected value applies one further exact DECIMAL
    scale.  DECIMAL bound: R2_g^2·3e6 ~ 1.2e7·N^4 fits DECIMAL(38,0)
    to N ~ 4e7 rows; quantize first beyond that.

    NULL groups and NULL values drop; an empty input gives n = k = 0
    and NULL statistics.

    Returns one row (n, k, h_micro, h_tie_micro); under H0 compare
    against chi-square(k-1).
    """
    per_g, pooled = _pooled_rank_sums(df, group_col, value_col)
    terms = per_g.select(
        # pmod identity, not DIV: the per-group quotient
        # R2^2 3e6 / n_g passes int64 around N ~ 1e5 and Spark's
        # DIV narrows to BIGINT (silent wrap); this keeps the
        # exact truncating quotient in DECIMAL(38,0)
        F.expr(
            "CAST((CAST(r2_g AS DECIMAL(38,0)) * r2_g * 3000000"
            " - pmod(CAST(r2_g AS DECIMAL(38,0)) * r2_g * 3000000, n_g))"
            " / n_g AS DECIMAL(38,0))"
        ).alias("__t"),
    )
    return terms.join(F.broadcast(pooled)).groupBy().agg(
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.expr(
            "CAST(SUM(__t) DIV (CAST(MAX(n) AS DECIMAL(38,0)) * (MAX(n) + 1))"
            " - 3000000 * (CAST(MAX(n) AS DECIMAL(38,0)) + 1) AS BIGINT)"
        ).alias("h_micro"),
        F.expr(
            "CAST((SUM(__t) DIV (CAST(MAX(n) AS DECIMAL(38,0)) * (MAX(n) + 1))"
            "   - 3000000 * (CAST(MAX(n) AS DECIMAL(38,0)) + 1))"
            " * (CAST(MAX(n) AS DECIMAL(38,0)) * MAX(n) * MAX(n) - MAX(n))"
            " DIV NULLIF(CAST(MAX(n) AS DECIMAL(38,0)) * MAX(n) * MAX(n)"
            "   - MAX(n) - MAX(tie_num), 0) AS BIGINT)"
        ).alias("h_tie_micro"),
    )


def mood_median(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Mood's median test: k-group chi-square on counts at-or-below vs
    above the pooled GRAND median — the robust location screen that,
    unlike kruskal_wallis, only asks "is each group's mass split the
    same way around one global cut point" (insensitive to tail shape).
    The grand median is read off the pooled DISTINCT-VALUE cumsum
    (lower median: smallest v with 2·cum(v) >= N — documented
    convention), never a row sort; the k×2 table then comes from one
    more cell aggregate and

        chi2 = SUM_cells (obs·N - n_g·colTot)^2 / (N·n_g·colTot)

    with one truncating micro DIV per cell (exact integer numerators,
    DECIMAL-safe to N ~ 1e8).  Returns one row
    (n, k, median_v, chi2_micro); under H0 compare chi-square(k-1).
    """
    sub = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    )
    gv = sub.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).agg(F.count("*").cast("long").alias("n_gv"))
    tv = gv.groupBy("v").agg(F.sum("n_gv").cast("long").alias("t"))
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = tv.select(
        "v", F.sum("t").over(w).cast("long").alias("cum")
    )
    med = (
        cum.join(F.broadcast(tv.groupBy().agg(F.sum("t").cast("long").alias("n"))))
        .filter(F.lit(2) * F.col("cum") >= F.col("n"))
        .groupBy()
        .agg(F.min("v").alias("median_v"), F.max("n").alias("n"))
    )
    cells = (
        gv.join(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.max("n").alias("n"),
            F.max("median_v").alias("median_v"),
            F.sum("n_gv").cast("long").alias("n_g"),
            F.sum(
                F.when(F.col("v") <= F.col("median_v"), F.col("n_gv"))
                .otherwise(F.lit(0))
            ).cast("long").alias("a_g"),
        )
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    terms = cells.select(
        "n",
        "median_v",
        "n_g",
        "a_g",
        F.sum("a_g").over(wt).cast("long").alias("tot_a"),
    ).select(
        "n",
        "median_v",
        F.expr(
            "CAST((CAST(a_g AS DECIMAL(38,0)) * n - CAST(n_g AS DECIMAL(38,0)) * tot_a)"
            " * (CAST(a_g AS DECIMAL(38,0)) * n - CAST(n_g AS DECIMAL(38,0)) * tot_a)"
            " * 1000000 DIV NULLIF(CAST(n AS DECIMAL(38,0)) * n_g * tot_a, 0)"
            " AS BIGINT)"
        ).alias("__ta"),
        F.expr(
            "CAST((CAST(n_g - a_g AS DECIMAL(38,0)) * n"
            "    - CAST(n_g AS DECIMAL(38,0)) * (n - tot_a))"
            " * (CAST(n_g - a_g AS DECIMAL(38,0)) * n"
            "    - CAST(n_g AS DECIMAL(38,0)) * (n - tot_a))"
            " * 1000000 DIV NULLIF(CAST(n AS DECIMAL(38,0)) * n_g * (n - tot_a), 0)"
            " AS BIGINT)"
        ).alias("__tb"),
    )
    return terms.groupBy().agg(
        F.max("n").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.max("median_v").alias("median_v"),
        (F.sum("__ta") + F.sum("__tb")).cast("long").alias("chi2_micro"),
    )


def jonckheere_terpstra(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED alternative across k
    groups (dose-response on a continuous/ordinal response — the
    k-group continuous analogue of cochran_armitage's 2xk binary
    trend, and the directional screen kruskal_wallis's omnibus H
    cannot express): JT = SUM_{i<j} U_ij, the Mann-Whitney count of
    pairs (x in group i, y in group j, groups ordered) with x < y,
    ties counted half.  Doubled to stay integral:

        JT2 = SUM_{i<j} SUM_v n_jv · (2·cumlt_i(v) + n_iv)

    where cumlt_i(v) is group i's cumulative count strictly below v.
    Computed on the (group x distinct-value) GRID — one shuffle to
    cell counts, per-group cumsums over the value-domain spine, then a
    value-key join of the grid with itself restricted to ordered group
    pairs: |V|·k^2 work, bounded by the value domain and the (small,
    by contract) ordered-group count, never an all-row pair join.

    The z-score uses the standard no-ties moments (documented
    approximation — conservative under light ties):
        E[JT2] = (N^2 - SUM n_g^2) / 2
        Var[JT2] = 4·(N^2(2N+3) - SUM n_g^2(2n_g+3)) / 72
    computed as one deterministic fp64 expression from exact integer
    sums, micro-floored at birth.

    Returns one row (n, k, jt2, z_micro).
    """
    sub = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    )
    gv = sub.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).agg(F.count("*").cast("long").alias("n_gv"))
    spine = gv.select("v").distinct().crossJoin(
        F.broadcast(gv.select("g").distinct())
    )
    grid = spine.join(gv, ["g", "v"], "left").select(
        "g", "v", F.coalesce("n_gv", F.lit(0)).cast("long").alias("n_gv")
    )
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    grid = grid.select(
        "g",
        "v",
        "n_gv",
        F.coalesce(F.sum("n_gv").over(wg), F.lit(0))
        .cast("long")
        .alias("cumlt"),
    )
    lo = grid.select(
        F.col("g").alias("gi"),
        F.col("v"),
        F.col("n_gv").alias("n_iv"),
        F.col("cumlt").alias("cumlt_i"),
    )
    hi = grid.select(
        F.col("g").alias("gj"), F.col("v"), F.col("n_gv").alias("n_jv")
    )
    jt2 = (
        lo.join(hi, "v")
        .filter(F.col("gi") < F.col("gj"))
        .groupBy()
        .agg(
            F.sum(
                F.col("n_jv")
                * (F.lit(2) * F.col("cumlt_i") + F.col("n_iv"))
            ).cast("long").alias("jt2")
        )
    )
    moments = gv.groupBy("g").agg(
        F.sum("n_gv").cast("long").alias("n_g")
    ).groupBy().agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.expr("CAST(n_g AS DECIMAL(38,0)) * n_g")).alias("sum_sq"),
        F.sum(
            F.expr("CAST(n_g AS DECIMAL(38,0)) * n_g * (2 * n_g + 3)")
        ).alias("sum_var"),
    )
    return jt2.join(F.broadcast(moments)).select(
        "n",
        "k",
        "jt2",
        F.expr(
            """CAST(FLOOR(
              (CAST(jt2 AS DOUBLE)
               - (CAST(n AS DOUBLE) * n - CAST(sum_sq AS DOUBLE)) / 2)
              / SQRT(4.0 * (CAST(n AS DOUBLE) * n * (2 * n + 3)
                            - CAST(sum_var AS DOUBLE)) / 72)
              * 1000000) AS BIGINT)"""
        ).alias("z_micro"),
    )


def gwet_ac1(
    df: DataFrame, item_col: str, rater_col: str, label_col: str
) -> DataFrame:
    """Gwet's AC1 inter-rater agreement — the chance-corrected
    coefficient that stays stable under skewed label prevalence, where
    fleiss_kappa and krippendorff_alpha collapse toward 0 (the
    well-known kappa paradox); the natural annotation-QA companion in
    the agreement family.  Multi-rater, missing-data tolerant: items
    with fewer than 2 ratings are excluded from BOTH the observed and
    the chance term (documented convention), and rows with a NULL
    item, rater or label drop.

        pa   = mean_i SUM_c r_ic(r_ic - 1) / (r_i(r_i - 1))
        pi_c = mean_i r_ic / r_i
        pe   = SUM_c pi_c(1 - pi_c) / (q - 1)
        AC1  = (pa - pe) / (1 - pe)

    The rating cells (r_ic = c, r_i = m), an item-keyed reduce for
    both per-item terms (micro-truncated at birth, then exact integer
    sums — the krippendorff discipline), a q-row label reduce for pe.
    Returns one row (n_items, q, pa_micro, pe_micro, ac1_micro).
    """
    cells = _rating_cells(df, item_col, label_col, rater_col)
    per_item = cells.groupBy("item").agg(
        F.expr(
            "CAST(SUM(c * (c - 1)) * 1000000"
            " DIV (MAX(m) * (MAX(m) - 1)) AS BIGINT)"
        ).alias("pa_item")
    )
    pa = per_item.groupBy().agg(
        F.count("*").cast("long").alias("n_items"),
        F.expr("CAST(SUM(pa_item) DIV COUNT(*) AS BIGINT)").alias("pa_micro"),
    )
    pi = cells.groupBy("label").agg(
        F.expr("CAST(SUM(c * 1000000 DIV m) AS BIGINT)").alias("pi_num")
    )
    pe = pi.join(F.broadcast(pa.select("n_items"))).select(
        F.expr("CAST(pi_num DIV n_items AS BIGINT)").alias("pi_c")
    ).groupBy().agg(
        F.count("*").cast("long").alias("q"),
        F.expr(
            "CAST(SUM(CAST(pi_c AS DECIMAL(38,0)) * (1000000 - pi_c)"
            " DIV 1000000) DIV NULLIF(COUNT(*) - 1, 0) AS BIGINT)"
        ).alias("pe_micro"),
    )
    return pa.join(F.broadcast(pe)).select(
        "n_items",
        "q",
        "pa_micro",
        "pe_micro",
        F.expr(
            "CAST((pa_micro - pe_micro) * 1000000"
            " DIV NULLIF(1000000 - pe_micro, 0) AS BIGINT)"
        ).alias("ac1_micro"),
    )


def durbin_watson(
    df: DataFrame, key_col: str, order_col: str, value_col: str
) -> DataFrame:
    """Per-series Durbin-Watson statistic — the lag-1 residual
    autocorrelation diagnostic (DW ~ 2(1-r1): 2 = uncorrelated, -> 0 =
    positive serial correlation, -> 4 = negative), applied to any
    integer-quantized residual/value series (grouped_ols residuals,
    detrended rollups).  FULLY integer-exact via the multiply-through
    trick: with d_t = n·x_t - S (so mean-centering never leaves the
    integers), the n^2 factors cancel and

        DW = SUM_{t>=2} (x_t - x_{t-1})^2 · n^2 / SUM_t (n·x_t - S)^2

    Both sums accumulate in DECIMAL(38,0) (ANSI: overflow is loud);
    one truncating micro DIV at the end.  CONTRACT (the
    autocorrelation convention): value_col integer-quantized, series
    bounded (pre-aggregated rollups, not raw rows) — DECIMAL holds to
    ~1e12 per |n·x| term.  One shuffle: the partition-total and lag
    windows share the series key.  Constant series (den = 0) return
    NULL.  Returns (key, n, dw_micro).
    """
    wk = Window.partitionBy(key_col)
    wo = Window.partitionBy(key_col).orderBy(order_col)
    v = F.col(value_col).cast("long")
    staged = df.select(
        F.col(key_col).alias("key"),
        v.alias("__v"),
        F.lag(v).over(wo).alias("__p"),
        F.sum(v).over(wk).cast("decimal(38,0)").alias("__s"),
        F.count(F.lit(1)).over(wk).cast("long").alias("__n"),
    )
    return (
        staged.groupBy("key")
        .agg(
            F.max("__n").alias("n"),
            F.sum(
                F.expr(
                    "CAST(__v - __p AS DECIMAL(38,0)) * (__v - __p)"
                )
            ).alias("__num"),
            F.sum(
                F.expr(
                    "(CAST(__v AS DECIMAL(38,0)) * __n - __s)"
                    " * (CAST(__v AS DECIMAL(38,0)) * __n - __s)"
                )
            ).alias("__den"),
        )
        .select(
            "key",
            "n",
            F.expr(
                "CAST(__num * CAST(n AS DECIMAL(38,0)) * n * 1000000"
                " DIV NULLIF(__den, 0) AS BIGINT)"
            ).alias("dw_micro"),
        )
    )


def ljung_box(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    max_lag: int = 6,
) -> DataFrame:
    """Per-series Ljung-Box portmanteau Q over lags 1..max_lag — "is
    there ANY autocorrelation structure left", the whiteness test run
    on forecast residuals (holt_linear, seasonal_decompose) before
    trusting a model.  Composes the exact ACF operator: with r_l the
    micro-floored autocorrelations from ``autocorrelation`` (same
    contract: integer-quantized values, bounded pre-aggregated
    series),

        Q = n(n+2) · SUM_l r_l^2 / (n - l)

    each lag term truncating-micro-DIV'd at birth from the integer
    acf_micro, then summed exactly — order-independent,
    hash-gate-safe.  Under H0 compare chi-square(max_lag).  Lags
    dropped by the ACF (no overlap / degenerate) simply don't
    contribute; n_lags reports how many survived.
    Returns (key, n, n_lags, q_micro).
    """
    acf = autocorrelation(df, key_col, order_col, value_col, max_lag)
    key = acf.columns[0]
    return (
        acf.select(
            F.col(key).alias("key"),
            "n",
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * (n + 2)"
                " * acf_micro * acf_micro"
                " DIV (CAST(n - lag AS DECIMAL(38,0)) * 1000000)"
                " AS BIGINT)"
            ).alias("__t"),
        )
        .groupBy("key")
        .agg(
            F.max("n").alias("n"),
            F.count("*").cast("long").alias("n_lags"),
            F.sum("__t").cast("long").alias("q_micro"),
        )
    )


def grubbs_test(df: DataFrame, value_col: str) -> DataFrame:
    """Grubbs' maximum-normed-residual outlier test: G = max|x - xbar|
    / s — the single-pass "is the most extreme point an outlier"
    screen next to outlier_zscore's per-row flags.  The extreme
    deviation is attained at the min or max value, so the WHOLE test
    is ONE aggregate (no join-back, no second pass): with exact
    integer S = sum x, Q = sum x^2,

        G = max(n·max(x) - S, S - n·min(x)) / (n·sqrt((nQ - S^2)/(n(n-1))))

    computed as one deterministic fp64 expression over the exact
    integer moments, micro-floored.  CONTRACT: value_col
    integer-quantized (cents); DECIMAL(38,0) moments are loud on
    overflow.  Returns one row (n, outlier_v, g_micro) where
    outlier_v is the extreme value on the larger-deviation side (ties
    break to the max side, documented).
    """
    v = F.col(value_col).cast("long")
    agg = df.filter(v.isNotNull()).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v.cast("decimal(38,0)")).alias("s"),
        F.sum(v.cast("decimal(38,0)") * v).alias("q"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )
    return agg.select(
        "n",
        F.expr(
            "CASE WHEN CAST(mx AS DECIMAL(38,0)) * n - s"
            " >= s - CAST(mn AS DECIMAL(38,0)) * n THEN mx ELSE mn END"
        ).alias("outlier_v"),
        F.expr(
            """CAST(FLOOR(
              CAST(GREATEST(CAST(mx AS DECIMAL(38,0)) * n - s,
                            s - CAST(mn AS DECIMAL(38,0)) * n) AS DOUBLE)
              / (CAST(n AS DOUBLE)
                 * SQRT((CAST(q AS DOUBLE) * n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (n - 1))))
              * 1000000) AS BIGINT)"""
        ).alias("g_micro"),
    )


def bartlett_test(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Bartlett's test for homogeneity of variances across k groups —
    the parametric (normal-theory) companion to levene_bf: sharper
    under normality, famously sensitive to heavy tails (that contrast
    is the point of having both).

        T = [ (N-k)·ln(Sp^2) - SUM_g (n_g-1)·ln(s_g^2) ] / C
        C = 1 + (SUM_g 1/(n_g-1) - 1/(N-k)) / (3(k-1))

    Exactness discipline (the theil_u pattern): every cross-group SUM
    is over integers — per-group moments (n_g, S_g, Q_g) are exact
    DECIMAL; the within-group sum of squares contributes
    w_g = Q_g·1e6 - S_g^2·1e6 DIV n_g (micro-truncated at birth), the
    log terms contribute floor((n_g-1)·ln(s_g^2)·1e6), and the
    correction reciprocals 1e12 DIV (n_g-1) — so the final statistic
    is ONE deterministic fp64 expression over exact integer sums,
    micro-floored, order-independent under any partitioning.  Groups
    with n_g < 2 are excluded (documented).  CONTRACT: value_col
    integer-quantized.  Returns one row (n, k, bartlett_micro);
    under H0 compare chi-square(k-1).
    """
    v = F.col(value_col).cast("long")
    per_g = (
        df.filter(F.col(group_col).isNotNull() & v.isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(v.cast("decimal(38,0)")).alias("s_g"),
            F.sum(v.cast("decimal(38,0)") * v).alias("q_g"),
        )
        .filter(F.col("n_g") >= 2)
    )
    staged = per_g.select(
        "n_g",
        # NOT `DIV`: Spark's DIV always narrows to BIGINT and the
        # quotient here (~S^2 1e6 / n) exceeds int64 well before the
        # DECIMAL bound — the pmod identity keeps the exact truncating
        # quotient in DECIMAL(38,0)
        F.expr(
            "CAST(q_g * 1000000"
            " - (s_g * s_g * 1000000 - pmod(s_g * s_g * 1000000, n_g)) / n_g"
            " AS DECIMAL(38,0))"
        ).alias("w_micro"),
        F.expr(
            """CAST(FLOOR(
              (n_g - 1) * LN((CAST(q_g AS DOUBLE) * n_g
                              - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE))
                             / (CAST(n_g AS DOUBLE) * (n_g - 1)))
              * 1000000) AS BIGINT)"""
        ).alias("ln_micro"),
        F.expr("CAST(1000000000000 DIV (n_g - 1) AS BIGINT)").alias("inv_pico"),
    )
    return staged.groupBy().agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("w_micro").alias("__ssw"),
        F.sum("ln_micro").cast("long").alias("__lnsum"),
        F.sum("inv_pico").cast("long").alias("__invsum"),
    ).select(
        "n",
        "k",
        F.expr(
            """CAST(FLOOR(
              ((CAST(n AS DOUBLE) - k)
                 * LN(CAST(__ssw AS DOUBLE) / (1000000.0 * (CAST(n AS DOUBLE) - k)))
               - CAST(__lnsum AS DOUBLE) / 1000000.0)
              / (1.0 + (CAST(__invsum AS DOUBLE) / 1e12
                        - 1.0 / (CAST(n AS DOUBLE) - k)) / (3.0 * (k - 1)))
              * 1000000) AS BIGINT)"""
        ).alias("bartlett_micro"),
    )


def jarque_bera(df: DataFrame, value_col: str) -> DataFrame:
    """Jarque-Bera normality test: JB = n·(S²/6 + (K-3)²/24) from
    sample skewness S and kurtosis K — the moment-based "is this
    column even roughly normal" screen run before trusting grubbs/
    bartlett (both normal-theory) or z-score outlier fences.

    ONE aggregate: the four raw power sums Σx..Σx⁴ accumulate as
    exact DECIMAL(38,0) integers (ANSI: overflow is loud), and the
    central moments come from the textbook expansion

        m2 = Q2/n - μ²,  m3 = Q3/n - 3μQ2/n + 2μ³,
        m4 = Q4/n - 4μQ3/n + 6μ²Q2/n - 3μ⁴   (μ = S1/n)

    evaluated as one deterministic fp64 expression over the exact
    integers — order-independent under any partitioning, so the
    micro-floored outputs hash-match the oracle. CONTRACT: value_col
    integer-quantized; x⁴ sums bound DECIMAL(38,0) to |x| ~ 1e6 at
    ~1e13 rows — shift/rescale heavy-magnitude columns first (the
    expansion's cancellation also behaves best near zero mean).

    Returns one row (n, skew_micro, kurt_micro, jb_micro); under H0
    compare JB against chi-square(2).
    """
    v = F.col(value_col).cast("long")
    dec = "decimal(38,0)"
    agg = df.filter(v.isNotNull()).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v.cast(dec)).alias("s1"),
        F.sum(v.cast(dec) * v).alias("q2"),
        F.sum(v.cast(dec) * v * v).alias("q3"),
        F.sum(v.cast(dec) * v * v * v).alias("q4"),
    )
    mu = "(CAST(s1 AS DOUBLE) / n)"
    m2 = f"(CAST(q2 AS DOUBLE) / n - {mu} * {mu})"
    m3 = (
        f"(CAST(q3 AS DOUBLE) / n - 3 * {mu} * (CAST(q2 AS DOUBLE) / n)"
        f" + 2 * {mu} * {mu} * {mu})"
    )
    m4 = (
        f"(CAST(q4 AS DOUBLE) / n - 4 * {mu} * (CAST(q3 AS DOUBLE) / n)"
        f" + 6 * {mu} * {mu} * (CAST(q2 AS DOUBLE) / n)"
        f" - 3 * {mu} * {mu} * {mu} * {mu})"
    )
    # m2*sqrt(m2), not POW(m2,1.5): SQRT is IEEE-correctly-rounded
    # (bit-identical across engines); pow is not
    skew = f"({m3} / ({m2} * SQRT({m2})))"
    kurt = f"({m4} / ({m2} * {m2}))"
    return agg.select(
        "n",
        F.expr(f"CAST(FLOOR({skew} * 1000000) AS BIGINT)").alias("skew_micro"),
        F.expr(f"CAST(FLOOR({kurt} * 1000000) AS BIGINT)").alias("kurt_micro"),
        F.expr(
            f"CAST(FLOOR(n * ({skew} * {skew} / 6"
            f" + ({kurt} - 3) * ({kurt} - 3) / 24) * 1000000) AS BIGINT)"
        ).alias("jb_micro"),
    )


def runs_test(
    df: DataFrame, key_col: str, order_col: str, value_col: str
) -> DataFrame:
    """Per-series Wald-Wolfowitz runs test: dichotomize each series at
    its own MEAN (sign of n·x_t - S — exact integers via the
    multiply-through trick; exact-mean points are dropped, documented)
    and count sign runs R.  Too FEW runs = momentum/trending, too MANY
    = oscillation — the order-sensitive randomness screen the
    value-only tests (jarque_bera, grubbs) cannot see, and the
    cheapest one (durbin_watson's nonparametric sibling).

        E[R] = 2·n1·n2/m + 1,
        Var[R] = 2·n1·n2·(2·n1·n2 - m) / (m²·(m-1)),  m = n1+n2

    z = (R - E)/sqrt(Var) as one deterministic fp64 over exact
    integer counts, micro-floored.  Shape: the partition-total and
    the two ordered windows share the series key — one shuffle; the
    post-filter lag window reuses the same partitioning.  Degenerate
    series (n1·n2 = 0 or m < 2) return NULL z.
    Returns (key, n1, n2, runs, z_micro).
    """
    wk = Window.partitionBy(key_col)
    wo = Window.partitionBy(key_col).orderBy(order_col)
    v = F.col(value_col).cast("long")
    staged = df.select(
        F.col(key_col).alias("key"),
        F.col(order_col).alias("__o"),
        (
            v.cast("decimal(38,0)") * F.count(F.lit(1)).over(wk)
            - F.sum(v.cast("decimal(38,0)")).over(wk)
        ).alias("__d"),
    ).filter(F.col("__d") != 0)
    w2 = Window.partitionBy("key").orderBy("__o")
    signed = staged.select(
        "key",
        F.signum(F.col("__d").cast("double")).cast("int").alias("__s"),
        F.lag(F.signum(F.col("__d").cast("double")).cast("int"))
        .over(w2)
        .alias("__p"),
    )
    return (
        signed.groupBy("key")
        .agg(
            F.sum((F.col("__s") == 1).cast("long")).cast("long").alias("n1"),
            F.sum((F.col("__s") == -1).cast("long")).cast("long").alias("n2"),
            (
                F.lit(1)
                + F.sum(
                    (
                        F.col("__p").isNotNull()
                        & (F.col("__s") != F.col("__p"))
                    ).cast("long")
                )
            ).cast("long").alias("runs"),
        )
        .select(
            "key",
            "n1",
            "n2",
            "runs",
            # CAST(n1 AS DOUBLE) up front: a bare `2.0 * n1 * n2 /
            # (n1+n2)` is DECIMAL arithmetic in Spark (scale-6 rounded
            # division) but DOUBLE in DuckDB — the early cast pins both
            # engines to the identical IEEE operation sequence
            F.expr(
                """CASE WHEN n1 * n2 = 0 OR n1 + n2 < 2 THEN NULL ELSE
                CAST(FLOOR(
                  (CAST(runs AS DOUBLE)
                   - (2.0 * CAST(n1 AS DOUBLE) * n2 / (n1 + n2) + 1))
                  / SQRT(2.0 * CAST(n1 AS DOUBLE) * n2
                         * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)
                         / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                            * (n1 + n2 - 1)))
                  * 1000000) AS BIGINT) END"""
            ).alias("z_micro"),
        )
    )


def page_trend_test(
    df: DataFrame, block_col: str, treat_col: str, value_col: str
) -> DataFrame:
    """Page's trend test for an ORDERED alternative across k
    treatments in b blocks — friedman_test's DIRECTIONAL sibling
    (Friedman asks "any difference among treatments, blocking out the
    block effect"; Page asks "do they INCREASE in the stated order"),
    and the blocked-design counterpart of jonckheere_terpstra.
    Doubled within-block average ranks keep everything integral:

        L2 = SUM_blocks SUM_j j · r2_bj = 2L,
        E[L2] = b·k·(k+1)²/2  (always an integer),
        Var[L2] = 4·Var[L] = b·k²·(k+1)²·(k-1)/36

    with the no-ties moments (documented approximation, conservative
    under light ties).  CONTRACT: one observation per
    (block, treatment); blocks missing any treatment are dropped
    (documented — the Friedman completeness convention); treat_col is
    the ordered 1..k weight.  Shape: rank windows are BLOCK-partitioned
    (k rows each), then one exact aggregate — no global window at all.
    Returns one row (b, k, l2, z_micro).
    """
    sub = df.filter(
        F.col(block_col).isNotNull()
        & F.col(treat_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(block_col).alias("blk"),
        F.col(treat_col).cast("long").alias("trt"),
        F.col(value_col).cast("long").alias("val"),
    )
    k_tot = sub.select(F.countDistinct("trt").alias("k"))
    wb = Window.partitionBy("blk")
    complete = (
        sub.withColumn("__bk", F.count(F.lit(1)).over(wb))
        .join(F.broadcast(k_tot))
        .filter(F.col("__bk") == F.col("k"))
    )
    wv = Window.partitionBy("blk").orderBy("val")
    ranked = complete.select(
        "blk",
        "trt",
        "k",
        # doubled average rank from block-local count-below/ties:
        # 2*cnt_less + ties + 1, via rank() and its tie width
        (
            F.lit(2) * (F.rank().over(wv) - 1)
            + F.count(F.lit(1)).over(
                Window.partitionBy("blk", "val")
            )
            + F.lit(1)
        ).cast("long").alias("r2"),
    )
    agg = ranked.groupBy().agg(
        F.max("k").cast("long").alias("k"),
        (F.count(F.lit(1)) / F.max("k")).cast("long").alias("b"),
        F.sum(F.col("trt") * F.col("r2")).cast("long").alias("l2"),
    )
    return agg.select(
        "b",
        "k",
        "l2",
        F.expr(
            """CASE WHEN k < 2 OR b < 1 THEN NULL ELSE
            CAST(FLOOR(
              (CAST(l2 AS DOUBLE)
               - CAST(b AS DOUBLE) * k * (k + 1) * (k + 1) / 2)
              / SQRT(CAST(b AS DOUBLE) * k * k * (k + 1) * (k + 1)
                     * (k - 1) / 36)
              * 1000000) AS BIGINT) END"""
        ).alias("z_micro"),
    )


def brunner_munzel(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Brunner-Munzel test (the "generalized Wilcoxon"): tests
    P(X < Y) + P(X = Y)/2 = 1/2 WITHOUT mann_whitney_u's
    equal-variance/shape assumption — the robust default for two-slice
    comparisons with different spreads (the nonparametric analogue of
    Welch vs Student).  Everything derives from the two midrank
    systems (pooled and within-group), both read off the two-group
    value-count table (pooled ranks from the summed counts,
    within-group ranks from each group's own counts) — never a row
    sort:

        phat = (Rbar_b - (n_b+1)/2) / n_a     (common-language effect)
        W = n_a·n_b·(Rbar_b - Rbar_a) / ((n_a+n_b)·sqrt(n_a·S2_a + n_b·S2_b))

    with S2_i the sample variance of (pooled rank - within rank) in
    group i.  Exactness: doubled ranks keep midranks integral; the
    per-group deviation sum is multiplied through by n_i so

        4·n_i²·(n_i-1)·S2_i = Σ_v n_iv·(n_i·(r2p_v - r2w_iv) - D_i)²,
        D_i = R2_i - n_i·(n_i+1)

    is an exact DECIMAL integer (R2_i = Σ n_iv·r2p_v, the doubled
    pooled rank sum).  W and the Welch-type df close in ONE
    deterministic fp64 expression each, micro-floored.  DECIMAL
    bound: the deviation sum reaches ~n_i²·N²·n ~ N^5; quantize past
    ~1e6 rows per slice (the drift-family discipline). NULL values
    drop; p_hat is NULL when a group is empty, W and df when a group
    has fewer than 2 values or both deviation sums are 0.

    Returns one row (n_a, n_b, p_hat_micro, w_micro, df_micro).
    """
    vc = _two_group_value_counts(df, group_col, value_col, group_a, group_b)
    # per value: pooled doubled midrank r2p, within-group r2w_a / r2w_b
    r2p = _doubled_midrank(F.col("n_a") + F.col("n_b"), "v")
    cells = vc.select(
        "n_a", "n_b", "tot_a", "tot_b",
        (r2p - _doubled_midrank("n_a", "v")).alias("d_a"),
        (r2p - _doubled_midrank("n_b", "v")).alias("d_b"),
        r2p.alias("r2p"),
    )
    dec = "DECIMAL(38,0)"
    wide = cells.agg(
        *_group_totals(),
        F.sum(F.col("n_a") * F.col("r2p")).alias("a_r2"),
        F.sum(F.col("n_b") * F.col("r2p")).alias("b_r2"),
        F.expr(f"SUM(CAST(n_a AS {dec}) * d_a * d_a)").alias("a_ss"),
        F.expr(f"SUM(CAST(n_b AS {dec}) * d_b * d_b)").alias("b_ss"),
    ).withColumns(
        {"a_n": F.nullif("n_a", F.lit(0)), "b_n": F.nullif("n_b", F.lit(0))}
    )
    # Σ n_iv·d_iv = D_i exactly (within-group doubled ranks sum to
    # n_i(n_i+1)), so the deviation sum Σ n_iv·(n_i·d_iv − D_i)² is
    # n_i²·Σ n_iv·d_iv² − n_i·D_i²
    wide = wide.withColumns({
        f"{i}_dev2": F.expr(
            f"CAST({i}_n AS {dec}) * {i}_n * {i}_ss - CAST({i}_n AS {dec})"
            f" * ({i}_r2 - CAST({i}_n AS {dec}) * ({i}_n + 1))"
            f" * ({i}_r2 - CAST({i}_n AS {dec}) * ({i}_n + 1))"
        )
        for i in ("a", "b")
    })
    # s2v_i = n_i * S2_i = dev2_i / (4*n_i*(n_i-1))  [exact ratio,
    # evaluated in fp64]; W and df close deterministically
    s2va = "(CAST(a_dev2 AS DOUBLE) / NULLIF(4.0 * a_n * (a_n - 1), 0))"
    s2vb = "(CAST(b_dev2 AS DOUBLE) / NULLIF(4.0 * b_n * (b_n - 1), 0))"
    return wide.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST((CAST(b_r2 AS DECIMAL(38,0)) - CAST(b_n AS DECIMAL(38,0)) * (b_n + 1))"
            " * 1000000 DIV (2 * CAST(b_n AS DECIMAL(38,0)) * a_n) AS BIGINT)"
        ).alias("p_hat_micro"),
        F.expr(
            f"""CASE WHEN a_dev2 + b_dev2 = 0 THEN NULL ELSE
            CAST(FLOOR(
              CAST(a_n AS DOUBLE) * b_n
              * (CAST(b_r2 AS DOUBLE) / (2.0 * b_n)
                 - CAST(a_r2 AS DOUBLE) / (2.0 * a_n))
              / ((CAST(a_n AS DOUBLE) + b_n)
                 * SQRT({s2va} + {s2vb}))
              * 1000000) AS BIGINT) END"""
        ).alias("w_micro"),
        F.expr(
            f"""CASE WHEN a_dev2 + b_dev2 = 0 THEN NULL ELSE
            CAST(FLOOR(
              ({s2va} + {s2vb}) * ({s2va} + {s2vb})
              / ({s2va} * {s2va} / NULLIF(a_n - 1, 0)
                 + {s2vb} * {s2vb} / NULLIF(b_n - 1, 0))
              * 1000000) AS BIGINT) END"""
        ).alias("df_micro"),
    )


def _lngamma_sql(z: str) -> str:
    """ln Gamma(z) for INTEGER z >= 1 as one engine-portable SQL text:
    shift z by 8 (lnGamma(z) = lnGamma(z+8) - SUM ln(z+i)) into the
    Stirling region, then the 4-correction-term Stirling series —
    absolute error < 1e-12 for the shifted argument (>= 9).  The SAME
    string is compiled by Spark and DuckDB, so both engines execute
    the identical IEEE sequence (LN/EXP agreement is the ln-micro
    discipline's documented empirical contract)."""
    w = f"(CAST({z} AS DOUBLE) + 8.0)"
    shift = " + ".join(f"LN(CAST({z} AS DOUBLE) + {i}.0)" for i in range(8))
    return (
        f"(({w} - 0.5) * LN({w}) - {w} + 0.9189385332046727"
        f" + 1.0 / (12.0 * {w}) - 1.0 / (360.0 * {w} * {w} * {w})"
        f" + 1.0 / (1260.0 * {w} * {w} * {w} * {w} * {w})"
        f" - 1.0 / (1680.0 * POW({w}, 7.0))"
        f" - ({shift}))"
    )


def bayes_ab_prob(
    df: DataFrame,
    arm_col: str,
    success_col: str,
    arm_a,
    arm_b,
    max_terms: int = 1_048_576,
) -> DataFrame:
    """Exact Bayesian A/B posterior P(p_B > p_A) under independent
    Beta(1,1) priors — the decision-ready companion to the frequentist
    battery (two_proportion_z, sprt_eval, ab_test_lift): "given the
    observed conversions, how likely is B actually better", with no
    normal approximation.  Closed form (Cook 2005):

        P = SUM_{i=0}^{a_B-1} B(a_A+i, b_A+b_B)
                              / ((b_B+i) · B(1+i, b_B) · B(a_A, b_A))

    with a = successes+1, b = failures+1 — every Beta function a
    ratio of integer Gammas, evaluated through the engine-portable
    Stirling lnGamma text (identical IEEE sequence both engines), one
    exp per term, each term PICO-floored at birth, then an exact
    integer sum (order-independent, hash-gate-safe).

    Scale shape: the two arm aggregates are one shuffle; the term
    index comes from a SPLITTABLE range spine capped at ``max_terms``
    (documented contract: a_B <= max_terms — raise the cap for
    larger eval arms, or bucket upstream; terms far from the mode
    underflow exp() to exact 0 and cost nothing but the scan).  The
    spine join is a broadcast of the one-row arm stats — no
    driver-side loop, no collect.

    Returns one row (succ_a, fail_a, succ_b, fail_b, p_b_micro).
    """
    spark = df.sparkSession
    arms = (
        df.filter(F.col(arm_col).isin([arm_a, arm_b]))
        .groupBy()
        .agg(
            F.sum(
                ((F.col(arm_col) == arm_a) & F.col(success_col)).cast("long")
            ).cast("long").alias("succ_a"),
            F.sum(
                ((F.col(arm_col) == arm_a) & ~F.col(success_col)).cast("long")
            ).cast("long").alias("fail_a"),
            F.sum(
                ((F.col(arm_col) == arm_b) & F.col(success_col)).cast("long")
            ).cast("long").alias("succ_b"),
            F.sum(
                ((F.col(arm_col) == arm_b) & ~F.col(success_col)).cast("long")
            ).cast("long").alias("fail_b"),
        )
        .select(
            "succ_a", "fail_a", "succ_b", "fail_b",
            (F.col("succ_a") + 1).alias("aa"),
            (F.col("fail_a") + 1).alias("ba"),
            (F.col("succ_b") + 1).alias("ab"),
            (F.col("fail_b") + 1).alias("bb"),
        )
    )
    spine = spark.range(int(max_terms)).select(F.col("id").alias("i"))
    lnb = lambda x, y: (
        f"({_lngamma_sql(x)} + {_lngamma_sql(y)} - {_lngamma_sql(f'({x}) + ({y})')})"
    )
    term_ln = (
        f"({lnb('aa + i', 'ba + bb')} - LN(CAST(bb + i AS DOUBLE))"
        f" - {lnb('1 + i', 'bb')} - {lnb('aa', 'ba')})"
    )
    terms = (
        spine.join(F.broadcast(arms))
        .filter(F.col("i") < F.col("ab"))
        .withColumn(
            "__t",
            F.expr(
                f"CAST(FLOOR(EXP({term_ln}) * 1000000000000) AS BIGINT)"
            ),
        )
    )
    return terms.groupBy().agg(
        F.max("succ_a").alias("succ_a"),
        F.max("fail_a").alias("fail_a"),
        F.max("succ_b").alias("succ_b"),
        F.max("fail_b").alias("fail_b"),
        # NULL, never a silently truncated sum, when the arm outgrows
        # the spine cap (both engines truncate identically, so parity
        # alone could not catch it)
        F.expr(
            f"CASE WHEN MAX(ab) > {int(max_terms)} THEN NULL"
            " ELSE CAST(SUM(__t) DIV 1000000 AS BIGINT) END"
        ).alias("p_b_micro"),
    )


def fisher_exact(
    df: DataFrame,
    flag_a_col: str,
    flag_b_col: str,
    max_terms: int = 1_048_576,
) -> DataFrame:
    """Fisher's exact test on the 2x2 table of two boolean flags — the
    SMALL-EXPECTED-COUNT member closing the contingency family
    (chi_square and g_test assume large cells; mcnemar pairs;
    mantel_haenszel stratifies; Fisher conditions on both margins and
    is exact at any size).  Hypergeometric mass through the
    engine-portable Stirling lnGamma text (bayes_ab_prob's
    discipline):

        ln P(k) = lnC(r1,k) + lnC(r2,c1-k) - lnC(N,c1)

    over the support k in [max(0, c1-r2), min(r1, c1)]; the
    two-sided p sums every table with P(k) <= P(obs)·(1 + 1e-7)
    (the standard relative tolerance, documented — both engines
    compute identical doubles so the comparison set is identical).
    Terms pico-floored at birth, exact integer sum; the support spine
    is a splittable capped range with the NULL-not-truncate guard.

    Returns one row (n11, n10, n01, n00, odds_ratio_micro — the
    sample OR, NULL on a zero denominator — and p_two_micro).
    """
    spark = df.sparkSession
    a = F.col(flag_a_col).cast("boolean")
    b = F.col(flag_b_col).cast("boolean")
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy()
        .agg(
            F.sum((a & b).cast("long")).cast("long").alias("n11"),
            F.sum((a & ~b).cast("long")).cast("long").alias("n10"),
            F.sum((~a & b).cast("long")).cast("long").alias("n01"),
            F.sum((~a & ~b).cast("long")).cast("long").alias("n00"),
        )
        .select(
            "n11", "n10", "n01", "n00",
            (F.col("n11") + F.col("n10")).alias("r1"),
            (F.col("n01") + F.col("n00")).alias("r2"),
            (F.col("n11") + F.col("n01")).alias("c1"),
            (F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00"))
            .alias("nn"),
        )
    )
    lnc = lambda n, k: (
        f"({_lngamma_sql(f'({n}) + 1')} - {_lngamma_sql(f'({k}) + 1')}"
        f" - {_lngamma_sql(f'({n}) - ({k}) + 1')})"
    )
    # the row-constant pieces (observed-table mass, the lnC(N,c1)
    # normalizer) are computed ONCE on the 1-row cells frame before
    # the spine join, and the per-row mass once per row — the naive
    # inline form re-expands the Stirling text 4x per row and its
    # codegen compile alone dominated the wall time
    cells = cells.withColumn(
        "__lnc_norm", F.expr(lnc("nn", "c1"))
    ).withColumn(
        "__lnp_obs",
        F.expr(
            f"{lnc('r1', 'n11')} + {lnc('r2', 'c1 - n11')} - __lnc_norm"
        ),
    )
    spine = spark.range(int(max_terms)).select(F.col("id").alias("__i"))
    terms = (
        spine.join(F.broadcast(cells))
        .withColumn("k", F.expr("__i + GREATEST(0, c1 - r2)"))
        .filter(F.col("k") <= F.least(F.col("r1"), F.col("c1")))
        .withColumn(
            "__lnp",
            F.expr(f"{lnc('r1', 'k')} + {lnc('r2', 'c1 - k')} - __lnc_norm"),
        )
        .withColumn(
            "__t",
            F.expr(
                "CASE WHEN EXP(__lnp) <= EXP(__lnp_obs) * (1.0 + 1e-7)"
                " THEN CAST(FLOOR(EXP(__lnp) * 1000000000000) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )
    return terms.groupBy().agg(
        F.max("n11").alias("n11"),
        F.max("n10").alias("n10"),
        F.max("n01").alias("n01"),
        F.max("n00").alias("n00"),
        F.expr(
            "CAST(CAST(MAX(n11) AS DECIMAL(38,0)) * MAX(n00) * 1000000"
            " DIV NULLIF(CAST(MAX(n10) AS DECIMAL(38,0)) * MAX(n01), 0)"
            " AS BIGINT)"
        ).alias("odds_ratio_micro"),
        F.expr(
            f"""CASE WHEN MAX(LEAST(r1, c1)) - MAX(GREATEST(0, c1 - r2))
                   + 1 > {int(max_terms)} THEN NULL
            ELSE CAST(LEAST(SUM(__t) DIV 1000000, 1000000) AS BIGINT) END"""
        ).alias("p_two_micro"),
    )


def capture_recapture(
    df: DataFrame, flag1_col: str, flag2_col: str
) -> DataFrame:
    """Chapman capture-recapture population estimate from two
    independent 'capture' passes — the dedup-pipeline question "how
    many distinct items exist in TOTAL, given two samples and their
    overlap" (true cluster population behind a partial dedup scan,
    species-richness style, chao1_vocab's two-sample sibling):

        N_hat = (n1+1)(n2+1)/(m+1) - 1
        Var   = (n1+1)(n2+1)(n1-m)(n2-m) / ((m+1)²(m+2))

    (Chapman's bias-corrected Lincoln-Petersen; m = caught in both).
    ONE aggregate over the two flags; the estimate is one truncating
    micro DIV over exact integers and the CI half-width one fp64
    sqrt, micro-floored.  Returns one row
    (n1, n2, m, n_hat_micro, half_ci_micro).
    """
    f1 = F.col(flag1_col).cast("boolean")
    f2 = F.col(flag2_col).cast("boolean")
    agg = df.filter(f1.isNotNull() & f2.isNotNull()).groupBy().agg(
        F.sum(f1.cast("long")).cast("long").alias("n1"),
        F.sum(f2.cast("long")).cast("long").alias("n2"),
        F.sum((f1 & f2).cast("long")).cast("long").alias("m"),
    )
    return agg.select(
        "n1",
        "n2",
        "m",
        F.expr(
            "CAST(CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1) * 1000000"
            " DIV (m + 1) - 1000000 AS BIGINT)"
        ).alias("n_hat_micro"),
        F.expr(
            """CAST(FLOOR(1.959964 * SQRT(
              CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m) * (n2 - m)
              / (CAST(m + 1 AS DOUBLE) * (m + 1) * (m + 2)))
              * 1000000) AS BIGINT)"""
        ).alias("half_ci_micro"),
    )


def welch_anova(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA — "are the k group means
    equal" WITHOUT anova_f's pooled-variance assumption (the k-group
    Welch t, exactly as bartlett_test/levene_bf are the screens that
    tell you anova_f's assumption failed):

        w_g = n_g/s_g²,  xbar_w = Σ w_g xbar_g / W
        F* = [Σ w_g (xbar_g - xbar_w)² / (k-1)]
             / [1 + (2(k-2)/(k²-1)) · Λ]
        Λ  = Σ (1 - w_g/W)² / (n_g - 1),   df2 = (k²-1)/(3Λ)

    Determinism discipline: the weights are rescaled by the EXACT
    pooled variance (bartlett's integer SSW) to O(n_g) magnitude so
    micro-flooring keeps ~1e-9 relative precision (raw n/s² weights in
    cents² would floor to 0), then every cross-group float reduction
    is birth-floored to an integer (w to micro, w·xbar to micro, the
    Λ terms to pico) and summed exactly — the theil_u pattern, so the
    oracle hash-matches under any partitioning.  Λ and df2 are
    invariant under the rescale; the numerator is not, so the closing
    expression divides the ONE Sp² factor back out.
    Groups with n_g < 2 or zero variance are excluded (documented).
    Returns one row (n, k, f_micro, df2_micro).
    """
    v = F.col(value_col).cast("long")
    per_g = (
        df.filter(F.col(group_col).isNotNull() & v.isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(v.cast("decimal(38,0)")).alias("s_g"),
            F.sum(v.cast("decimal(38,0)") * v).alias("q_g"),
        )
        .filter(
            (F.col("n_g") >= 2)
            & (F.col("q_g") * F.col("n_g") > F.col("s_g") * F.col("s_g"))
        )
    )
    per_g = per_g.withColumn(
        "w_ssw",
        F.expr(
            "CAST(q_g * 1000000"
            " - (s_g * s_g * 1000000 - pmod(s_g * s_g * 1000000, n_g)) / n_g"
            " AS DECIMAL(38,0))"
        ),
    )
    tot0 = per_g.groupBy().agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("w_ssw").alias("ssw"),
    )
    # scaled weight w~ = Sp^2 * n_g / s_g^2 with both variances as
    # deterministic fp64 over exact integers; birth-floored
    sp2 = "(CAST(ssw AS DOUBLE) / (1000000.0 * (n - k)))"
    s2g = (
        "((CAST(q_g AS DOUBLE) * n_g"
        " - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE))"
        " / (CAST(n_g AS DOUBLE) * (n_g - 1)))"
    )
    staged = per_g.join(F.broadcast(tot0)).select(
        "n_g",
        "n",
        "k",
        "ssw",
        F.expr(
            f"CAST(FLOOR({sp2} * n_g / {s2g} * 1000000) AS BIGINT)"
        ).alias("w_micro"),
        F.expr(
            f"CAST(FLOOR({sp2} * n_g / {s2g}"
            " * (CAST(s_g AS DOUBLE) / n_g) * 1000000) AS BIGINT)"
        ).alias("wx_micro"),
    )
    tot1 = staged.groupBy().agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.max("ssw").alias("ssw"),
        F.sum("w_micro").cast("long").alias("w_tot"),
        F.sum("wx_micro").cast("long").alias("wx_tot"),
    )
    xw = "(CAST(wx_tot AS DOUBLE) / w_tot)"
    final = staged.join(F.broadcast(tot1.select("w_tot", "wx_tot"))).select(
        "n",
        "k",
        "ssw",
        F.expr(
            f"""CAST(FLOOR(
              CAST(w_micro AS DOUBLE) / 1000000.0
              * (CAST(wx_micro AS DOUBLE) / w_micro - {xw})
              * (CAST(wx_micro AS DOUBLE) / w_micro - {xw})
              * 1000000) AS BIGINT)"""
        ).alias("num_micro"),
        F.expr(
            f"""CAST(FLOOR(
              (1.0 - CAST(w_micro AS DOUBLE) / w_tot)
              * (1.0 - CAST(w_micro AS DOUBLE) / w_tot)
              / (n_g - 1) * 1000000000000) AS BIGINT)"""
        ).alias("lam_pico"),
    )
    return final.groupBy().agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.expr(
            """CAST(FLOOR(
              (CAST(SUM(num_micro) AS DOUBLE) / 1000000.0 / (MAX(k) - 1))
              / (CAST(MAX(ssw) AS DOUBLE) / (1000000.0 * (MAX(n) - MAX(k))))
              / (1.0 + (2.0 * (MAX(k) - 2) / (CAST(MAX(k) AS DOUBLE) * MAX(k) - 1))
                       * (CAST(SUM(lam_pico) AS DOUBLE) / 1e12))
              * 1000000) AS BIGINT)"""
        ).alias("f_micro"),
        F.expr(
            """CAST(FLOOR(
              (CAST(MAX(k) AS DOUBLE) * MAX(k) - 1)
              / (3.0 * (CAST(SUM(lam_pico) AS DOUBLE) / 1e12))
              * 1000000) AS BIGINT)"""
        ).alias("df2_micro"),
    )


def poisson_two_rate(
    df: DataFrame,
    group_col: str,
    event_col: str,
    group_a,
    group_b,
    max_terms: int = 1_048_576,
) -> DataFrame:
    """Exact conditional two-rate (Poisson) comparison — "is the event
    RATE in slice B different from slice A", the counting-process
    member beside two_proportion_z (per-trial) and fisher_exact
    (2x2): conditional on the total event count N = x_a + x_b,
    x_a ~ Binomial(N, p0) with p0 = t_a/(t_a+t_b) under equal rates,
    where the exposures t are the slice row counts.  Binomial masses
    through the portable Stirling lnGamma text; the two-sided p sums
    every k with P(k) <= P(obs)·(1+1e-7) (the fisher_exact
    convention).  Terms pico-floored, exact integer sum; support
    spine capped with the NULL-not-truncate guard.  CONTRACT: use on
    pre-aggregated slices (support = N+1 terms).

    Returns one row (x_a, t_a, x_b, t_b, rate_ratio_micro,
    p_two_micro).
    """
    spark = df.sparkSession
    ev = F.col(event_col).cast("boolean")
    cells = (
        df.filter(F.col(group_col).isin([group_a, group_b]) & ev.isNotNull())
        .groupBy()
        .agg(
            F.sum(((F.col(group_col) == group_a) & ev).cast("long"))
            .cast("long").alias("x_a"),
            F.sum((F.col(group_col) == group_a).cast("long"))
            .cast("long").alias("t_a"),
            F.sum(((F.col(group_col) == group_b) & ev).cast("long"))
            .cast("long").alias("x_b"),
            F.sum((F.col(group_col) == group_b).cast("long"))
            .cast("long").alias("t_b"),
        )
        .withColumn("nn", F.expr("x_a + x_b"))
        .withColumn(
            "lnp0", F.expr(
                "LN(CAST(t_a AS DOUBLE) / (CAST(t_a AS DOUBLE) + t_b))"
            )
        )
        .withColumn(
            "lnq0", F.expr(
                "LN(CAST(t_b AS DOUBLE) / (CAST(t_a AS DOUBLE) + t_b))"
            )
        )
    )
    lnc = lambda n, k: (
        f"({_lngamma_sql(f'({n}) + 1')} - {_lngamma_sql(f'({k}) + 1')}"
        f" - {_lngamma_sql(f'({n}) - ({k}) + 1')})"
    )
    cells = cells.withColumn(
        "__lnp_obs",
        F.expr(f"{lnc('nn', 'x_a')} + x_a * lnp0 + (nn - x_a) * lnq0"),
    )
    spine = spark.range(int(max_terms)).select(F.col("id").alias("k"))
    terms = (
        spine.join(F.broadcast(cells))
        .filter(F.col("k") <= F.col("nn"))
        .withColumn(
            "__lnp",
            F.expr(f"{lnc('nn', 'k')} + k * lnp0 + (nn - k) * lnq0"),
        )
        .withColumn(
            "__t",
            F.expr(
                "CASE WHEN EXP(__lnp) <= EXP(__lnp_obs) * (1.0 + 1e-7)"
                " THEN CAST(FLOOR(EXP(__lnp) * 1000000000000) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )
    return terms.groupBy().agg(
        F.max("x_a").alias("x_a"),
        F.max("t_a").alias("t_a"),
        F.max("x_b").alias("x_b"),
        F.max("t_b").alias("t_b"),
        F.expr(
            "CAST(CAST(MAX(x_a) AS DECIMAL(38,0)) * MAX(t_b) * 1000000"
            " DIV NULLIF(CAST(MAX(x_b) AS DECIMAL(38,0)) * MAX(t_a), 0)"
            " AS BIGINT)"
        ).alias("rate_ratio_micro"),
        F.expr(
            f"CASE WHEN MAX(nn) + 1 > {int(max_terms)} THEN NULL"
            " ELSE CAST(LEAST(SUM(__t) DIV 1000000, 1000000) AS BIGINT) END"
        ).alias("p_two_micro"),
    )


def pot_tail(
    df: DataFrame,
    value_col: str,
    threshold: int,
) -> DataFrame:
    """Peaks-over-threshold tail profile: method-of-moments fit of the
    Generalized Pareto Distribution to the excesses over a caller-set
    threshold (Pickands-Balkema-de Haan: excesses over a high cut are
    GPD whatever the body looks like) — the tail-RISK summary the
    body statistics (winsorize, mad_outliers) deliberately discard:
    latency SLOs, max-loss, extreme doc lengths.

        xi_hat    = (1 - mbar²/s²) / 2        (MOM shape; >0 = heavy)
        beta_hat  = mbar·(mbar²/s² + 1) / 2   (MOM scale)

    with mbar/s² the mean/variance of the excesses — exact integer
    moments from ONE filtered aggregate (the grubbs shape), both
    estimates closing in single deterministic fp64 expressions,
    micro-floored.  Also emits the empirical exceedance share
    (n_exceed/n in micro) — the caller multiplies the fitted tail by
    it for absolute return levels.  Degenerate tails (n_exceed < 2 or
    zero variance) return NULL fits.
    Returns one row (n, n_exceed, exceed_share_micro, xi_micro,
    beta_micro).
    """
    v = F.col(value_col).cast("long")
    agg = df.filter(v.isNotNull()).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((v > threshold).cast("long")).cast("long").alias("n_exceed"),
        F.sum(
            F.when(v > threshold, (v - F.lit(threshold)).cast("decimal(38,0)"))
        ).alias("s"),
        F.sum(
            F.when(
                v > threshold,
                (v - F.lit(threshold)).cast("decimal(38,0)")
                * (v - F.lit(threshold)),
            )
        ).alias("q"),
    )
    mbar = "(CAST(s AS DOUBLE) / n_exceed)"
    s2 = (
        "((CAST(q AS DOUBLE) * n_exceed"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n_exceed AS DOUBLE) * (n_exceed - 1)))"
    )
    guard = (
        "n_exceed < 2 OR CAST(q AS DOUBLE) * n_exceed"
        " <= CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    )
    return agg.select(
        "n",
        "n_exceed",
        F.expr(
            "CAST(CAST(n_exceed AS DECIMAL(38,0)) * 1000000"
            " DIV NULLIF(n, 0) AS BIGINT)"
        ).alias("exceed_share_micro"),
        F.expr(
            f"""CASE WHEN {guard} THEN NULL ELSE
            CAST(FLOOR((1.0 - {mbar} * {mbar} / {s2}) / 2.0 * 1000000)
              AS BIGINT) END"""
        ).alias("xi_micro"),
        F.expr(
            f"""CASE WHEN {guard} THEN NULL ELSE
            CAST(FLOOR({mbar} * ({mbar} * {mbar} / {s2} + 1.0) / 2.0
              * 1000000) AS BIGINT) END"""
        ).alias("beta_micro"),
    )


def benjamini_yekutieli(
    df: DataFrame,
    id_col: str = "hyp_id",
    p_micro_col: str = "p_micro",
    alpha_micro: int = 50_000,
) -> DataFrame:
    """Benjamini-Yekutieli step-up FDR control — benjamini_hochberg's
    DEPENDENCY-ROBUST sibling: BH's guarantee needs independent (or
    PRDS) p-values, which a battery of per-slice tests on the SAME
    underlying rows rarely satisfies; BY divides the threshold by the
    harmonic factor c(m) = Σ 1/j and holds under ARBITRARY dependence
    (at the price of power).  Exact integer step-up (the BH
    discipline): c(m) accumulates as Σ (1e12 DIV j) over the rank
    spine — truncating per term, deterministic — and the comparison
    is ``p_micro·m·c_pico <= rank·alpha_micro·1e12`` in DECIMAL.
    Same NULL-drop convention and shape as BH (one window over the
    already-aggregated hypothesis table).
    Returns (id, p_micro, rank, m, reject) — BH's schema.
    """
    if not (0 < alpha_micro < 1_000_000):
        raise ValueError(f"alpha_micro must be in (0, 1e6) (got {alpha_micro})")
    df = df.filter(F.col(p_micro_col).isNotNull())
    w = Window.orderBy(F.col(p_micro_col), F.col(id_col))
    ranked = df.select(
        F.col(id_col),
        F.col(p_micro_col).cast("long").alias("p_micro"),
        F.row_number().over(w).cast("long").alias("rank"),
    )
    m = ranked.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.expr("1000000000000 DIV rank")).cast("long").alias("c_pico"),
    )
    cut = (
        ranked.join(F.broadcast(m))
        .filter(
            F.expr(
                f"CAST(p_micro AS DECIMAL(38,0)) * m * c_pico"
                f" <= CAST(rank AS DECIMAL(38,0)) * {int(alpha_micro)}"
                " * 1000000000000"
            )
        )
        .groupBy()
        .agg(F.max("rank").alias("__cut"))
    )
    return (
        ranked.join(F.broadcast(m))
        .join(F.broadcast(cut))
        .select(
            id_col,
            "p_micro",
            "rank",
            "m",
            (F.col("rank") <= F.coalesce(F.col("__cut"), F.lit(0))).alias(
                "reject"
            ),
        )
    )


def seasonal_mann_kendall(
    df: DataFrame,
    part_col: str,
    seq_col: str,
    value_col: str,
    period: int = 12,
) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch & Slack 1984) — the
    monotone-trend question for series with a seasonal cycle, where
    plain mann_kendall confounds trend with seasonality: S is computed
    WITHIN each season (Jan vs Jan, Feb vs Feb, …) and the per-season
    statistics and variances SUM, so the seasonal cycle never enters
    a comparison.

        S = Σ_seasons S_s,   Var = Σ_seasons Var_s (tie-corrected)

    with mann_kendall's continuity-corrected Z on the totals: the
    ``_mann_kendall`` body keyed (partition, season = seq mod period),
    series² work per season, never across seasons. Rows with a NULL
    partition, seq or value drop. Partitions with S-variance 0 drop.
    Returns (part, n, s_stat, var18, z_micro).
    """
    if period < 2:
        raise ValueError(f"period must be >= 2 (got {period})")
    pts = df.dropna(subset=[part_col, seq_col, value_col]).select(
        F.col(part_col).alias("__p"),
        F.col(seq_col).cast("long").alias("__i"),
        F.pmod(F.col(seq_col).cast("long"), F.lit(period)).alias("__s"),
        F.round(F.col(value_col) * 100).cast("long").alias("__x"),
    )
    return _mann_kendall(pts, part_col, ["__p", "__s"])


def dunn_test(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Dunn's post-hoc pairwise test after kruskal_wallis: WHICH group
    pairs differ, using the SAME pooled doubled ranks the omnibus H
    used (never re-ranking per pair — that is the defining difference
    from running mann_whitney_u per pair, and why Dunn is the correct
    follow-up).  For each ordered pair i < j:

        z_ij = (R2_i/(2n_i) - R2_j/(2n_j))
               / sqrt((N(N+1)/12 - T/(12(N-1))) · (1/n_i + 1/n_j))

    with T = Σ_v (t_v³ - t_v) the pooled tie sum — exact integers
    everywhere, one fp64 close per pair, micro-floored.  The k-row
    per-group rank table self-joins (k² pairs, group-domain bounded).
    Feed the emitted pairs to benjamini_hochberg/holm for the
    multiplicity correction.  NULL groups and NULL values drop.
    Returns (g_i, g_j, z_micro) for every i < j by group name order.
    """
    per_g, pooled = _pooled_rank_sums(df, group_col, value_col)
    lo = per_g.select(
        F.col("g").alias("g_i"),
        F.col("n_g").alias("n_i"),
        F.col("r2_g").alias("r2_i"),
    )
    hi = per_g.select(
        F.col("g").alias("g_j"),
        F.col("n_g").alias("n_j"),
        F.col("r2_g").alias("r2_j"),
    )
    pairs = lo.join(hi, F.col("g_i") < F.col("g_j")).join(F.broadcast(pooled))
    return pairs.select(
        "g_i",
        "g_j",
        # all-values-tied degenerates sigma^2 to exactly 0 (tie_num =
        # N^3 - N): NULL, not a divide-by-zero (hypothesis-caught edge)
        F.expr(
            """CASE WHEN tie_num >= CAST(n AS DECIMAL(38,0)) * n * n - n
            THEN NULL ELSE
            CAST(FLOOR(
              (CAST(r2_i AS DOUBLE) / (2.0 * n_i)
               - CAST(r2_j AS DOUBLE) / (2.0 * n_j))
              / SQRT((CAST(n AS DOUBLE) * (n + 1) / 12.0
                      - CAST(tie_num AS DOUBLE) / (12.0 * (n - 1)))
                     * (1.0 / n_i + 1.0 / n_j))
              * 1000000) AS BIGINT) END"""
        ).alias("z_micro"),
    )


def holm_bonferroni(
    df: DataFrame,
    id_col: str = "hyp_id",
    p_micro_col: str = "p_micro",
    alpha_micro: int = 50_000,
) -> DataFrame:
    """Holm step-DOWN familywise-error control — the third member of
    the multiple-testing trio (benjamini_hochberg / benjamini_yekutieli
    control FDR; Holm controls FWER — "no false rejection AT ALL" —
    at Bonferroni's guarantee with uniformly more power, under any
    dependence): walk the p-values ascending and reject while
    ``p_(i) <= alpha/(m - i + 1)``; the FIRST failure stops everything
    after it (the step-down defining property, vs BH's step-up scan
    from the other end).  Exact integer comparison
    ``p_micro·(m - rank + 1) <= alpha_micro``; the stop rank is the
    MIN failing rank over the same one-window shape as BH (the
    hypothesis table is already aggregate-sized).  Same NULL-drop
    convention.  Returns (id, p_micro, rank, m, reject) — the family
    schema, so the three gates are directly comparable on identical
    input (Holm ⊆ ... ⊆ BH is pytest-pinned).
    """
    if not (0 < alpha_micro < 1_000_000):
        raise ValueError(f"alpha_micro must be in (0, 1e6) (got {alpha_micro})")
    df = df.filter(F.col(p_micro_col).isNotNull())
    w = Window.orderBy(F.col(p_micro_col), F.col(id_col))
    ranked = df.select(
        F.col(id_col),
        F.col(p_micro_col).cast("long").alias("p_micro"),
        F.row_number().over(w).cast("long").alias("rank"),
    )
    m = ranked.groupBy().agg(F.count(F.lit(1)).cast("long").alias("m"))
    stop = (
        ranked.join(F.broadcast(m))
        .filter(
            F.col("p_micro") * (F.col("m") - F.col("rank") + 1)
            > F.lit(int(alpha_micro))
        )
        .groupBy()
        .agg(F.min("rank").alias("__stop"))
    )
    return (
        ranked.join(F.broadcast(m))
        .join(F.broadcast(stop))
        .select(
            id_col,
            "p_micro",
            "rank",
            "m",
            (
                F.col("rank")
                < F.coalesce(F.col("__stop"), F.col("m") + 1)
            ).alias("reject"),
        )
    )


def icc_twoway(
    df: DataFrame,
    item_col: str = "item_id",
    rater_col: str = "rater",
    value_col: str = "rating",
) -> DataFrame:
    """Two-way random-effects intraclass correlation ICC(2,1)
    (Shrout & Fleiss case 2) — single-rating reliability when the SAME
    k raters rate every item (the common annotation-platform design),
    so rater bias is a separable column effect icc_oneway's one-way
    model confounds into error:

        ICC(2,1) = (MSR - MSE) / (MSR + (k-1)·MSE + k·(MSC - MSE)/n)

    All-integer identity (the icc_oneway discipline, one level up):
    with exact sums G, Σx², row sums R_i, column sums C_j define
    A = n·ΣR_i² - G² (= nk·SSR), B = k·ΣC_j² - G² (= nk·SSC),
    T = nk·Σx² - G², E = T - A - B (= nk·SSE); multiplying numerator
    and denominator by n·nk(n-1)(k-1) clears every mean-square
    denominator at once:

        num = n·(k-1)·A - n·E
        den = n·(k-1)·A + (k-1)·n·E + k·((n-1)·B - E)

    ONE truncating micro DIV of two exact DECIMAL integers — no float
    ever. The item and rater margin totals (``_margin_totals``, two
    aggregations) give every sum. COMPLETE design is the contract (k
    is the rater count). Rows with a NULL item, rater or value drop.
    Returns one row (n_items, k, icc21_micro).
    """
    cells = df.dropna(subset=[item_col, rater_col, value_col])
    x = F.col(value_col).cast("long")
    raters = _margin_totals(cells, rater_col, x).select(
        F.col("keys").alias("k"), F.col("sk2").alias("sc2")
    )
    t = _margin_totals(cells, item_col, x).crossJoin(raters).select(
        F.col("keys").alias("n"),
        "k",
        F.expr("keys * sk2 - sx * sx").alias("a"),
        F.expr("k * sc2 - sx * sx").alias("b"),
        F.expr("(cells * sx2 - sx * sx) - (keys * sk2 - sx * sx)"
               " - (k * sc2 - sx * sx)").alias("e"),
    )
    return t.select(
        F.col("n").alias("n_items"),
        "k",
        F.expr(
            "CAST((a * n * (k - 1) - e * n) * 1000000"
            " DIV NULLIF(a * n * (k - 1) + e * (k - 1) * n"
            " + (b * (n - 1) - e) * k, 0) AS BIGINT)"
        ).alias("icc21_micro"),
    )
