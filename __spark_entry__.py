"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is one operator family from SURVEY.md §2 /
§2.7, implemented Spark-first in ``hdinsight_pyspark_cntk_integration_spark``
and paired (where SQL-expressible) with a DuckDB oracle in
``oracle_sql()``.

Float-reproducibility rules used throughout (so Spark and DuckDB hash
identically regardless of partitioning):
* multi-row float reductions go through exact DECIMAL arithmetic and are
  cast to DOUBLE at the end;
* integer-valued double sums (l_quantity) are order-independent in fp64;
* per-row double expressions are written with the identical operation
  tree on both sides (deterministic IEEE ops);
* event timestamps (TIMESTAMP-NANOS parquet) are floored to microseconds
  on both sides (Spark can't represent ns).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.functions.textfns import (
    fingerprint_md5,
    punct_ratio,
    token_count,
)
from hdinsight_pyspark_cntk_integration_spark.functions.vector import cosine_similarity
from hdinsight_pyspark_cntk_integration_spark.operators import (
    dedup as dd,
    pipeline as pl,
    relational as rel,
    scoring as sc,
    similarity as sim,
    stats as st,
    text as tx,
)
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

SF001 = "/root/testdata/sf0.001"

# CIFAR-10 label names — the reference's label_to_name_dict
# (reference README.md:236-245), reused as the dim side of the
# broadcast lookup join (R6).
LABEL_NAMES = [
    "airplane", "automobile", "bird", "cat", "deer",
    "dog", "frog", "horse", "ship", "truck",
]

_EMB_DIM = 64
_N_CLASSES = 10


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------
def _dec_sum(col: F.Column, scale: int = 4) -> F.Column:
    """Exact decimal sum of a double column, returned as double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def _revenue() -> F.Column:
    """SUM(dec(l_extendedprice) * dec(1 - l_discount)) as double — exact."""
    return F.sum(
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)")
    ).cast("double")


_SQL_REVENUE = (
    # DuckDB's direct DECIMAL(38,x)->DOUBLE cast is off by 1 ulp on 13+
    # digit values (surfaced by the sf0.1 scale smoke); the string
    # roundtrip is correctly rounded and matches Spark's BigDecimal cast.
    # STRING (not VARCHAR) because this fragment also runs as Spark SQL
    # in q_sql_yearly_revenue; both engines accept STRING.
    "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS STRING) AS DOUBLE)"
)


def _stub_weights_sql() -> list[str]:
    """The linear stub model's weight rows as SQL DOUBLE[] literals —
    bit-identical to operators.scoring.linear_stub_weights."""
    rows = []
    for c in range(_N_CLASSES):
        vals = ", ".join(
            repr(sc.linear_stub_weight(c, i, _EMB_DIM)) for i in range(_EMB_DIM)
        )
        rows.append(f"CAST([{vals}] AS DOUBLE[])")
    return rows


# --------------------------------------------------------------------------
# query implementations (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter + 2-key hash agg (partial+final).
    At scale: single shuffle of |groups| rows; filter pushed to parquet."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _revenue().alias("sum_disc_price"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + top-10 by exact decimal revenue,
    deterministic tie-break on orderkey. No forced broadcast: customer
    is SF-scaled, so AQE decides the strategy from observed size (it
    still broadcasts the BUILDING slice when genuinely small)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; small dims broadcast, facts co-joined
    on their keys; exact decimal revenue per nation."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue().alias("revenue"))
    )


def q_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1-R4 (reference README.md:204-211) on the fixtures: sum-of-boolean
    'correct' count + ratio, one aggregate, no raw-row shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    correct = F.sum((F.col("l_returnflag") == F.lit("N")).cast("long"))
    total = F.count(F.lit(1))
    return li.agg(
        correct.alias("num_correct"),
        total.alias("num_total"),
        (F.lit(100.0) * correct / total).alias("accuracy_pct"),
    )


def q_distinct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 (reference README.md:247): distinct + sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return rel.distinct_sorted(li, "l_returnflag")


def q_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 generalized: fact→dim broadcast lookup chain
    (customer→nation→region), zero fact-side shuffle before the agg."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dec_sum(F.col("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def q_confusion_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 (reference README.md:249): 2-key group count pivoted to a dense
    matrix with an explicit column list, nulls→0."""
    docs = load_table(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    wide = (
        docs.groupBy("source")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return wide


def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: top-3 orders per customer by totalprice
    (row_number with unique tie-break)."""
    orders = load_table(spark, sf_dir, "orders")
    out = rel.topn_per_group(
        orders,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    )
    return out.select(
        "o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("long").alias("rn")
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: suppliers that appear in lineitem."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    return supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: nations with customers but no suppliers (EXCEPT)."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
        .exceptAll(supp.select(F.col("s_nationkey").alias("nationkey")).distinct())
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation over (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (orderstatus, orderpriority)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date scalar family as a pure projection (codegen, no
    shuffle): case conversion, substring, concat, length, date parts."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio3"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events props payload."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the VARIANT type (Spark 4): parse the
    props JSON once into a binary variant, then typed-path extraction
    with variant_get — at scale this is the parse-once/shred-at-rest
    path, vs get_json_object re-parsing the string per expression
    (q_json_extract is the classic twin). Exercises parse, typed get,
    and aggregation over extracted values in one query."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.parse_json("props").alias("pv"),
    )
    k = F.variant_get(F.col("pv"), "$.k", "long")
    return (
        v.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling hourly count and exact value sum per event type: one
    groupBy on the hour-truncated timestamp."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("value"), 6).alias("sum_value"),
        )
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): for each purchase event, the most recent
    view by the same user at-or-before its timestamp. Single-shuffle
    union+last-value implementation (operators.relational.asof_join) —
    no range-join explosion."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    joined = rel.asof_join(
        purchases,
        views,
        keys=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        right_value_cols=["view_event_id", "view_ts"],
    )
    return joined.filter(F.col("view_event_id").isNotNull())


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance (operators.relational.asof_join
    direction='forward', tolerance_seconds=7200): for each purchase, the
    NEXT view by the same user, nulled when it is more than two hours
    later — pandas merge_asof semantics, one shuffle, no range-join
    explosion. Every purchase row is preserved."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    joined = rel.asof_join(
        purchases,
        views,
        keys=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        right_value_cols=["view_event_id", "view_ts"],
        direction="forward",
        tolerance_seconds=7200,
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("view_event_id").alias("next_view_event_id"),
        F.col("view_ts").alias("next_view_ts"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join of fact values into literal tier buckets — broadcast
    nested-loop with a cheap predicate, no fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    tiers = spark.createDataFrame(
        [(1.0, 10.0, "low"), (11.0, 25.0, "mid"), (26.0, 50.0, "high")],
        "lo double, hi double, tier string",
    )
    joined = rel.range_join_broadcast(li, tiers, F.col("l_quantity"), "lo", "hi")
    return joined.groupBy("tier").agg(F.count(F.lit(1)).alias("n"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-of-normalized-text fingerprint groups, min-id
    keeper + copy count (operators.dedup.exact_dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup(docs)


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document md5 fingerprint of normalized text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fingerprint"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality features, all per-row JVM expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.quality_features(docs)


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies, top-100 (map-side combine then tiny
    shuffle of distinct tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.token_histogram(docs, top_n=100)


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality keep/drop filter + survivor count per language."""
    docs = load_table(spark, sf_dir, "documents")
    kept = tx.quality_filter(docs, min_tokens=5, max_punct_ratio=0.3)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators.pipeline.
    split_assign, knuth mixer for cross-engine reproducibility) — pure
    projection, zero shuffle, stable under reruns/retries."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.split_assign(
        docs.select("doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        method="knuth",
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture sampling (data-mixing step): keep src0 fully,
    src1 at 50%, src2 at 20%, everything else at 5% — deterministic
    Bernoulli by id hash, pure pushdown filter."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.mixture_sample(
        docs.select("doc_id", "source"),
        {"src0": 1.0, "src1": 0.5, "src2": 0.2},
        default_fraction=0.05,
        method="knuth",
    )


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: whitespace-token counts, 8
    shards, 512-token blocks. One shuffle (on shard), per-shard window
    cumsum — no global sort (operators.pipeline.pack_chunks)."""
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pl.pack_chunks(with_tokens, budget=512, n_shards=8)


def q_pack_chunks_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global block numbering for packed sequences via distributed
    prefix-sum: shard-local blocks + per-shard offsets (a window over
    n_shards rows) broadcast back — no global sort at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pl.pack_chunks_global(with_tokens, budget=512, n_shards=8)


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial (Rabin-Karp) rolling-hash fingerprint per document —
    pure code-point arithmetic, so the oracle reproduces it exactly
    (functions.textfns.rolling_hash)."""
    from hdinsight_pyspark_cntk_integration_spark.functions.textfns import rolling_hash

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_hash(F.col("text")).alias("rhash"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate-word fraction, top-
    bigram share) — explode + two partial aggs, no per-row fold
    (operators.text.repetition_stats)."""
    from hdinsight_pyspark_cntk_integration_spark.operators.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, n=2)


def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over the
    red parts — 5-way join (lineitem x part x supplier x nation x
    orders), decimal-exact amount sum cast to double last. Dims
    broadcast; the two fact joins shuffle on their keys once each."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)") - F.col("p_retailprice").cast("decimal(18,4)") * F.col(
        "l_quantity"
    ).cast("decimal(18,4)")
    return (
        # part and supplier are SF-scaled — no forced broadcast; AQE
        # picks broadcast at runtime when the filtered side is small.
        li.join(part.filter(F.col("p_name").like("%red%")), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 250 —
    aggregate-then-join (the heavy groupBy runs BEFORE the join, so only
    qualifying orderkeys reach it), customer side joined after the
    filter. l_quantity is integer-valued, so the fp64 sum is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        heavy.join(orders, heavy.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (l_partkey, l_suppkey) —
    the data-skipping layout key, exposed as pure
    bit arithmetic so the oracle checks it bit-for-bit
    (functions.layout.zorder_key2)."""
    from hdinsight_pyspark_cntk_integration_spark.functions.layout import zorder_key2

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key2(
            F.pmod(F.col("l_partkey"), F.lit(65536)),
            F.pmod(F.col("l_suppkey"), F.lit(65536)),
        ).alias("zkey"),
    )


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-10 deterministic sample per language (hash-ranked window,
    operators.pipeline.sample_k_per_group; knuth hash so the oracle
    reproduces the ranking)."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.sample_k_per_group(
        docs, k=10, group_col="lang", id_col="doc_id", method="knuth"
    ).select("doc_id", "lang")


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 token vocabulary with dense deterministic ids
    (operators.text.build_vocab) — distributed count + TakeOrdered cut;
    only the <=V id-assignment window is single-partition."""
    from hdinsight_pyspark_cntk_integration_spark.operators.text import build_vocab

    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, top_v=25)


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id sequences against the top-25 vocab (OOV -> 0) via the
    broadcast-vocab Arrow tokenizer (operators.text.
    tokenize_to_ids_broadcast — zero token-stream shuffle); emitted as
    a joined string so the oracle compares sequences exactly."""
    from hdinsight_pyspark_cntk_integration_spark.operators.text import (
        build_vocab,
        tokenize_to_ids_broadcast,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, top_v=25)
    ids = tokenize_to_ids_broadcast(docs, vocab)
    return ids.select(
        "doc_id",
        F.size("ids").cast("long").alias("n_ids"),
        F.array_join(F.transform("ids", lambda x: x.cast("string")), " ").alias("ids_str"),
    )


def q_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version audit: diff the shard manifests of the current
    corpus and a derived next version (every 97th document dropped —
    a takedown batch) — per-shard doc/token deltas plus a
    checksum-changed flag. Releases diff this constant-size artifact
    instead of re-scanning text; only shards whose checksum moved need
    rewriting (operators.pipeline.shard_manifest, Knuth mixer)."""
    docs = load_table(spark, sf_dir, "documents")
    v2 = docs.filter(F.col("doc_id") % 97 != 0)
    a = pl.shard_manifest(docs, n_shards=16, method="knuth").select(
        "shard",
        F.col("n_docs").alias("n_docs_a"),
        F.col("n_tokens").alias("n_tokens_a"),
        F.col("id_checksum").alias("ck_a"),
    )
    b = pl.shard_manifest(v2, n_shards=16, method="knuth").select(
        "shard",
        F.col("n_docs").alias("n_docs_b"),
        F.col("n_tokens").alias("n_tokens_b"),
        F.col("id_checksum").alias("ck_b"),
    )
    return (
        a.join(b, "shard", "full_outer")
        .select(
            "shard",
            F.coalesce("n_docs_a", F.lit(0)).alias("n_docs_a"),
            F.coalesce("n_docs_b", F.lit(0)).alias("n_docs_b"),
            (F.coalesce("n_docs_a", F.lit(0)) - F.coalesce("n_docs_b", F.lit(0))).alias("docs_removed"),
            (F.coalesce("n_tokens_a", F.lit(0)) - F.coalesce("n_tokens_b", F.lit(0))).alias("tokens_removed"),
            (F.coalesce("ck_a", F.lit(0)) != F.coalesce("ck_b", F.lit(0))).alias("checksum_changed"),
        )
    )


def q_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join (operators.relational.
    point_in_time_join): each purchase picks up the signup-profile value
    whose SCD2 validity interval covers the purchase timestamp — never a
    value from the future (training-leakage guard). History built with
    scd2_history over the deduped signup feed; one shuffle end-to-end,
    no interval-join explosion."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", F.col("value").alias("state_value"))
    )
    history = rel.scd2_history(signups, "user_id", "ts").select(
        "user_id", "state_value", "valid_from", "valid_to"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return rel.point_in_time_join(
        purchases, history, keys=["user_id"], fact_ts="ts",
        attr_cols=["state_value"],
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row-weight deterministic sampling (keep probability = a
    length-based quality proxy; operators.pipeline.weighted_sample,
    knuth hash so the oracle reproduces the draw)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0))
    return pl.weighted_sample(docs, w, method="knuth").select("doc_id", "lang")


def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: per (source, lang) document/char/token totals
    and the exact-duplicate rate — the summary table a dataset release
    ships with. One partial-agg groupBy; fingerprints computed inline
    (count_distinct shuffles one md5 per row at most)."""
    from hdinsight_pyspark_cntk_integration_spark.functions.textfns import (
        fingerprint_md5,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = F.count(F.lit(1))
    n_uniq = F.count_distinct(fingerprint_md5("text"))
    return docs.groupBy("source", "lang").agg(
        n_docs.alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(token_count("text")).alias("total_tokens"),
        n_uniq.alias("n_unique"),
        ((n_docs - n_uniq).cast("double") / n_docs.cast("double")).alias("dup_rate"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: distinct shared word-trigram counts of
    every training doc against a (broadcast) eval set — here every 50th
    document plays the benchmark. Train side never shuffles; only hits
    reach the final aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    return pl.contamination_hits(docs, eval_df)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-style prefiltered decontamination (operators.pipeline.
    contamination_hits_prefiltered): hashed-bucket broadcast semi-join
    prefilter + exact shuffled verify — the scale path when the eval
    n-gram set is too big to broadcast exactly. Bucket count is kept
    deliberately small here (4096) so false positives actually flow
    through the verify join; output is exact regardless."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 37 == 0)
    return pl.contamination_hits_prefiltered(
        docs, eval_df, prefilter_buckets=4096
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher quality-rule audit (operators.text.gopher_rules,
    Rae et al. 2021 A1.1): one boolean per published rule + the keep
    conjunction, all in exact integer arithmetic (cross-multiplied
    thresholds, no float ratios) so the output hash-matches any engine.
    One projection pass, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.gopher_rules(docs)


def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination overlap REPORT (operators.pipeline.
    contamination_overlap): per train doc, distinct trigram count and
    how many are benchmark trigrams (every 41st doc plays the eval set)
    — the numerator/denominator behind the boolean decontaminate cut.
    Broadcast eval set; the train side never shuffles at n-gram width."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 41 == 0)
    return pl.contamination_overlap(docs, eval_df)


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram diversity counts (operators.text.
    ngram_diversity): distinct/total uni-, bi-, and trigram counts as
    exact integers — the Self-BLEU-style repetitiveness audit. One
    codegen projection, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.ngram_diversity(docs)


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outliers (operators.stats.mad_outliers): order totals
    more than 2 MADs from their priority's median — exact interpolating
    percentiles both engines share, deterministic fp64 deviations.
    Two partial-group aggregates + two broadcast joins."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    sub = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    return st.mad_outliers(sub, "o_orderpriority", "o_totalprice", k=2.0)


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity stratification
    (operators.text.perplexity_buckets): bigram-LM NLL per doc under the
    micro-nat discipline, corpus tercile thresholds via one broadcast
    1-row exact-percentile aggregate, boundary docs to the lower bucket."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.perplexity_buckets(docs)


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup closure (operators.dedup.embedding_dedup): exact cosine
    verify at threshold 0.4, transitive components, min-id
    representative kept. Candidates here are the exact all-pairs set so
    the DuckDB oracle (brute-force pairs + recursive-CTE closure) is
    checkable; the scale path passes LSH candidates instead."""
    # Bounded to the first 500 vectors at every SF: the exact all-pairs
    # candidate set (oracle-checkable brute force) is quadratic, so the
    # gate form pins a constant-size slice; the LSH scale path is the
    # production candidate generator (planted-pair + agreement pytest).
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    ids = emb.select("vec_id")
    cand = (
        ids.select(F.col("vec_id").alias("id_a"))
        .join(F.broadcast(ids.select(F.col("vec_id").alias("id_b"))),
              F.col("id_a") < F.col("id_b"))
    )
    return dd.embedding_dedup(emb, threshold=0.4, candidates=cand).select("vec_id")


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL canonicalization + dedup (functions.textfns.
    canonical_url): four deterministic messy variants per page group
    (case-shuffled scheme/host, utm/fbclid tracking params, fragments,
    trailing slash, unsorted params) collapse to their canonical form;
    output is per canonical URL the variant count and min doc id — pure
    string algebra, one projection + one partial-agg groupBy."""
    from hdinsight_pyspark_cntk_integration_spark.functions.textfns import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    k = (F.col("doc_id") / 4).cast("long").cast("string")
    site = F.concat(F.lit("site"), F.pmod((F.col("doc_id") / 4).cast("long"), F.lit(5)).cast("string"))
    v = F.pmod(F.col("doc_id"), F.lit(4))
    raw = (
        F.when(v == 0, F.concat(F.lit("https://"), F.upper(site), F.lit(".Example.com/page/"), k, F.lit("/?utm_source=a&b=2&a=1")))
        .when(v == 1, F.concat(F.lit("HTTPS://"), site, F.lit(".example.COM/page/"), k, F.lit("?a=1&b=2&fbclid=xyz#top")))
        .when(v == 2, F.concat(F.lit("https://"), site, F.lit(".example.com/page/"), k, F.lit("?b=2&a=1")))
        .otherwise(F.concat(F.lit("https://"), site, F.lit(".EXAMPLE.com/page/"), k, F.lit("#frag")))
    )
    return (
        docs.select(F.col("doc_id"), canonical_url(raw).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search via Reciprocal Rank Fusion (operators.similarity.
    rrf_fuse): the BM25 top-20 for the fixed term set fused with the
    embedding-cosine top-20 against document 0's vector (ids align
    across the documents/embeddings fixtures); score = sum of
    1/(60+rank), ranks tie-broken on doc_id — fully deterministic.
    Rank windows run over the truncated 20-row lists only."""
    from hdinsight_pyspark_cntk_integration_spark.functions.vector import dot, l2_norm

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = tx.bm25_scores(docs, _BM25_TERMS, top_k=20).select("doc_id", "bm25")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__qv"), l2_norm("embedding").alias("__qn")
    )
    cos = (
        emb.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            (dot("embedding", "__qv") / (l2_norm("embedding") * F.col("__qn"))).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.col("doc_id"))
        .limit(20)
    )
    return sim.rrf_fuse([(bm, "bm25"), (cos, "cos")], id_col="doc_id", rrf_k=60, top_n=10)


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates (operators.sketch.cms_build
    / cms_estimate): a 4x512 CMS over orders' o_custkey, probed for 25
    customers, paired with exact counts and the one-sided bound check
    (est >= exact always). The Knuth affine bucket family keeps the
    whole estimator in SQL-reproducible integer arithmetic."""
    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    orders = load_table(spark, sf_dir, "orders")
    sketch = sk.cms_build(orders, "o_custkey", depth=4, width=512)
    probes = orders.select("o_custkey").filter(F.col("o_custkey") % 40 == 1).distinct()
    est = sk.cms_estimate(sketch, probes, "o_custkey", depth=4, width=512)
    exact = (
        orders.join(probes, "o_custkey", "left_semi")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
    )
    return est.join(exact, "o_custkey").select(
        "o_custkey", "est", "exact", (F.col("est") >= F.col("exact")).alias("bound_ok")
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators.similarity.hard_negatives): per
    anchor (vec_ids 0-2), top-5 corpus vectors with cosine in the hard
    band [0.30, 0.45) — informative negatives below the near-dup ceiling.
    Band filter before the bounded top-k; corpus never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.self_queries(emb, [0, 1, 2])
    return sim.hard_negatives(emb, queries, k=5, lo=0.30, hi=0.45)


def q_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-core of the strong nation trade graph (operators.graph.k_core,
    wt >= 160 undirected): iterative peeling with the cascade a one-shot
    degree cut misses; converges in 2 rounds on this fixture (pinned in
    pytest). Oracle unrolls 4 peeling rounds as CTEs — extra rounds are
    no-ops past the fixpoint, so the unroll is exact."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("wt"))
        .filter(F.col("wt") >= 160)
        .select("src", "dst")
    )
    return gr.k_core(edges, k=5)


def q_near_dup_against_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-able exact twin of near_dup_against: cross-corpus word-
    trigram Jaccard over a bounded all-pairs slice (new = last 50 doc
    ids vs base = the rest), raw STRING shingles so DuckDB reproduces
    the arithmetic bit-for-bit (the LSH operator hashes shingles with
    xxhash64, which SQL cannot mirror — that path stays rows-only with
    its planted-pair pytest). Pairs with jaccard >= 0.3."""
    docs = load_table(spark, sf_dir, "documents")
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_shingles

    hi = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    cut = hi - 49
    sh = docs.select(
        F.col("doc_id"), word_shingles("text", 3).alias("sh")
    ).withColumn("sh", F.filter(F.col("sh"), lambda s: F.length(s) > 0))
    new = sh.filter(F.col("doc_id") >= cut).select(
        F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_n")
    )
    base = sh.filter(F.col("doc_id") < cut).select(
        F.col("doc_id").alias("base_id"), F.col("sh").alias("sh_b")
    )
    jac = (
        F.size(F.array_intersect("sh_n", "sh_b")).cast("double")
        / F.size(F.array_union("sh_n", "sh_b")).cast("double")
    )
    return (
        # broadcast the bounded side: new is exactly 50 docs at every
        # SF; base is the rest of the corpus and scales with SF.
        base.crossJoin(F.broadcast(new))
        .select("new_id", "base_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
    )


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (operators.mining.frequent_pairs): brand
    pairs co-purchased in the same order, Apriori-pruned before the pair
    self-join, with support/confidence/lift in exact integer micro-units.
    Items = p_brand (bounded domain), baskets = orders."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return mn.frequent_pairs(baskets, "basket", "item", min_support=50, min_pair_support=20)


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (operators.mining.rfm_segments): per-nation
    recency/frequency/monetary NTILE quartiles with customer-key
    tie-breaks — deterministic, partitioned windows (never a global
    sort), money in integer cents."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "o_custkey", "o_orderdate", "o_totalprice", "c_nationkey"
    )
    return mn.rfm_segments(joined, "c_nationkey")


def q_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 analysis (operators.mining.pareto_contribution): per
    supplier nation, the minimal supplier set covering 80% of lineitem
    revenue — per-group windowed cumsum over the per-supplier rollup,
    integer cents throughout."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = li.join(sup, li["l_suppkey"] == sup["s_suppkey"]).select(
        F.col("s_nationkey"),
        F.col("l_suppkey"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return mn.pareto_contribution(rev, "s_nationkey", "l_suppkey", "cents")


def q_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-sketch set intersection (operators.sketch.kmv_sketch_by_group
    / kmv_intersect_estimate): distinct-user overlap between event-type
    pairs, estimated from k-minimum-value sketches (the set operation
    HLL cannot do) and gated against the exact intersection with a
    quantified bound — the same bounded-assertion pattern as
    q_hll_distinct_bounded. k=512 ⇒ sketches are exact below 512
    distinct users per type and ~4.4%-error estimates above."""
    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    ev = load_table(spark, sf_dir, "events")
    sketches = sk.kmv_sketch_by_group(ev, "event_type", "user_id", k=512)
    est = sk.kmv_intersect_estimate(sketches, k=512)
    du = ev.select(F.col("event_type"), F.col("user_id")).distinct()
    exact = (
        du.select(F.col("event_type").alias("grp_a"), "user_id")
        .join(du.select(F.col("event_type").alias("grp_b"), "user_id"), "user_id")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersect"))
    )
    tol = F.greatest(
        F.round(F.col("exact_intersect") * 0.25).cast("long"), F.lit(64).cast("long")
    )
    return (
        est.join(exact, ["grp_a", "grp_b"])
        .select(
            "grp_a",
            "grp_b",
            "exact_intersect",
            (F.abs(F.col("intersect_est") - F.col("exact_intersect")) <= tol).alias(
                "sketch_ok"
            ),
        )
    )


def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide sentence dedup (operators.dedup.sentence_dedup): the
    CCNet/RefinedWeb line-dedup stage — sentences appearing in >= 2
    distinct docs are dropped everywhere but their minimum-doc-id
    keeper, texts reassembled in order. The fixture's sentences are
    unique across docs, so the query unions a shifted copy of the first
    20 docs (doc_id + 100000) to plant real cross-doc duplicates and
    exercise the drop path under the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return dd.sentence_dedup(docs.unionByName(planted), min_docs=2)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators.text.dsir_weights, Xie et al.
    2023): score non-target docs by hashed-unigram log-likelihood ratio
    against the source='src3' target slice — md5-bucket models, add-one
    smoothing, micro-nat quantization at the 256-bucket model level so
    every doc score is an exact integer sum."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.dsir_weights(docs, F.col("source") == "src3", dim=256)


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 projection (operators.similarity.
    random_projection): embeddings quantized to floor(v·1024) ints, then
    projected to 8 dims with an md5-derived Achlioptas sign matrix —
    exact integer dot products, zero shuffles, whole-stage codegen.
    input_dim=64 precomputes the 8×64 sign matrix at plan time (bit
    strings + substr) instead of per-row md5 chains; rows of any other
    length would fall back element-wise, so results are unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.random_projection(emb, out_dim=8, scale=1024, input_dim=64)


def q_communities_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (operators.graph.
    label_propagation) on the strong nation trade graph (wt >= 120,
    undirected): most-frequent-neighbor label with min tie-break,
    simultaneous updates, exactly 2 rounds — deterministic, so the
    oracle unrolls the rounds as ROW_NUMBER-argmax CTEs (the sixth
    oracle-green iterative algorithm beside pagerank/bfs/components/
    triangles/k-core)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("wt"))
        .filter(F.col("wt") >= 120)
        .select("src", "dst")
    )
    return gr.label_propagation(edges, rounds=2)


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency PMI table (operators.stats.mutual_information):
    is a document's language independent of its source? One row per
    observed (lang, source) cell with exact counts and the micro-nat
    PMI — one domain-bounded partial-agg shuffle, marginals as windows
    over the cells, ln on pure count ratios in a fixed order."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    docs = load_table(spark, sf_dir, "documents")
    return st.mutual_information(docs, "lang", "source")


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend (operators.stats.theil_sen): median-of-
    pairwise-slopes revenue trend per customer nation over MONTHLY
    revenue points (x = months since year 0, y = cents) — the bounded
    pre-aggregation the operator's contract demands (<= ~90 points per
    nation, so <= ~4000 pairs). Slopes/medians are IEEE ratios of exact
    longs, micro-floored at the end; the oracle replicates the median
    as the same sorted-array middle-element expression (never DuckDB's
    native median, whose interpolation order could differ in the last
    ulp)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    monthly = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    fit = st.theil_sen(monthly, "nation", "x", "y", max_points=256)
    return fit.select(
        "nation", "n_points", "n_pairs",
        F.floor(F.col("slope") * 1_000_000.0).cast("long").alias("slope_micro"),
        F.floor(F.col("intercept")).cast("long").alias("intercept_cents"),
    )


def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted reservoir sampling (operators.mining.
    weighted_reservoir_sample): exactly 5 docs per language drawn
    proportional to an integer weight (1 + n_chars mod 7) via the
    max-of-w-uniforms form of Efraimidis-Spirakis — md5-derived 60-bit
    priorities, no RNG state, top-k through the two-stage bounded_topk.
    The oracle reproduces the identical priorities (same md5 chain) and
    the identical (priority DESC, id) ranking."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.select(
        "lang", "doc_id", (F.lit(1) + F.pmod(F.col("n_chars"), F.lit(7))).alias("w")
    )
    return mn.weighted_reservoir_sample(weighted, "lang", "doc_id", "w", k=5)


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (operators.mining.funnel_steps): view → click →
    purchase with earliest-completion semantics and a 30-day horizon
    from each user's first view. Per-step reach counts plus integer-
    micro conversion ratios; per-user state is one timestamp per step,
    counts union lazily into a single action."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    ev = load_table(spark, sf_dir, "events")
    return mn.funnel_steps(
        ev, ["view", "click", "purchase"], horizon_seconds=30 * 86400
    )


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit per language (operators.text.zipf_slope): OLS of
    ln(freq) on ln(rank) over each language's top-64 tokens — micro-nat
    quantization at birth, exact long sums, fixed-order double ratios
    for the closed-form slope/intercept."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.zipf_slope(docs, lang_col="lang", top_n=64)


def q_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocations (operators.text.pmi_cooccur): PMI of ordered token
    pairs within 2 positions, n_ab >= 5 — pair slots emitted per row by
    a transform×transform over the token array (zero-shuffle pair
    generation), one pair groupBy, broadcast marginal joins."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.pmi_cooccur(docs, window=2, min_pairs=5)


def q_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR normalization (operators.stats.robust_scaler): order
    totals scaled within each order priority — the outlier-immune twin
    of z-scoring; exact interpolating percentiles both engines share,
    IQR=0 groups dropped by the same guard as mad_outliers."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    out = st.robust_scaler(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        "o_orderpriority",
        "o_totalprice",
    )
    return out.select("o_orderpriority", "o_orderkey", "med", "iqr", "robust_scaled")


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness per user (operators.stats.burstiness):
    B = (σ−μ)/(σ+μ) over inter-arrival gaps — the bot/scraper signal a
    raw event count can't see. Gaps in exact integer µs, Σg telescopes
    into a long, Σg² in DECIMAL(38,0), IEEE-exact sqrt, micro floor."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    return st.burstiness(ev, "user_id", "ts")


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions (operators.mining.
    markov_transitions): consecutive event-type pairs per user with
    P(dst|src) in integer micro-units; (ts, state) ordering makes the
    successor choice a total order, so counts are engine-reproducible."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    ev = load_table(spark, sf_dir, "events")
    return mn.markov_transitions(ev, "user_id", "event_type", "ts")


def q_script_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class histogram (operators.text.script_histogram):
    letters/digits/space/punct/other counts per document via
    length-diff regexp projections — pure integer arithmetic, zero
    shuffles, the pre-tokenizer mojibake/base64 screen."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.script_histogram(docs)


def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (operators.text.
    kneser_ney_bigram, d=0.75): the continuation-count smoothing that
    separates "frequent token" from "token that follows many contexts".
    All counts exact integers; the probability is one fixed-order
    double ratio chain floored to micro — the oracle writes the
    identical expression."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.kneser_ney_bigram(docs, min_count=3)


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords (operators.text.textrank_keywords): integer
    micro-unit PageRank (graph.pagerank_integer, 3 sweeps) over the
    in-window token co-occurrence graph — an oracle-PROVABLE iterative
    keyword extractor (unrolled CTEs), composed from the zero-shuffle
    pair stream and the exact PageRank already in the engine."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.textrank_keywords(docs, window=2, min_cooccur=3, iters=3, top_k=20)


def _monthly_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly customer-nation revenue points (nation, t, v): t = months
    since year 0, v = exact integer cents — the bounded pre-aggregated
    series the time-series operators' contracts demand (same rollup the
    theil_sen gate uses)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("t"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1..6 (operators.stats.autocorrelation) of each
    nation's monthly revenue series — the seasonality/persistence
    diagnostic. All moments exact DECIMAL(38,0) integers via the
    expanded mean-centered sums; the ACF is ONE double division,
    micro-floored, so the oracle's HUGEINT replication hash-matches."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pts = _monthly_nation_revenue(spark, sf_dir)
    return st.autocorrelation(pts, "nation", "t", "v", max_lag=6)


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical 2×12 centered-MA seasonal indices (operators.stats.
    seasonal_decompose) of monthly nation revenue: which calendar months
    run above trend, per nation. Trend numerator and detrended values
    stay exact integers; one window pass + one groupBy."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pts = _monthly_nation_revenue(spark, sf_dir)
    return st.seasonal_decompose(pts, "nation", "t", "v", period=12)


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with smoothing=20 (operators.
    mining.target_encode): encode c_mktsegment by the mean o_totalprice
    of the segment's OTHER orders — label-leakage-free categorical
    encoding. Integer cents + DECIMAL sums; one domain-bounded groupBy
    broadcast back inside target_encode. The customer join carries no
    broadcast hint — customer is SF-scaled, AQE picks the strategy."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rows = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders["o_custkey"] == F.col("c_custkey"),
    )
    return mn.target_encode(
        rows, "c_mktsegment", "o_totalprice", "o_orderkey", smoothing=20
    )


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence / Information Value (operators.mining.woe_iv)
    of o_orderpriority against the fulfilled-order outcome — the
    credit-scoring-standard categorical strength measure. One
    domain-bounded cell aggregate, totals as windows over cells, ln
    quantized per the engine float discipline."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "is_fulfilled", F.col("o_orderstatus") == F.lit("F")
    )
    return mn.woe_iv(orders, "o_orderpriority", "is_fulfilled")


def q_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard neighborhood link prediction (operators.graph.
    jaccard_neighbors) on the strong nation trade graph — the
    normalized companion to adamic_adar: what FRACTION of two nations'
    combined strong-partner circles overlaps. All-integer: counts and
    one floor-division, no float anywhere."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    return gr.jaccard_neighbors(_strong_trade_edges(spark, sf_dir))


def q_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jaccard_neighbors with the max_degree hub cap engaged (=12 —
    bites at every SF: trade-graph degrees run 1..15 at sf0.001 and
    5..24 at sf0.01, so the cap drops real hubs while apexes and
    non-adjacent wedge pairs survive): the capped-vs-uncapped
    gate pair ordered by VERDICT r8 #4. The cap drops hub APEXES from
    wedge enumeration (the Σ deg·(deg-1)/2 scale knob; README's hub-cap
    cost profile, whose one-off profiler tools/profile_hub_cap.py is in
    git history) while the Jaccard denominator keeps TRUE
    degrees; the oracle applies the identical deg <= 12 apex filter, so
    the lossy cut is deterministic and provable, not approximate."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    return gr.jaccard_neighbors(_strong_trade_edges(spark, sf_dir), max_degree=12)


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (operators.graph.adamic_adar) on the
    strong nation trade graph: which weakly-trading nation pairs share
    the most rare strong mutual partners. "Strong" is SCALE-FREE —
    wt >= 1.1× the mean pair weight, compared as exact cross-multiplied
    integers (wt·n_pairs·10 >= 11·total), so the graph keeps meaningful
    structure at every SF instead of completing at high volume the way
    an absolute cut does. Per-neighbor terms are micro-quantized at
    birth so AA is a pure integer sum — the pagerank_integer
    determinism discipline applied to a score."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    return gr.adamic_adar(_strong_trade_edges(spark, sf_dir))


def _strong_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-free strong nation trade graph: directed (supplier nation →
    customer nation) pairs whose weight is >= 1.1× the mean pair weight,
    compared as exact cross-multiplied integers — keeps meaningful
    structure at every SF where an absolute cut completes the graph."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    weighted = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
        # referenced twice (totals + edge filter): materialize the
        # bounded 625-row rollup so the 4-table join runs once
        .localCheckpoint(eager=True)
    )
    totals = weighted.groupBy().agg(
        F.sum("wt").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("np"),
    )
    return (
        weighted.crossJoin(F.broadcast(totals))
        .filter(F.col("wt") * F.col("np") * F.lit(10) >= F.lit(11) * F.col("tot"))
        .select("src", "dst")
    )


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius harmonic centrality (operators.graph.
    harmonic_centrality, max_hops=3) on the strong nation trade graph:
    Σ 1/d(u,v) with exact integer BFS hops, per-pair terms
    micro-quantized at birth, integer-summed — disconnected-safe
    centrality the oracle replicates by unrolling the three BFS rounds
    as min-hop CTEs."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    return gr.harmonic_centrality(_strong_trade_edges(spark, sf_dir), max_hops=3)


def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (operators.stats.holt_linear,
    α=0.5, β=0.2) over monthly nation revenue — level+trend state and
    one-step forecast. The fold is sequential by nature; determinism
    comes from identical IEEE op order over the sorted series, which
    the oracle replicates with a recursive CTE computing the SAME
    fixed-order expressions (including deriving 1−β by subtraction,
    exactly as the operator does)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pts = _monthly_nation_revenue(spark, sf_dir)
    return st.holt_linear(pts, "nation", "t", "v", alpha=0.5, beta=0.2)


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (operators.text.heaps_law):
    V(N) ≈ K·N^β over the corpus in doc_id order — type-births via
    one min-doc groupBy make the 'cumulative vocabulary' fully
    distributed; ln quantized to micro at birth, OLS moments in
    DECIMAL(38,0)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.heaps_law(docs)


def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson / Gini-Simpson token diversity per document source
    (operators.text.simpson_diversity): exact integer Σnᵢ(nᵢ−1) over
    N(N−1) — the heavy-hitter-sensitive twin of token_entropy."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.simpson_diversity(docs, "source")


def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse TF cosine via inverted index (operators.
    similarity.sparse_cosine_pairs, max_df_ppm=10% of docs, cos >=
    0.5): posting-list self-join with a SCALE-FREE stopword df-cut
    applied BEFORE the join (exact cross-multiplied integers, so the
    cut means the same thing at every SF); exact integer dot products,
    IEEE-sqrt norms, one double chain micro-floored."""
    docs = load_table(spark, sf_dir, "documents")
    return sim.sparse_cosine_pairs(
        docs, max_df_ppm=100_000, min_cos_micro=500_000, min_dot=2
    )


_TAG_TERMS = {
    "join": 5, "hash": 4, "scan": 3, "filter": 3,
    "window": 2, "spark": 2, "the": 1, "a": 1,
}


def q_dictionary_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-lexicon tagging (operators.text.dictionary_tag,
    literal-map path): per-document token count, dictionary hits,
    distinct terms, weight score — ZERO shuffles, zero joins, the
    lexicon baked into the plan as a literal map. All-integer output;
    the join path is twin-tested equal in pytest."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.dictionary_tag(docs, _TAG_TERMS)


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test (operators.stats.welch_ttest):
    do URGENT and LOW priority orders differ in mean value? Moments in
    DECIMAL(38,0) from integer cents, t and Welch-Satterthwaite df as
    one fixed-order fp64 chain each, micro-floored."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    return st.welch_ttest(
        orders, "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW"
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + FK grade per document (operators.text.
    readability): fixed deterministic conventions (sentence-terminator
    runs, vowel-group syllables with a 1-minimum) so the scores are
    exact-integer-backed and oracle-replicable; one narrow projection,
    zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.readability(docs)


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (operators.mining.attribution) over the
    event stream: purchase conversions credited to preceding touch
    channels under first/last/linear simultaneously — one reverse
    running-min window assigns each touch its next conversion, linear
    credit quantized floor(1e6/n) per touch then integer-summed."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    ev = load_table(spark, sf_dir, "events")
    return mn.attribution(
        ev,
        user_col="user_id",
        ts_col="ts",
        channel_col="event_type",
        conversion_expr=F.col("event_type") == F.lit("purchase"),
        id_col="event_id",
    )


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization (operators.dedup.
    canonical_docs): transitive closure over the deterministic
    duplicate-pair graph (same-lang adjacent ids — the dedup_transitive
    graph), then one highest-n_chars representative per cluster with
    min-id tie-break; singletons self-canonical. The keep/drop decision
    layer over connected components, all-integer."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("la"))
    b = docs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lb"),
    )
    pairs = a.join(b, "id_a").filter(F.col("la") == F.col("lb")).select("id_a", "id_b")
    return dd.canonical_docs(docs, pairs)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty (operators.text.ngram_novelty): fraction
    of a doc's distinct word trigrams appearing in no other document —
    the contribution signal dual to duplication. Exact integer counts,
    one micro-floored ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.ngram_novelty(docs, n=3)


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressibility per document (operators.text.
    compression_ratio) — the Gopher-family repetitiveness screen, run
    through the engine's Arrow-batched pandas-UDF path (no builtin
    expresses a byte-level transform). Deterministic for a fixed zlib,
    but with NO SQL analogue: declared rows-only; the pytest twin pins
    the exact integers against stdlib zlib."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.compression_ratio(docs)


def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-up forest aggregation (operators.graph.hierarchy_rollup)
    over the customer→nation→region tree (namespaced string ids):
    every node's subtree revenue and descendant count in exactly
    max_depth=2 synchronous lift rounds — the eighth oracle-provable
    iterative algorithm (oracle: recursive descendant closure + one
    GROUP BY)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cust_val = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("v"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    values = (
        cust_val.select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("node"),
            F.col("v").alias("value"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("node"),
                F.lit(0).cast("long").alias("value"),
            )
        )
        .unionByName(
            load_table(spark, sf_dir, "region").select(
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("node"),
                F.lit(0).cast("long").alias("value"),
            )
        )
    )
    edges = (
        cust_val.select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("child"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("parent"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("child"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("parent"),
            )
        )
    )
    return gr.hierarchy_rollup(edges, values, max_depth=2)


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves (operators.mining.cohort_ltv):
    first-order-month cohorts, cumulative revenue by months-since-
    cohort, integer micro-dollars per head via DECIMAL division — the
    money twin of cohort_retention."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    orders = load_table(spark, sf_dir, "orders")
    return mn.cohort_ltv(orders)


def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five order priorities
    (operators.stats.anova_f): do mean order values differ by
    priority? Per-group DECIMAL moments; the bounded Cauchy-Schwarz
    decomposition (each group's (Σx)²/(nQ) ∈ [0,1], pico-quantized
    at birth, integer-summed) keeps the statistic exact AND
    overflow-free at any corpus size."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    return st.anova_f(orders, "o_orderpriority", "o_totalprice")


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b per customer market segment
    (operators.stats.kendall_tau): does monthly revenue move
    monotonically with monthly order count? The series is the
    (segment, month) AGGREGATE — pair enumeration is segments ×
    months², never raw rows²; C/D/tie counts are exact integers."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    series = (
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long").alias("rev"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )
    return st.kendall_tau(series, "segment", "m", "rev", "cnt")


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 6-month revenue↔quantity Pearson per return flag
    (operators.stats.rolling_corr): the time-localized co-movement
    monitor. Window sums run over the (flag, month) aggregate in
    DECIMAL; one fp64 chain per emitted row; partial windows drop."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")
    series = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
        .cast("long").alias("m"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long").alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
    )
    return st.rolling_corr(series, "flag", "m", "rev", "qty", window=6)


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per supplier nation
    (operators.mining.hhi_concentration): HHI over each supplier's
    share of its nation's discounted lineitem revenue — share²
    pico-quantized at birth then integer-summed, window over the
    (nation, supplier) aggregate only."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    joined = li.join(
        supplier.select("s_suppkey", "s_nationkey"),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select(
        F.col("s_nationkey").alias("nationkey"),
        F.col("l_suppkey").alias("suppkey"),
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .alias("rev"),
    )
    return mn.hhi_concentration(joined, "nationkey", "suppkey", "rev")


def q_sssp_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round Bellman-Ford (operators.graph.sssp_weighted, 3
    rounds) over the directed nation trade graph, edge cost = 100 −
    distinct trading months (rarely-trading pairs are expensive; the
    month count is calendar-bounded, hence scale-free). The NINTH
    oracle-provable iterative algorithm: the oracle closes paths of
    <= 3 edges recursively and takes the min."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .agg(
            (F.lit(100) - F.countDistinct(
                F.year("l_shipdate") * 12 + F.month("l_shipdate")
            )).cast("long").alias("weight")
        )
    )
    return gr.sssp_weighted(edges, [0], max_rounds=3)


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-repurchase curves per market segment
    (operators.stats.kaplan_meier): each order is a subject, duration
    = days until the same customer's NEXT order (event) or until the
    corpus horizon (right-censored last orders — the thing a naive
    mean inter-order gap silently drops). The product telescopes
    through micro-nat quantization, so the curve hash-matches the
    windowed oracle."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    return st.kaplan_meier(
        _repurchase_subjects(spark, sf_dir), "segment", "dur", "ev"
    )


def q_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact directed set-containment join over the documents corpus
    (operators.dedup.containment_join, threshold 0.6 on word
    3-shingles): quote/excerpt pairs Jaccard can't see. Asymmetric
    prefix filter + integer threshold verify — the oracle brute-forces
    all directed pairs and must agree exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.containment_join(docs, threshold=0.6)


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (operators.mining.diff_in_diff):
    BUILDING-segment customers as the treated group, the 1998-07-01
    cutover as the event — did BUILDING's mean order value move more
    than everyone else's across it? Twelve DECIMAL cell moments in one
    scan; DiD/SE/t are one fp64 chain each."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rows = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        (F.col("c_mktsegment") == F.lit("BUILDING")).alias("treat"),
        (F.col("o_orderdate") >= F.lit("1998-07-01").cast("date")).alias("post"),
        F.col("o_totalprice").alias("v"),
    )
    return mn.diff_in_diff(rows, "treat", "post", "v")


def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price~size OLS (operators.stats.grouped_ols): one
    regression per brand from five DECIMAL moments — slope, intercept,
    R² each one fp64 chain, no group ever collected."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    part = load_table(spark, sf_dir, "part")
    return st.grouped_ols(part, "p_brand", "p_size", "p_retailprice")


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per order priority
    (operators.stats.mann_kendall): is monthly revenue trending, and
    with what Z? Pair counting over the (priority, month) AGGREGATE;
    S and tie-corrected 18·Var are exact integers."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    series = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long").alias("m"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("rev")
    )
    return st.mann_kendall(series, "priority", "m", "rev")


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate vs the corpus top-300 vocabulary
    (operators.text.oov_rate): tokenizer-coverage routing signal.
    Vocabulary is the deterministic (freq DESC, token) TakeOrdered
    cut; OOV counts are over occurrences."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.oov_rate(docs, top_v=300)


_RECURSIVE_CLOSURE_SQL = """
    WITH RECURSIVE edges AS (
      SELECT concat('c', CAST(c_custkey AS STRING)) AS child,
             concat('n', CAST(c_nationkey AS STRING)) AS parent
      FROM customer
      UNION ALL
      SELECT concat('n', CAST(n_nationkey AS STRING)),
             concat('r', CAST(n_regionkey AS STRING))
      FROM nation
    ),
    up (node, anc, depth) AS (
      SELECT child, parent, 1 FROM edges
      UNION ALL
      SELECT u.node, e.parent, u.depth + 1
      FROM up u JOIN edges e ON e.child = u.anc
    )
    SELECT anc, CAST(depth AS BIGINT) AS depth,
      CAST(COUNT(*) AS BIGINT) AS n_desc
    FROM up GROUP BY anc, depth
"""


def q_recursive_cte_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 native WITH RECURSIVE (SQL surface): the ancestor
    closure of the customer→nation→region forest with per-(ancestor,
    depth) descendant counts — the SAME SQL text, byte-identical, runs
    on Spark and DuckDB (STRING is a valid type alias in both).
    Complements the DataFrame-loop iterative family (bfs/sssp/rollup)
    with the declarative form."""
    for t in ("customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_RECURSIVE_CLOSURE_SQL)


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size histogram (composition over
    operators.dedup.exact_dedup): how much of the corpus is singleton
    vs heavily-copied — the data-card number a dedup decision starts
    from. (cluster_size, n_clusters, n_docs = size × clusters)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        dd.exact_dedup(docs)
        .groupBy(F.col("n_copies").cast("long").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long")
            .alias("n_docs"),
        )
    )


def _urgent_labelled_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, v=acctbal, y=placed >= 1 URGENT order) — the shared
    scored-population frame for the ML-eval queries (auc_balance,
    calibration_balance)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .select("c_custkey", F.lit(True).alias("__u"))
    )
    return customer.join(urgent, "c_custkey", "left").select(
        "c_custkey",
        F.col("c_acctbal").alias("v"),
        F.col("__u").isNotNull().alias("y"),
    )


def q_auc_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (operators.stats.auc): does account balance rank
    urgent-order customers above the rest? U-statistic over the
    distinct-score aggregate with average-rank ties — the rank-only
    eval; calibration_balance is the value-based complement."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    return st.auc(_urgent_labelled_customers(spark, sf_dir), "v", "y")


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table (operators.stats.
    calibration_bins): min-max-normalized account balance as a [0,1]
    "score" for the urgent-order label, 10 equal-width bins, mean
    predicted vs observed positive rate — score micro-quantized AT
    BIRTH, every aggregate an integer."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pop = _urgent_labelled_customers(spark, sf_dir)
    mm = pop.groupBy().agg(
        F.min("v").alias("__mn"), F.max("v").alias("__mx")
    )
    scored = pop.join(F.broadcast(mm)).select(
        ((F.col("v") - F.col("__mn")) / (F.col("__mx") - F.col("__mn")))
        .alias("score"),
        "y",
    )
    return st.calibration_bins(scored, "score", "y", bins=10)


def q_cuped_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B spend comparison (operators.stats.cuped_ab):
    arms by the ANSI-reproducible knuth mixer (the ab_test_lift
    assignment), metric = post-cutover purchase spend per user,
    covariate = pre-cutover spend — the variance-reduced experiment
    readout. Per-event cents quantization keeps per-user sums exact
    before the moment pass."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        pl.hash_bucket(F.col("user_id"), "knuth") % 2 == 0, "A"
    ).otherwise("B")
    cut = F.lit("2024-01-16").cast("timestamp")
    is_p = F.col("event_type") == "purchase"
    cents = F.round(F.col("value") * 100).cast("long")
    units = ev.groupBy(F.col("user_id"), arm.alias("arm")).agg(
        F.sum(F.when(is_p & (F.col("ts") >= cut), cents).otherwise(0))
        .cast("long").alias("post"),
        F.sum(F.when(is_p & (F.col("ts") < cut), cents).otherwise(0))
        .cast("long").alias("pre"),
    )
    return st.cuped_ab(units, "arm", "post", "pre", "A", "B")


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal smoothing per nation
    (operators.stats.holt_winters, period 12 on monthly revenue):
    level+trend+season state folded over the sort_array-ed series in
    one HOF — the oracle carries the 12-slot seasonal LIST through a
    recursive CTE. Smoothing params 0.5/0.25/0.25 are exact binary
    fractions, so 1−x literals are bit-identical in both engines."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    series = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long").alias("rev")
        )
    )
    return st.holt_winters(
        series, "nation", "m", "rev", period=12,
        alpha=0.5, beta=0.25, gamma=0.25,
    )


def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score intervals per event type (operators.stats.
    wilson_ci): share of events with value > 100, with the CI that
    stays inside [0,1] at the extremes — exact integer counts, one
    fp64 chain for the bounds."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    flagged = ev.select(
        F.col("event_type"), (F.col("value") > 100.0).alias("hit")
    )
    return st.wilson_ci(flagged, "event_type", "hit")


def _repurchase_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(segment, dur, ev) time-to-repurchase subjects — shared by the
    kaplan_meier and survival_summary gate queries."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    horizon = orders.groupBy().agg(F.max("o_orderdate").alias("__h"))
    return (
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate"),
            F.lead("o_orderdate").over(w).alias("__nxt"),
        )
        .join(F.broadcast(horizon))
        .select(
            "segment",
            F.datediff(
                F.coalesce(F.col("__nxt"), F.col("__h")), F.col("o_orderdate")
            ).alias("dur"),
            F.col("__nxt").isNotNull().alias("ev"),
        )
    )


def q_survival_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median survival + RMST per segment (operators.stats.
    survival_summary) over the time-to-repurchase curve — the two
    numbers the kaplan_meier curve is read for; the RMST integral is
    pure integer products over the (group, t) aggregate."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    return st.survival_summary(
        _repurchase_subjects(spark, sf_dir), "segment", "dur", "ev"
    )


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix over four lineitem measures in ONE scan
    (operators.stats.corr_matrix): 14 DECIMAL moments, six pair rows,
    each r one fp64 chain — the feature-redundancy screen."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")
    return st.corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for event_type × hour-of-day (operators.stats.
    cramers_v): the [0,1] association strength the chi_square cell
    table doesn't aggregate — per-cell (O−E)²/E micro-quantized at
    birth, integer-summed, one final sqrt."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hour_bucket")
    )
    return st.cramers_v(ev, "event_type", "hour_bucket")


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the bipartite supplier↔part supply
    graph (operators.graph.assortativity, suppliers as negative ids —
    the bfs_supply_chain convention): do high-degree suppliers supply
    high-degree parts? Exact integer degrees, DECIMAL moments, one
    fp64 r."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    li = load_table(spark, sf_dir, "lineitem")
    # -suppkey - 1 keeps suppliers STRICTLY negative: the fixture has
    # suppkey 0 AND partkey 0, and a bare -suppkey would alias them
    # into one node (found by the gate: one phantom self-loop)
    edges = li.select(
        (-F.col("l_suppkey") - 1).cast("long").alias("src"),
        F.col("l_partkey").cast("long").alias("dst"),
    ).distinct()
    return gr.assortativity(edges)


def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across return flags
    (operators.stats.levene_bf on l_extendedprice): ANOVA on absolute
    deviations from each group's exact interpolating median — the
    spread check run before trusting pooled-variance comparisons."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")
    return st.levene_bf(li, "l_returnflag", "l_extendedprice")


def q_robust_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AM/GM/HM of order value per priority (operators.stats.
    robust_means): the mean trio for positive quantities, AM >= GM >=
    HM by construction — GM through micro-nat ln sums, HM through
    exact pico reciprocals, every cross-row reduction an integer."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    return st.robust_means(orders, "o_orderpriority", "o_totalprice")


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment KS drift of the quantity distribution vs the pooled
    corpus (operators.stats.ks_drift on l_quantity × l_returnflag):
    "which return-flag population drifted" in one pass — both
    one-sided CDF gaps per value point, windows over the bounded
    value-domain aggregate only."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")
    return st.ks_drift(li, "l_returnflag", "l_quantity")


def q_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication (operators.dedup.repeated_passages):
    word 8-gram passages recurring in >= 2 distinct documents — the
    boilerplate detector document-level near-dup can't see."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.repeated_passages(docs, n=8, min_docs=2)


def q_repeated_passages_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL repeated passages (operators.dedup.repeated_passages_maximal):
    multi-length sweep (8/16/32 words) with adjacent-level containment
    suppression, so an n=16 boilerplate template is reported once at its
    full length instead of as nine overlapping 8-grams. adaptive=True
    doubles past the fixed top while genuine full-length survivors keep
    appearing (both fixtures: one extra level, 64, then a clean stop at
    128), so longer templates surface whole as well."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.repeated_passages_maximal(docs, ns=(8, 16, 32), min_docs=2, adaptive=True)


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (operators.dedup.strip_passages): detect the
    top-5 repeated 8-gram passages (deterministic (n_docs DESC,
    n_occurrences DESC, passage) order, bounded collect) and strip them
    from every document as whole-word-bounded replaces. The oracle
    recomputes the same top-5 in SQL and applies the same nested
    replace chain — identical left-to-right semantics in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    top = (
        dd.repeated_passages(docs, n=8, min_docs=2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("passage"))
        .limit(5)
        .collect()
    )
    return dd.strip_passages(docs, [r["passage"] for r in top])


def q_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version drift monitor (operators.text.corpus_divergence):
    top-15 token contributors to KL(all-docs || cleaned-subset) with
    add-one smoothing; ln quantized to BIGINT micro-units at the vocab
    level (unigram_logprob discipline), everything downstream integer."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = docs.filter(F.col("doc_id") % 7 != 0)
    return tx.corpus_divergence(docs, cleaned, top_k=15)


def q_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard self-join with prefix filtering
    (operators.dedup.set_similarity_join, threshold 0.6 on word
    3-shingles): no false negatives by construction — the oracle brute-
    forces all pairs and must agree exactly (integer threshold test,
    identical IEEE division for the reported jaccard)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.set_similarity_join(docs, threshold=0.6)


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard manifest (operators.pipeline.
    shard_manifest): hash(id) % 16 assignment + per-shard doc/token
    counts and an order-insensitive id checksum. Knuth mixer so the
    oracle reproduces assignments in pure integer SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.shard_manifest(docs, n_shards=16, method="knuth")


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenizer counts (letter runs / digits / symbol
    runs) per document — the packing-budget proxy for real tokenizer
    length. Single JVM regexp projection."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.bpe_token_count(docs)


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for three member queries — corpus never
    shuffled; per-query bounded top-k agg (operators.similarity)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.self_queries(emb, [0, 1, 2])
    return sim.cosine_topk(emb, queries, k=10)


def q_embedding_pair_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine of consecutive-id embeddings (JVM vector math —
    functions.vector) — per-row deterministic float check."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id"), F.col("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("vb"))
    return (
        a.join(b, "vec_id")
        .select("vec_id", cosine_similarity("va", "vb").alias("cos_next"))
    )


def q_score_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's centerpiece, end to end (M1+M2+R7): batch model
    scoring via mapInArrow (model loaded once per task, Arrow-batched
    matrix inference) then the distributed confusion-count query
    (reference README.md:162-184, 249)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = sc.score(
        emb,
        sc.make_linear_stub_loader(_EMB_DIM, _N_CLASSES),
        input_col="embedding",
        pass_through=["label"],
        repartition="auto",
    )
    return (
        scored.groupBy("label", "predicted_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_score_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoring accuracy in the reference's exact shape (README.md:204-211):
    correct/total/percent over the scored frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = sc.score(
        emb,
        sc.make_linear_stub_loader(_EMB_DIM, _N_CLASSES),
        input_col="embedding",
        pass_through=["label"],
        repartition="auto",
    )
    return rel.accuracy(scored, "label", "predicted_label")


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame: running decimal-exact total per customer (ROWS
    UNBOUNDED PRECEDING..CURRENT)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_total"),
    )


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead: previous order date and day-gap per customer (first order
    gap = -1; sentinel timestamps avoid nullable-dtype ambiguity)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    nxt = F.lead("o_orderdate").over(w)
    sentinel = F.lit("1900-01-01").cast("timestamp")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.coalesce(prev, sentinel).alias("prev_order_date"),
        F.coalesce(nxt, sentinel).alias("next_order_date"),
        F.coalesce(F.datediff(F.col("o_orderdate"), prev), F.lit(-1)).cast("long").alias("gap_days"),
    )


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over the last 3 orders per customer — decimal-exact
    window sum / window count."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("moving_avg_3"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via window islands: lag-gap mark
    + running sum. One shuffle on user_id; the hand-rolled twin of
    q_session_window_native."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    new_sess = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id", "ts", "event_id", F.sum(new_sess).over(w).alias("session_idx")
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_dedup_keep_first_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates: keep the min-doc_id row per
    fingerprint via row_number (dropDuplicates itself is partition-order
    dependent, so the engine's canonical dedup uses an explicit rule)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(fingerprint_md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


def q_having_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation + HAVING (TPC-H Q18 shape): orders whose total quantity
    exceeds 150, with the customer name joined in."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("l_orderkey", "c_name", "o_totalprice", "total_qty")
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (TPC-H Q14 shape): PROMO revenue share per
    ship-year; both sums decimal-exact, ratio computed on double casts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return (
        joined.groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .withColumn(
            "promo_share_pct",
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"),
        )
    )


def q_exists_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semi join with an inequality (TPC-H Q4 shape): orders having
    any lineitem shipped >60 days after the order date."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to the fixture's columns: 'late' =
    shipped >60 days after order date, since there is no commit/receipt
    date): suppliers whose lineitem was late on a finalized multi-supplier
    order where NO other supplier was also late. The nested
    EXISTS(other supplier) / NOT EXISTS(other late supplier) correlations
    become one left-semi + one left-anti self-join, both keyed on
    l_orderkey — co-partitioned shuffles, no row explosion."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")

    late = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            li.l_orderkey == orders.o_orderkey,
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    # EXISTS: some other supplier on the same order
    multi = late.join(
        others,
        (late.l_orderkey == others.o2_orderkey)
        & (late.l_suppkey != others.o2_suppkey),
        "left_semi",
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    # NOT EXISTS: no other supplier was ALSO late on that order
    sole_late = multi.join(
        late_others,
        (multi.l_orderkey == late_others.o3_orderkey)
        & (multi.l_suppkey != late_others.o3_suppkey),
        "left_anti",
    )
    return (
        sole_late.join(supplier, sole_late.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of quantity per return flag
    (order-insensitive: computed on the sorted group)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("p50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
    )


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct string aggregation per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.countDistinct("l_linestatus").cast("long").alias("n_statuses"),
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form (label, dim position,
    mean) — posexplode + decimal-exact per-position sums. At scale this is
    the shuffle-light layout: |labels|×dim rows move, not vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    # Quantize each value with floor(val * 1e9): IEEE double multiply +
    # floor are bit-identical in every engine, so the integer sum is
    # order-independent AND cross-engine-exact. A decimal(18,9) cast is
    # NOT: its tie rounding is engine-specific (Spark HALF_UP, DuckDB
    # half-even) and the sf0.1 fixture contains exact .5 ties.
    q = F.floor(F.col("val").cast("double") * F.lit(1e9)).cast("long")
    return (
        exploded.groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            (F.sum(q).cast("double") / F.lit(1e9) / F.count(F.lit(1))).alias("centroid")
        )
    )


def q_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row vector math: L2 norm + first normalized component
    (functions.vector, codegen'd fold — no Python)."""
    from hdinsight_pyspark_cntk_integration_spark.functions.vector import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    return emb.select(
        "vec_id",
        norm.alias("l2_norm"),
        (F.element_at("embedding", 1).cast("double") / norm).alias("e0_normalized"),
    )


def q_bigram_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram frequencies, top-50 — the n-gram generalization of the
    token histogram. The split is materialized as a COLUMN before the
    pairing lambda: inlining it would re-evaluate the regexp+split per
    element inside the higher-order function (measured 13x slower at
    sf0.1); zip_with over two slices pairs adjacent tokens in one
    interpreted pass over the materialized array."""
    docs = load_table(spark, sf_dir, "documents")
    tok_df = docs.select(
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
        ).alias("toks")
    )
    t = F.col("toks")
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        tok_df.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "bigram")
        .limit(50)
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel: first view → first purchase at-or-after it, per user, with
    a converted flag. Two grouped scans + one left join on user_id."""
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    sentinel = F.lit("1900-01-01").cast("timestamp")
    return (
        fv.join(fp, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            F.coalesce("first_purchase", sentinel).alias("first_purchase"),
            F.when(F.col("first_purchase").isNull(), 0).otherwise(1).cast("long").alias("converted"),
        )
    )


def q_sql_yearly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-text interface end to end: revenue per order-year
    over registered views."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               {_SQL_REVENUE} AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY year(o_orderdate)
        """
    )


def q_merge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big join under an explicit MERGE hint (sort-merge join): the
    engine's co-shuffle path for fact-fact joins where neither side
    broadcasts (at 100 TB: pre-bucket both sides on the key instead)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.hint("MERGE")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_lines"), F.sum("l_quantity").alias("sum_qty"))
    )


def q_union_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of heterogeneous sources into one frame + global top-20 by
    balance (deterministic tie-break)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.col("c_acctbal").alias("acctbal"), F.lit("customer").alias("kind")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.col("s_acctbal").alias("acctbal"), F.lit("supplier").alias("kind")
    )
    return cust.unionByName(supp).orderBy(F.desc("acctbal"), "name").limit(20)


def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLIF/COALESCE/CASE null semantics as per-row projections."""
    li = load_table(spark, sf_dir, "lineitem")
    d = F.nullif(F.col("l_discount"), F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(d.isNull(), 0).otherwise(1).cast("long").alias("has_discount"),
        F.coalesce(d, F.lit(-1.0)).alias("discount_or_neg1"),
    )


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (Pearson correlation, sample stddev/
    variance) from exact decimal moments: Σx, Σy, Σxy, Σx², Σy² are
    DECIMAL-exact (order-independent, so any partitioning hash-matches
    the oracle), and only the final closed-form arithmetic runs in fp64 —
    the same deterministic expression tree DuckDB evaluates. The naive
    ``F.corr``/``F.stddev_samp`` one-pass aggregates give the same answer
    to ~1e-12 but are summation-order-dependent, which breaks exact
    cross-engine hashing."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    z = F.col("l_discount").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(z).cast("double").alias("sz"),
        F.sum((x * y).cast("decimal(38,4)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,4)")).cast("double").alias("syy"),
        F.sum((z * z).cast("decimal(38,4)")).cast("double").alias("szz"),
    )
    n, sx, sy, sz = F.col("n"), F.col("sx"), F.col("sy"), F.col("sz")
    sxy, sxx, syy, szz = F.col("sxy"), F.col("sxx"), F.col("syy"), F.col("szz")
    return m.select(
        "l_returnflag",
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_price"),
        F.sqrt((n * syy - sy * sy) / (n * (n - F.lit(1.0)))).alias("stddev_price"),
        ((n * szz - sz * sz) / (n * (n - F.lit(1.0)))).alias("var_discount"),
    )



def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs + exact Jaccard verify, ORACLE-PAIRED
    (VERDICT r11 order #3): the gate runs hash_family="md5" — the
    engine-portable md5-prefix shingle hash and raw min-tuple band keys
    — over the FULL documents table at 32 hashes / 8 bands (S-curve
    threshold ≈ (1/8)^(1/4) ≈ 0.59 Jaccard), so DuckDB replays the
    ENTIRE pipeline bit-for-bit and the driver row is hash-checked, not
    rows-only. The verify reads the same md5 shingle table as candidate
    generation (operators.dedup.minhash_pairs), so the replay is exact
    even under intra-document hash collisions. The production default
    stays the 2-3x-faster xxhash64 family (the minhash_pairs default),
    pinned by the planted-pair pytest (tests/test_dedup_text.py) and
    identical in plan shape. Differs from the minhash_provable twin in scope (unbounded)
    and banding (32/8 vs 16/4)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_pairs(
        docs, threshold=0.5, num_hashes=32, bands=8, hash_family="md5"
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures (rows-only check)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash64(docs)


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct with a quantified error bound: the oracle
    pins the exact distinct count, and ``approx_ok`` asserts the sketch
    landed within 15% relative error (HLL default rsd is 5%; 3σ bound).
    The sketch value itself is engine-specific by design, so it is
    checked, not emitted."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey").alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx").cast("double") / F.col("exact_parts") - 1.0)
                <= 0.15
            ).alias("approx_ok"),
        )
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID scores + argmax prediction."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.language_scores(docs)


def q_correlated_avg_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems below 20% of
    their part's average quantity. The per-part average is decorrelated
    into a grouped aggregate + co-partitioned join on l_partkey — at
    scale both sides shuffle once on the same key (no re-scan per row).
    avg = exact-fp64 sum / count (l_quantity is integer-valued)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    avgq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avgq, li.l_partkey == avgq.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((_dec_sum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"))
    )


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: nation keys present in BOTH customer and supplier."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(supp.select(F.col("s_nationkey").alias("nationkey")))
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot via stack(): per-status min/max price as
    (status, stat, value) rows."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    return wide.select(
        "o_orderstatus",
        F.expr(
            "stack(2, 'min_price', min_price, 'max_price', max_price) AS (stat, value)"
        ),
    )


def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column family: create_map, element_at, size, sorted keys."""
    orders = load_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("prio"), F.col("o_orderpriority"),
    )
    return orders.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status_v"),
        F.size(m).cast("long").alias("map_size"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
    )


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family over the embedding column: size, min/max,
    element access, explicit left-assoc float→double sums (deterministic
    on both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")

    def el(i: int) -> F.Column:
        return F.element_at(e, i).cast("double")

    return emb.select(
        "vec_id",
        F.size(e).cast("long").alias("n_dims"),
        F.array_max(e).cast("double").alias("arr_max"),
        F.array_min(e).cast("double").alias("arr_min"),
        (((el(1) + el(2)) + el(3)) + el(4)).alias("sum_first4"),
        F.element_at(e, F.size(e)).cast("double").alias("last_val"),
    )


def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp family: extract the numeric id from c_name, digit masking,
    boolean regexp match."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_extract("c_name", r"(\d+)", 1).cast("long").alias("cust_num"),
        F.regexp_replace("c_name", r"\d", "#").alias("masked"),
        F.col("c_name").rlike(r"^Customer#0*1?\d{2}$").cast("long").alias("low_id"),
    )


def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window family: dense_rank, percent_rank, ntile(4),
    cume_dist over a fully-deterministic ordering."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.percent_rank().over(w).alias("prank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.cume_dist().over(w).alias("cdist"),
    )


def q_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an unbounded frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.coalesce(F.nth_value("o_orderkey", 2).over(w), F.lit(-1)).alias("second_ok"),
    )


def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar family: month arithmetic (clamping), last_day,
    quarter, ISO week, day-of-week, day arithmetic. Date results are cast
    to timestamp so both engines hash the same dtype."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.add_months(d, 3).cast("timestamp").alias("plus3m"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.quarter(d).cast("long").alias("qtr"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        F.dayofweek(d).cast("long").alias("dow"),
        F.date_add(d.cast("date"), 30).cast("timestamp").alias("plus30d"),
    )


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — orders per customer
    (left join keeps zero-order customers), then the distribution of
    those counts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs join predicate across both tables.
    The join key (partkey) is still conjunctive, so this stays a hash
    join with a post-join residual filter — no cartesian blowup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#33") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        _revenue().alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


def q_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-count suppliers per part attribute
    bucket with NOT-equal / IN-list filters. countDistinct expands to a
    two-phase (dedup shuffle + count) plan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#11")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    return (
        part.join(li, part.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def q_high_balance_light_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global positive-balance average,
    computed exactly in decimal then broadcast) + per-customer order
    counts; customers above the average with <8 orders, by nation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (_dec_sum(F.col("c_acctbal"), 2) / F.count(F.lit(1))).alias("avg_bal")
    )
    oc = orders.groupBy(F.col("o_custkey")).agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(oc, cust.c_custkey == oc.o_custkey)
        .filter(F.col("n_orders") < 8)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            _dec_sum(F.col("c_acctbal"), 2).alias("sum_bal"),
        )
    )


def q_nation_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: grouped value per nation filtered against a
    fraction of the global total (scalar subquery broadcast into the
    HAVING predicate); both sums decimal-exact."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    total = supp.agg(_dec_sum(F.col("s_acctbal"), 2).alias("total_bal"))
    return (
        supp.groupBy("s_nationkey")
        .agg(_dec_sum(F.col("s_acctbal"), 2).alias("value"))
        .join(F.broadcast(total))
        .filter(F.col("value") > 0.02 * F.col("total_bal"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("n_name", "value")
    )


def q_nation_trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between supplier-nation and customer-nation
    pairs per ship year. Dims broadcast twice under different aliases;
    facts join on their natural keys."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = F.col("supp_nation").isin("NATION_1", "NATION_2") & F.col(
        "cust_nation"
    ).isin("NATION_1", "NATION_2") & (F.col("supp_nation") != F.col("cust_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(_revenue().alias("revenue"))
    )


def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent lang per source with an
    explicit tie-break (count desc, lang asc) — Spark's builtin mode() is
    tie-nondeterministic, so the engine's canonical form is count +
    row_number."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), "lang")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), "n")
    )


def q_ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard similarity of adjacent doc pairs
    (operators.dedup.word_shingles + array_intersect/union). The same
    verify kernel runs on LSH candidate pairs at scale; the adjacent-pair
    form makes it oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id"), dd.word_shingles("text", 3).alias("sa"))
    b = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), dd.word_shingles("text", 3).alias("sb")
    )
    return a.join(b, "doc_id").select(
        "doc_id",
        (
            F.size(F.array_intersect("sa", "sb")).cast("double")
            / F.size(F.array_union("sa", "sb"))
        ).alias("jaccard"),
    )


def _emb_pair_sides(emb: DataFrame) -> tuple[DataFrame, DataFrame, F.Column]:
    """(a side, b side, exact-cosine column) for all-pairs embedding
    comparisons, with each vector's L2 norm computed ONCE per row before
    the join instead of once per pair — bit-identical arithmetic (same
    sqrt-of-fold values, same multiply/divide tree as cosine_similarity,
    so the DuckDB oracle still hash-matches) at a third of the
    interpreted-HOF work across O(n²) pairs."""
    from hdinsight_pyspark_cntk_integration_spark.functions.vector import dot, l2_norm

    base = emb.select("vec_id", "embedding", l2_norm("embedding").alias("nrm"))
    a = base.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    denom = F.col("na") * F.col("nb")
    cos = F.when(denom == 0.0, F.lit(0.0)).otherwise(dot("va", "vb") / denom)
    return a, b, cos


def q_near_dup_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, exact all-pairs baseline: pairs with cosine
    ≥ 0.4 via broadcast nested-loop self-join. This is the verification
    baseline; the 100 TB path is q_near_dup_cosine_lsh (hyperplane
    bucketing bounds candidate pairs instead of n²)."""
    emb = load_table(spark, sf_dir, "embeddings")
    a, b, cos = _emb_pair_sides(emb)
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.4)
    )


def q_near_dup_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, LSH scale path, checked by containment+recall
    against the oracle-green exact twin (q_near_dup_cosine_exact):
    random-hyperplane sign buckets generate candidates (Σ|bucket|², never
    n²), exact cosine verifies. The oracle pins the exact pair count
    (DuckDB list_dot_product) and the quantified bounds: every LSH pair
    must be an exact pair (containment), and LSH must find ≥ 60% of them
    (measured 0.85–0.86 at b=64, r=8 across SFs; the S-curve gives a
    cos-0.9 pair ~1-10⁻¹⁶ capture probability, the fixture's hardest
    pairs sit near the 0.4 verify threshold)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # num_planes pinned (not self-sized): the 60% recall floor below is
    # calibrated to the r=8, b=64 S-curve; self-sizing would move the
    # operating point with SF and decouple the gate from its bound.
    cands = dd.embedding_near_dup_candidates(
        emb, id_col="vec_id", vec_col="embedding", num_planes=8, bands=64
    )
    a, b, cos = _emb_pair_sides(emb)
    lsh = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b")
    )
    exact = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = lsh.join(exact, ["id_a", "id_b"]).agg(F.count(F.lit(1)).alias("n_found"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    return (
        n_exact.crossJoin(n_found)
        .crossJoin(n_lsh)
        .select(
            "n_exact",
            (F.col("n_found").cast("double") / F.col("n_exact") >= 0.6).alias("recall_ok"),
            (F.col("n_lsh") == F.col("n_found")).alias("containment_ok"),
        )
    )


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata pass (no decode): byte length, sha256 content
    hash, magic-number sniff over binary payloads — pure Catalyst
    expressions (operators.multimodal.with_media_metadata). Payloads are
    the documents' utf-8 bytes standing in for media blobs."""
    from hdinsight_pyspark_cntk_integration_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select("doc_id", F.encode("text", "utf-8").alias("content"))
    return mm.with_media_metadata(payload).select(
        "doc_id", "media_bytes", "media_sha256", "media_format"
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode→resize pipeline (rows-only check: the stub codec
    is a sha256 expansion, not SQL-expressible). Exercises the real Spark
    plumbing: binary column → mapInPandas decode to (shape, flat tensor)
    → nearest-neighbor resize → per-row tensor stats."""
    from hdinsight_pyspark_cntk_integration_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    tens = mm.decode_to_tensor(
        payload,
        content_col="content",
        id_col="doc_id",
        decoder=mm.deterministic_fake_decoder((8, 8, 3)),
    )
    resized = mm.resize_tensor(tens, (4, 4))
    mean = F.aggregate(
        "tensor", F.lit(0.0), lambda acc, x: acc + x.cast("double")
    ) / F.size("tensor")
    return resized.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.array_join(F.transform("shape", lambda s: s.cast("string")), "x").alias("shape"),
        mean.alias("tensor_mean"),
    )


def q_simple_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight scan-side range filters + single global
    aggregate — the canonical predicate-pushdown query (filters reach the
    parquet scan; one row crosses the final exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & F.col("l_discount").between(0.03, 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * F.col("l_discount").cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar family: initcap, lpad, translate, levenshtein,
    split_part, repeat, reverse — per-row codegen projections."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.initcap(F.lower("c_name")).alias("titled"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.translate("c_name", "#0", "-O").alias("translated"),
        F.levenshtein("c_name", F.lit("Customer#000000000")).cast("long").alias("edit_dist"),
        F.split_part("c_name", F.lit("#"), F.lit(2)).alias("num_part"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.reverse(F.split_part("c_name", F.lit("#"), F.lit(1))).alias("reversed_word"),
    )


def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar family over lineitem: abs/sign/sqrt/ceil/floor/pmod/
    pow — all deterministic IEEE ops (no libm-divergent fns like exp/ln
    in the oracle-checked surface)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.04).alias("abs_dev"),
        F.signum(F.col("l_discount") - 0.04).alias("dev_sign"),
        F.sqrt("l_extendedprice").alias("sqrt_price"),
        F.ceil(F.col("l_extendedprice") * 1.1).cast("long").alias("ceil_110"),
        F.floor(F.col("l_quantity") / 7.0).cast("long").alias("floor_q7"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).cast("long").alias("key_mod7"),
        F.pow(F.col("l_quantity"), 2).alias("qty_sq"),
    )


def q_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (order-independent by construction):
    bit_and/bit_or/bit_xor per return flag."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(F.col("l_linenumber").cast("long")).alias("and_linenum"),
        F.bit_or(F.col("l_linenumber").cast("long")).alias("or_linenum"),
        F.bit_xor(F.col("l_orderkey")).alias("xor_orderkey"),
    )


def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF end to end (SURVEY §2.7 — the reference has no UDTF
    surface): LATERAL-join sentence explosion of the documents corpus,
    with per-sentence token counts computed inside the UDTF."""
    from hdinsight_pyspark_cntk_integration_spark.functions.udtf import split_sentences

    spark.udtf.register("split_sentences", split_sentences())
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence, CAST(s.n_tokens AS BIGINT) AS n_tokens
        FROM documents d, LATERAL split_sentences(d.text) s
        """
    )


def q_higher_order_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: filter / exists / transform over the
    embedding column (order-free outputs so both engines agree)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.exists(e, lambda x: x < -2.0).cast("long").alias("has_extreme_neg"),
        F.array_max(F.transform(e, lambda x: F.abs(x))).cast("double").alias("max_abs"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors, checked by per-query recall
    against the oracle-green exact twin (q_similarity_topk): deterministic
    grid centroids, corpus assigned to nearest cell once, queries probe
    nprobe=4 of 8 cells — the bucketed/partition-pruned scale path. The
    oracle pins the query set and the quantified bound: each query must
    recover ≥ 3 of its exact top-10 (measured min 5–6 across SFs; random
    cell assignment would give ~nprobe/C·k ≈ 5 expected only if neighbors
    were uniform, and they are not — they concentrate in the probed
    cells)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.self_queries(emb, [0, 1, 2])
    centroids = sim.grid_centroids(emb, num=8)
    approx = sim.ivf_topk(emb, queries, centroids, k=10, nprobe=4)
    exact = sim.cosine_topk(emb, queries, k=10)
    hits = (
        approx.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 3).alias("recall_ok"),
        )
    )


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer,
    top 20 — fact-fact join + broadcast dims + bounded top-k."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of total revenue per order
    year — conditional decimal sum over the joined facts; share ratio on
    double casts of exact sums."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_3", rev)).cast("double").alias("nation_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .withColumn(
            "mkt_share", F.col("nation_revenue") / F.col("total_revenue")
        )
    )


def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame: per customer, order count and
    exact decimal spend within the trailing 30 days of each order —
    rangeBetween on an epoch-seconds ordering key."""
    orders = load_table(spark, sf_dir, "orders")
    secs = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(secs)
        .rangeBetween(-30 * 86400, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_last30d"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("spend_last30d"),
    )


def q_struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct family: struct construction, field access, and inline
    (explode of an array of structs → rows)."""
    orders = load_table(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_orderstatus").alias("st"), F.col("o_totalprice").alias("tp")
    )
    pair = F.array(
        F.struct(F.lit("base").alias("tag"), F.col("o_totalprice").alias("amount")),
        F.struct(F.lit("with_fee").alias("tag"), (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(1.05).cast("decimal(6,2)")).cast("double").alias("amount")),
    )
    return orders.select(
        "o_orderkey",
        s.getField("st").alias("status_f"),
        F.inline(pair),
    )


def q_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime formatting + truncation: date_format patterns, day-of-year,
    week truncation (Monday-start on both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.date_format(d, "yyyy-MM-dd").alias("ymd"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.date_trunc("week", d).alias("week_start"),
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-fact join (operators.relational.salted_join):
    hot keys spread over salt buckets; result is row-identical to the
    plain join, which is exactly what the oracle asserts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = rel.salted_join(li, orders, key="l_orderkey", salt_buckets=8)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile sketch with a quantified error bound. The
    exact p50/p95 use the discrete upper-rank definition (value at rank
    ⌈q·n⌉ — no interpolation, so it's an actual data value both engines
    agree on bit-for-bit); the oracle pins those, and ``p50_ok``/
    ``p95_ok`` assert the sketch (accuracy 10000 → rank error ≤ n/10⁴)
    landed within 1% of the exact value. The rank window here is the
    verification apparatus — the production operator at 100 TB is the
    sketch itself, which aggregates without any global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wc = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    exact = ranked.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("rn") >= F.ceil(F.col("cnt") * 0.5), F.col("l_extendedprice"))
        ).alias("p50_exact"),
        F.min(
            F.when(F.col("rn") >= F.ceil(F.col("cnt") * 0.95), F.col("l_extendedprice"))
        ).alias("p95_exact"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("a50"),
        F.approx_percentile("l_extendedprice", F.lit(0.95), F.lit(10000)).alias("a95"),
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "p50_exact",
        "p95_exact",
        (F.abs(F.col("a50") / F.col("p50_exact") - 1.0) <= 0.01).alias("p50_ok"),
        (F.abs(F.col("a95") / F.col("p95_exact") - 1.0) <= 0.01).alias("p95_ok"),
    )


def q_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map explode: per-row map → (key, value) rows via explode(map)."""
    orders = load_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("prio"), F.col("o_orderpriority"),
    )
    return orders.select("o_orderkey", F.explode(m).alias("k", "v"))


def q_arrays_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arrays_zip + posexplode: pair each embedding value with its
    reversed counterpart, keep the diagonal-adjacent products."""
    emb = load_table(spark, sf_dir, "embeddings")
    zipped = F.arrays_zip(F.col("embedding"), F.reverse(F.col("embedding")))
    return (
        emb.select("vec_id", F.posexplode(zipped).alias("pos", "pair"))
        .filter(F.col("pos") < 4)
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("pos"),
            (
                F.col("pair.embedding").cast("double")
                * F.col("pair.1").cast("double")
            ).alias("prod"),
        )
    )


def q_encoding_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/encoding scalar family: hex, unhex round-trip, base64,
    ascii code, md5 content hash."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.hex(F.encode("c_name", "utf-8")).alias("name_hex"),
        F.decode(F.unhex(F.hex(F.encode("c_name", "utf-8"))), "utf-8").alias("roundtrip"),
        F.base64(F.encode("c_name", "utf-8")).alias("name_b64"),
        F.ascii("c_name").cast("long").alias("first_code"),
        F.md5(F.col("c_name")).alias("name_md5"),
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum revenue —
    grouped revenue, scalar-subquery max broadcast back as a filter."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(_revenue().alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_dedup_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative connected-components closure (operators.dedup.
    connected_components) over a deterministic duplicate-pair graph
    (same-language adjacent doc ids, which form real chains) — verified
    against a DuckDB recursive-CTE reachability oracle. This is the
    operator that makes near-dedup transitively correct (A~B~C collapses
    to one cluster even when A~C was never a candidate pair)."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("la"))
    b = docs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lb"),
    )
    pairs = a.join(b, "id_a").filter(F.col("la") == F.col("lb")).select("id_a", "id_b")
    return dd.connected_components(pairs)


def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination: deterministic total order + OFFSET/LIMIT page. A global
    sort is unavoidable here (range partitioning); the engine's top-k
    queries avoid it, this one exists to verify pagination semantics."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .offset(5)
        .limit(10)
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted to the fixture (no partsupp table): the
    supply cost of a (part, supplier) pair is its decimal-exact average
    unit price over lineitem. For small STANDARD parts, return the
    EUROPE supplier(s) achieving each part's minimum derived cost —
    correlated-min via grouped min joined back on equality.

    Scale notes: the part filter is broadcast into the lineitem scan
    BEFORE the cost aggregation, so only the ~2% of pairs that can
    survive are shuffled — and they are shuffled ONCE, explicitly on
    l_partkey: hash partitioning on a subset of the grouping keys
    satisfies the (l_partkey, l_suppkey) aggregation AND the per-part
    min window, so the correlated-min runs with no second aggregation,
    no join-back, and no duplicated scan subtree (the grouped-min +
    broadcast-join-back form planned 5 exchanges / 10 scans and ran
    1.5x slower at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    wanted = part.filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey")
    eu_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cost = (
        li.join(wanted, li.l_partkey == F.col("p_partkey"))
        .repartition(n_shuffle, "l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                _dec_sum(F.col("l_extendedprice"), 2)
                / _dec_sum(F.col("l_quantity"), 2)
            ).alias("unit_cost")
        )
        .join(eu_supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    min_cost = F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    return (
        cost.withColumn("__min", min_cost)
        .filter(F.col("unit_cost") == F.col("__min"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "unit_cost",
        )
    )


def q_priority_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted to the fixture (no l_shipmode /
    l_commitdate): lineitems shipped more than 60 days after their order
    date, bucketed by return flag, counting high- vs low-priority orders
    with conditional aggregation. One fact-fact shuffle join; the date
    predicate stays JVM-side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


def q_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape adapted to the fixture (no partsupp): suppliers
    that shipped more than 90 units of any single 'sma%'-named part —
    nested-IN chain re-expressed as a filter-join + left-semi join. No
    forced broadcast: part and the derived supplier-key set are
    SF-scaled, so AQE picks broadcast from observed runtime sizes."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    wanted = part.filter(F.col("p_name").like("sma%")).select("p_partkey")
    heavy = (
        li.join(wanted, li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 90)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(heavy, supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name")
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators.text.redact_pii): the fixture corpus carries
    no PII, so the query plants a deterministic email / phone / IPv4
    suffix derived from doc_id, then redacts it and counts matches per
    category — exercising the exact Catalyst regex chain a compliance
    pass runs, with a fully SQL-expressible oracle."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return tx.redact_pii(aug).select(
        "doc_id", "text", "n_email", "n_phone", "n_ipv4"
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf
    (operators.text.tfidf_top_terms) — integer-exact output, float score
    used only for window ordering."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.tfidf_top_terms(docs, k=3, min_token_len=4)


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional per-stratum split (operators.pipeline.
    stratified_split) by (lang, source) — every stratum contributes
    ceil(0.8 * n) train rows exactly, unlike hash-Bernoulli whose
    variance can starve small strata. Knuth hash so the oracle reproduces
    the ordering in pure integer SQL."""
    docs = load_table(spark, sf_dir, "documents")
    strat = docs.withColumn("stratum", F.concat_ws("/", "lang", "source"))
    return pl.stratified_split(
        strat, "stratum", train_frac=0.8, method="knuth"
    ).select("doc_id", "stratum", "split")


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context windows (operators.pipeline.chunk_with_overlap):
    32-token chunks every 24 tokens over whitespace-tokenized documents —
    drop-tail, single short chunk for short docs. The chunk array is
    emitted space-joined: the gate harness canonicalizes by sorting on
    every column, which requires scalar (hashable) cells."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("tokens")
    )
    chunks = pl.chunk_with_overlap(toks, size=32, stride=24)
    return chunks.select(
        "doc_id",
        "chunk_index",
        "start",
        F.array_join("chunk", " ").alias("chunk_text"),
        "chunk_len",
    )


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (operators.similarity.
    quantize_embeddings): per-vector symmetric scale, round-half-up
    codes, exact per-vector max reconstruction error — all IEEE-exact
    arithmetic, so the oracle matches bit-for-bit. Codes are emitted
    comma-joined: the gate harness canonicalizes by sorting on every
    column, which requires scalar (hashable) cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim.quantize_embeddings(emb)
    return q.select(
        "vec_id",
        "scale",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes_csv"),
        "max_abs_err",
    )


def q_adaptive_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gate: keep documents at or above the corpus
    median token count — the global exact percentile is a 1-row
    broadcast into a pushdown-friendly filter (the pattern for
    'threshold depends on the corpus itself' filters: two passes, no
    driver round-trip)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = tx.quality_features(docs).select("doc_id", "n_tokens")
    med = feats.agg(
        F.expr("percentile(n_tokens, 0.5)").alias("med_tokens")
    )
    return (
        feats.join(F.broadcast(med))
        .filter(F.col("n_tokens") >= F.col("med_tokens"))
        .select("doc_id", "n_tokens", "med_tokens")
    )


def q_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE compaction (operators.relational.apply_changes): a
    deterministic change feed derived from orders (latest order per
    customer; status 'F' = delete, else upsert of name + balance) applied
    to the customer snapshot. Exercises latest-wins windowing, delete
    semantics, and pass-through in one full-outer join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    snap = cust.select("c_custkey", "c_name", "c_acctbal")
    chg = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("ts"),
        F.when(F.col("o_orderstatus") == "F", "D").otherwise("U").alias("op"),
        F.concat(F.lit("upd-"), F.col("o_custkey").cast("string")).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
    )
    return rel.apply_changes(snap, chg, "c_custkey", "ts")


def q_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-candidate + full-precision-rerank ANN (operators.similarity.
    quantized_rerank_topk), checked like ivf_topk: per-query recall
    against the oracle-green exact twin. Quantization error is ≤ scale/2
    per dimension, so the 4x-overfetched candidate set virtually always
    contains the true top-10 — the bound requires ≥ 8 of 10 (measured:
    10/10 at sf0.01 and sf0.1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.self_queries(emb, [0, 1, 2])
    approx = sim.quantized_rerank_topk(emb, queries, k=10, overfetch=4)
    exact = sim.cosine_topk(emb, queries, k=10)
    hits = (
        approx.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 8).alias("recall_ok"),
        )
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-2 training order (operators.pipeline.
    epoch_shuffle): epoch-salted hash sort key + global position via
    order-preserving hash buckets and a prefix-sum over bucket counts —
    no global sort anywhere. Knuth hash so the oracle replays the exact
    order in integer SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.epoch_shuffle(docs, epoch=2, method="knuth")


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user resampling with forward fill (operators.
    relational.resample_ffill) over the events stream — single-scan,
    single-shuffle gaps-and-islands fill."""
    ev = load_table(spark, sf_dir, "events")
    return rel.resample_ffill(
        ev, ts_col="ts", key_col="user_id", value_col="value"
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data profile (operators.relational.profile_table) of
    the customer dimension's integer/string columns (float columns are
    profiled too in the operator, but their engine-specific string
    formatting keeps them out of the exact-hash gate)."""
    cust = load_table(spark, sf_dir, "customer")
    return rel.profile_table(
        cust, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    )


def q_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts per event type (F.window): 1-hour windows
    every 30 minutes, so each event lands in exactly two windows — the
    oracle unnests both half-hour-aligned window starts covering each
    timestamp."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 historization (operators.relational.scd2_history) of the
    per-customer order feed: each order's totalprice becomes a validity
    interval [orderdate, next orderdate) with is_current on the open
    row. Order keys break orderdate ties deterministically."""
    orders = load_table(spark, sf_dir, "orders")
    feed = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("price"),
    )
    return rel.scd2_history(feed, "k", "seq")


def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles: median and p90 of order totals per
    order priority — partial-aggregated percentile, one shuffle on the
    group key (the global-percentile twin is q_percentiles)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest dedup (operators.dedup.dedup_against): the fixture
    corpus has no cross-document duplicates, so the 'new batch' is the
    tail of the corpus plus 50 re-ingested head documents under fresh
    ids — exactly those 50 must be dropped against the standing
    reference (docs 0-299)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reference = docs.filter(F.col("doc_id") < 300)
    reingested = (
        docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    new_batch = docs.filter(F.col("doc_id") >= 300).unionByName(reingested)
    return dd.dedup_against(new_batch, reference).select("doc_id")


def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (EXCEPT ALL / INTERSECT ALL): duplicate-
    SENSITIVE semantics over lineitem return flags per order — each
    occurrence counts, unlike the DISTINCT forms in q_set_ops. Spark
    plans these as aggregate+generate (count difference re-expansion),
    no join explosion."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") >= 25).select("l_orderkey", "l_returnflag")
    b = li.filter(F.col("l_linenumber") <= 2).select("l_orderkey", "l_returnflag")
    return (
        a.exceptAll(b)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_except_all"))
        .join(
            a.intersectAll(b)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_intersect_all")),
            "l_returnflag",
            "full_outer",
        )
        .select(
            "l_returnflag",
            F.coalesce("n_except_all", F.lit(0)).alias("n_except_all"),
            F.coalesce("n_intersect_all", F.lit(0)).alias("n_intersect_all"),
        )
    )




# --------------------------------------------------------------------------
# round-5 queries
# --------------------------------------------------------------------------
# BM25 terms: drawn from the synthetic corpus vocabulary with distinct
# document frequencies so the idf spread is non-trivial.
_BM25_TERMS = ["spark", "hash", "window"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (operators.text.bm25_scores): top-20 docs
    for a fixed term set. The idf transcendental is quantized to integer
    micro-units the moment it's computed; everything downstream is exact
    ints + deterministic IEEE arithmetic, so the emitted double is
    bit-identical across engines (see the operator docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bm25_scores(docs, _BM25_TERMS, top_k=20)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean NLL under the corpus unigram model — the cheap
    perplexity proxy for quality filtering (operators.text.
    unigram_logprob). Per-token logprobs quantized to BIGINT micro-units
    at the vocab level; per-doc reduction is an exact integer sum."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.unigram_logprob(docs)


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source rebalancing (operators.pipeline.
    temperature_mixture, alpha=0.5 over the skewed lang distribution):
    per-lang kept-count + id-sum checksum of the exact sampled set —
    the keep test is pure integer arithmetic, reproduced verbatim by
    the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    kept = pl.temperature_mixture(
        docs.select("doc_id", "lang"),
        target_rows=200,
        group_col="lang",
        alpha=0.5,
        method="knuth",
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic (operators.pipeline.key_skew_profile):
    hottest 10 event user_ids with exact share/skew stats."""
    ev = load_table(spark, sf_dir, "events")
    return pl.key_skew_profile(ev, "user_id", top_k=10)


def q_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters via Misra-Gries prune + exact verify
    (operators.sketch.heavy_hitters_exact, capacity=125): event users
    with count * 125 > n — MG candidates bound the verify groupBy to
    candidate cardinality, the integer support test keeps the output
    exact and partition-invariant."""
    from hdinsight_pyspark_cntk_integration_spark.operators.sketch import heavy_hitters_exact

    events = load_table(spark, sf_dir, "events")
    return heavy_hitters_exact(events, "user_id", capacity=125)


def q_hll_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable DataSketches HLL distinct-count (operators.sketch):
    exact count emitted, sketch estimate checked against a 5% bound
    (lg_k=12 => rse 1.6%, 3-sigma). Sketch VALUES are engine-specific by
    design — the mergeability algebra is pinned in pytest."""
    from hdinsight_pyspark_cntk_integration_spark.operators.sketch import distinct_bounded

    ev = load_table(spark, sf_dir, "events")
    return distinct_bounded(ev, "event_type", "user_id", rel_tol=0.05, lg_k=12)


def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional lateral expansion (posexplode — the UDTF-shaped
    built-in): token streams with positions for the first 20 docs;
    oracle via DuckDB's lockstep unnest + generate_subscripts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 20)
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "token"),
        )
        .filter(F.length("token") > 0)
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means over embeddings (operators.similarity.kmeans_lloyd,
    k=8, 3 sweeps, deterministic smallest-id init): cluster sizes +
    inertia. PRODUCTION PATH, registry-demoted round 14 (VERDICT r13
    #3): centroid means are float sums in partition order, so boundary
    assignments aren't bit-stable; the oracle-green gate form is
    kmeans_provable (micro-quantized integer Lloyd), and this float
    path stays pinned by the numpy-parity pytest + the registry-demoted
    smoke pin in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.kmeans_summary(emb, k=8, iters=3)




def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-table training (operators.pipeline.bpe_train,
    Sennrich et al. 2016): 16 merge rounds over the documents word-
    frequency table, deterministic (count DESC, lhs, rhs) tie-break.
    Per round: one partial-agg pair groupBy + a bounded 1-row argmax
    action + a pure replace projection. The oracle unrolls the same 16
    rounds as chained DuckDB CTEs — symbol strings use the both-sides-
    wrapped delimiter encoding so replace() IS greedy left-to-right
    merging in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    merges = pl.bpe_train(docs, num_merges=16)
    return pl.bpe_merge_table(spark, merges)


def q_wordpiece_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece merge-table training (operators.pipeline.
    wordpiece_train — the bpe_train likelihood objective): 12 rounds,
    frequency floor 2, fusing the pair maximizing the exact integer
    ``c·1e12 DIV (c_a·c_b)``. Same wrapped-delimiter replay and
    unrolled-CTE oracle form as bpe_vocab, plus one vocabulary-bounded
    symbol aggregate and two bounded joins per round."""
    docs = load_table(spark, sf_dir, "documents")
    merges = pl.wordpiece_train(docs, num_merges=12, min_pair_count=2)
    return pl.bpe_merge_table(spark, merges)


def _bpe_vocab_oracle(num_merges: int) -> str:
    """Generate the unrolled-round DuckDB oracle for q_bpe_vocab."""
    parts = [
        r"""WITH w0 AS MATERIALIZED (
  SELECT ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS w,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS word
    FROM documents WHERE text IS NOT NULL
  ) WHERE length(word) > 0
  GROUP BY word
)"""
    ]
    for k in range(1, num_merges + 1):
        parts.append(
            f""", p{k} AS MATERIALIZED (
  SELECT pr['a'] AS a, pr['b'] AS b, SUM(cnt) AS c FROM (
    SELECT cnt, unnest(list_transform(range(len(l) - 1), i -> {{'a': l[i+1], 'b': l[i+2]}})) AS pr
    FROM (SELECT string_split(trim(w), '  ') AS l, cnt FROM w{k - 1}) WHERE len(l) >= 2
  ) GROUP BY a, b
), b{k} AS (SELECT a, b FROM p{k} ORDER BY c DESC, a, b LIMIT 1
), w{k} AS MATERIALIZED (
  SELECT replace(w, ' ' || (SELECT a FROM b{k}) || '  ' || (SELECT b FROM b{k}) || ' ',
                 ' ' || (SELECT a FROM b{k}) || (SELECT b FROM b{k}) || ' ') AS w, cnt
  FROM w{k - 1}
)"""
        )
    selects = [
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, a AS lhs, b AS rhs, a || b AS merged FROM b{k}"
        for k in range(1, num_merges + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _wordpiece_vocab_oracle(num_merges: int, min_pair_count: int) -> str:
    """Unrolled-round DuckDB oracle for q_wordpiece_vocab: the
    _bpe_vocab_oracle round shape plus a per-round symbol-count CTE
    and the likelihood-score argmax (HUGEINT // = Spark DECIMAL DIV)."""
    parts = [
        r"""WITH w0 AS MATERIALIZED (
  SELECT ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS w,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS word
    FROM documents WHERE text IS NOT NULL
  ) WHERE length(word) > 0
  GROUP BY word
)"""
    ]
    for k in range(1, num_merges + 1):
        parts.append(
            f""", s{k} AS MATERIALIZED (
  SELECT s, SUM(cnt) AS sc FROM (
    SELECT unnest(string_split(trim(w), '  ')) AS s, cnt FROM w{k - 1}
  ) GROUP BY s
), p{k} AS MATERIALIZED (
  SELECT pr['a'] AS a, pr['b'] AS b, SUM(cnt) AS c FROM (
    SELECT cnt, unnest(list_transform(range(len(l) - 1), i -> {{'a': l[i+1], 'b': l[i+2]}})) AS pr
    FROM (SELECT string_split(trim(w), '  ') AS l, cnt FROM w{k - 1}) WHERE len(l) >= 2
  ) GROUP BY a, b HAVING SUM(cnt) >= {min_pair_count}
), b{k} AS (
  SELECT p.a, p.b FROM p{k} p
  JOIN s{k} sa ON sa.s = p.a
  JOIN s{k} sb ON sb.s = p.b
  ORDER BY (CAST(p.c AS HUGEINT) * 1000000000000
            // (CAST(sa.sc AS HUGEINT) * sb.sc)) DESC, p.c DESC, p.a, p.b
  LIMIT 1
), w{k} AS MATERIALIZED (
  SELECT replace(w, ' ' || (SELECT a FROM b{k}) || '  ' || (SELECT b FROM b{k}) || ' ',
                 ' ' || (SELECT a FROM b{k}) || (SELECT b FROM b{k}) || ' ') AS w, cnt
  FROM w{k - 1}
)"""
        )
    selects = [
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, a AS lhs, b AS rhs, a || b AS merged FROM b{k}"
        for k in range(1, num_merges + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (operators.graph.pagerank_integer, 3 sweeps) over
    the nation trade graph (supplier nation -> customer nation, weighted
    by lineitem count). Exact micro-unit arithmetic end-to-end, so the
    iterative fixpoint hash-matches the oracle's unrolled CTEs — an
    oracle-GREEN iterative algorithm (connected components and k-means
    are rows-only; this one is provable)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        # materialize the derived edge list once: without this, every
        # PageRank sweep's lineage replays the 4-way fact join (measured
        # 25 s -> ~3 s at sf0.01). localCheckpoint, not cache: it
        # truncates lineage too, keeping sweep plans constant-size.
        .localCheckpoint()
    )
    ranks = gr.pagerank_integer(edges, iters=3)
    return ranks.join(nation, ranks["node"] == nation["n_nationkey"]).select(
        "n_name", "rank_micro"
    )




def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting (operators.graph.triangle_count)
    over the strong nation trade graph (directed pairs with >= 100
    lineitems, canonicalized undirected): degree-ordered orientation
    caps wedge fan-out at O(sqrt m) per node, so the wedge join never
    pays hub-degree-squared. The count is orientation-invariant — the
    oracle's id-ordered brute-force 3-way join must agree exactly."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("wt"))
        .filter(F.col("wt") >= 100)
        .select("src", "dst")
    )
    return gr.triangle_count(edges)


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width order-price histogram (relational.histogram_fixed,
    12 buckets over [0, 600000)) — deterministic IEEE bucket arithmetic,
    reproduced verbatim by the oracle; min/max per bucket are exact
    (no float reduction: min/max are order-independent)."""
    orders = load_table(spark, sf_dir, "orders")
    return rel.histogram_fixed(orders, "o_totalprice", 0.0, 600000.0, 12)




def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid linear interpolation per user over the events stream
    (relational.interpolate_linear) — resample_ffill's continuous-measure
    twin; the lerp is exact-int + basic-IEEE arithmetic, reproduced
    verbatim by the oracle."""
    ev = load_table(spark, sf_dir, "events")
    return rel.interpolate_linear(ev, ts_col="ts", key_col="user_id", value_col="value")


def q_interpolate_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-pandas interpolated point lookup (relational.
    interpolate_at): each event's value re-estimated 30 minutes later
    from the surrounding observations via per-key vectorized np.interp.
    PRODUCTION PATH, registry-demoted round 14 (VERDICT r13 #3):
    np.interp's slope evaluation order is numpy's, not reproducible as
    an identical SQL operation tree; the oracle-green gate form is
    interpolate_provable (integer segment arithmetic), and this pandas
    path stays pinned by the grid-agreement pytest + the
    registry-demoted smoke pin in tests/test_relational.py."""
    ev = load_table(spark, sf_dir, "events")
    queries = ev.select(
        "user_id", (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("qts")
    )
    return rel.interpolate_at(
        ev, queries, key_col="user_id", obs_ts_col="ts",
        value_col="value", query_ts_col="qts",
    )


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (pipeline.dq_checks + fk_violations):
    four single-scan assertions on orders plus a referential-integrity
    anti-join against customer, one exact report row per check."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    report = pl.dq_checks(
        orders,
        {
            "positive_price": F.col("o_totalprice") > 0,
            "custkey_not_null": F.col("o_custkey").isNotNull(),
            "orderdate_not_null": F.col("o_orderdate").isNotNull(),
            "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        },
    )
    fk = pl.fk_violations(orders, customer, "o_custkey", "c_custkey")
    return report.unionByName(fk)




def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup verification (dedup.edit_distance_verify) on
    adjacent-id candidate pairs, 64-char prefixes — the character-level
    twin of the n-gram Jaccard verifier. Exact integer distance; the
    normalized similarity is one int/int IEEE division."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).filter(F.col("id_a") < 100)
    return dd.edit_distance_verify(pairs, docs, prefix_len=64)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index summary (text.build_inverted_index): per token df,
    total tf, order-insensitive posting checksum, first-10 posting
    sample — all exact ints / deterministic strings."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.build_inverted_index(docs, min_df=2)




def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over events (relational.
    cohort_retention) — exact integer periods + exact distinct users."""
    ev = load_table(spark, sf_dir, "events")
    return rel.cohort_retention(ev, ts_col="ts", key_col="user_id")




def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe try_* arithmetic family: under ANSI mode (Spark 4
    default) divide-by-zero and integer overflow RAISE; try_divide/
    try_add/try_multiply return NULL instead — the dirty-data-tolerant
    path a 100 TB pipeline wants for derived metrics. Oracle reproduces
    the NULL semantics with guarded CASE expressions."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), (F.col("o_custkey") % 3).cast("double")).alias(
            "price_per_mod"
        ),
        F.try_add(F.lit(9223372036854775807).cast("long"), F.col("o_orderkey")).alias(
            "overflow_add"
        ),
        F.try_multiply(F.lit(4611686018427387904).cast("long"), (F.col("o_orderkey") % 4).cast("long")).alias(
            "overflow_mul"
        ),
    )




def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML family (the reference's S5 artifact is an OpenCV XML matrix —
    sources/artifacts.py parses the real file; reference README.md:140-143):
    here the Spark 4 from_xml path, validated as a round-trip — rows are
    serialized to XML strings in-query, parsed back with an explicit
    schema, and the extracted fields must equal the originals (oracle:
    the originals)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    xml = F.concat(
        F.lit("<ev><id>"), F.col("event_id").cast("string"),
        F.lit("</id><ty>"), F.col("event_type"),
        F.lit("</ty><va>"),
        F.floor(F.col("value") * 1_000_000).cast("long").cast("string"),
        F.lit("</va></ev>"),
    )
    parsed = ev.select(
        "event_id",
        F.from_xml(xml, "id BIGINT, ty STRING, va BIGINT").alias("x"),
    )
    return parsed.select(
        "event_id",
        F.col("x.id").alias("xml_id"),
        F.col("x.ty").alias("xml_type"),
        F.col("x.va").alias("xml_value_micro"),
    )


def q_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL scalar family: synthesize a URL per document from its source/
    lang, then parse_url host/path/query-param extraction; the oracle
    reproduces the components from the same string algebra."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.url_encode(F.concat(F.col("source"), F.lit(" "), F.col("lang"))).alias("encoded"),
    )




def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud via distributed
    power iteration (similarity.power_iteration_top_component). Rows-only
    by design: dimension sums run in partition order, so loadings are
    float-tolerant, not bit-stable (the numpy-parity pytest with cosine
    alignment > 0.9999 is the value gate). Emitted as (pos, loading,
    eigenvalue) scalar cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    v, lam = sim.power_iteration_top_component(emb, iters=8)
    return spark.createDataFrame(
        [(i, float(x), float(lam)) for i, x in enumerate(v)],
        "pos int, loading double, eigenvalue double",
    )


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth EWMA per user (relational.ewma_bounded, alpha=0.5
    depth=8): the recursion truncated to a closed-form lag chain — one
    key-partitioned window, zero self-joins, whole-stage codegen. The
    alpha=0.5 coefficients (0.5, 0.25, …) are exact binary fractions and
    the fold order is a fixed left chain, so the oracle reproduces the
    fp64 result bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    return rel.ewma_bounded(
        ev, key_col="user_id", order_cols=["ts", "event_id"],
        value_col="value", alpha=0.5, depth=8,
    ).select("user_id", "event_id", "value", "ewma")


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit audit of order totals: digit counts (exact
    integers via the DECIMAL(18,2) string form — no float log/pow in the
    bucketing), observed share, and the Benford-law expected share
    rounded to 9 dp so a 1-ulp libm log10 divergence between engines
    cannot flip the hash."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.substring(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
    counts = orders.groupBy(d.alias("digit")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "digit",
        "n",
        (F.col("n").cast("double") / total.cast("double")).alias("share"),
        F.round(
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")), 9
        ).alias("benford_share"),
    )


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED 2-D skyline / Pareto front per brand
    (relational.skyline_2d with partition_cols): parts where no other
    part OF THE SAME BRAND is both cheaper-or-equal and larger-or-equal
    (strict on one axis). Spark side is the LINEAR two-phase form —
    per-partition prune (skyline of a union ⊆ union of skylines) then
    one dense-rank running-max window, every window partitioned on
    p_brand so NO global ordering exists in the plan — while the oracle
    is the O(n²) per-group NOT EXISTS definition, checkable at sf0.01,
    which is exactly the plan shape this operator avoids at 100 TB."""
    part = load_table(spark, sf_dir, "part")
    return rel.skyline_2d(
        part.select("p_brand", "p_partkey", "p_retailprice", "p_size"),
        minimize_col="p_retailprice",
        maximize_col="p_size",
        partition_cols=["p_brand"],
    )


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency cells (relational.contingency_cells) over
    event_type × hour-of-day: observed counts, expected under
    independence, and per-cell (O−E)²/E contributions. Cells, not the
    summed statistic — each cell is one deterministic fp64 expression
    over exact integer marginals (hash-safe); the scalar χ² would be a
    partition-order-dependent float reduction."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_bucket", F.hour("ts").cast("int")
    )
    return rel.contingency_cells(ev, "event_type", "hour_bucket")


def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: DECIMAL-exact yearly totals, then
    a lag ratio over the (tiny) per-year aggregate — the window runs
    over n_years rows, never the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").cast("bigint").alias("o_year")
    ).agg(_dec_sum(F.col("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "o_year",
        "revenue",
        (F.col("revenue") / prev - F.lit(1.0)).alias("yoy_growth"),
    )


def q_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-change gaps-and-islands (relational.run_lengths): consecutive
    same-event_type runs per user collapsed by the double-row_number
    island id, then the run-length distribution per event type. All
    integer arithmetic — exact under any partitioning; one shuffle on
    user_id plus one tiny distribution aggregate."""
    ev = load_table(spark, sf_dir, "events")
    runs = rel.run_lengths(
        ev, key_col="user_id", order_cols=["ts", "event_id"], state_col="event_type"
    )
    return runs.groupBy("event_type", "run_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs")
    )


def q_bigram_condprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional probabilities P(w2 | w1): bigram counts (the
    same materialize-then-zip_with tokenization as bigram_histogram)
    with the w1 marginal as a window sum over the AGGREGATED bigram
    table — the second pass never rescans the corpus. p is one integer
    division per row (hash-safe); top-50 by count with full-key
    tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    tok_df = docs.select(
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
        ).alias("toks")
    )
    pairs = tok_df.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice(F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    w1_tot = F.sum("cnt").over(Window.partitionBy("w1"))
    return (
        counts.select(
            "w1",
            "w2",
            F.col("cnt").cast("long").alias("cnt"),
            (F.col("cnt").cast("double") / w1_tot.cast("double")).alias("p"),
        )
        .orderBy(F.desc("cnt"), "w1", "w2")
        .limit(50)
    )


def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outliers (relational.zscore_outliers): moments
    from exact decimal Σx/Σx² (order-independent), broadcast back, one
    deterministic fp64 z per row, |z| > 3 kept. Two scans, zero large
    shuffles. Runs on the heavy-tailed events.value (order totals are
    near-uniform — max |z| ≈ 1.77 — and would flag nothing)."""
    ev = load_table(spark, sf_dir, "events")
    return rel.zscore_outliers(
        ev.select("event_id", "event_type", "value"),
        group_col="event_type",
        value_col="value",
        threshold=3.0,
    ).select("event_id", "event_type", "value", "zscore")


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest quantile sketch (sketch.tdigest_quantiles,
    delta=200) with the bounded-assertion gate pattern: the sketch
    estimate is partitioning-dependent by construction, so the gate
    emits the EXACT per-group percentile (oracle-matched) plus a
    rank-error boolean — share of values ≤ estimate within ±0.02 of the
    target q — computed from integer-exact counts. The shuffle moves
    centroids (KB per group), never values."""
    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    ev = load_table(spark, sf_dir, "events")
    est = sk.tdigest_quantiles(ev, "event_type", "value", [0.5, 0.9], delta=200)
    ranks = (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type", "q")
        .agg(
            (
                F.sum(
                    F.when(F.col("value") <= F.col("est"), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("share")
        )
    )
    exact = (
        ev.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("e50"),
            F.percentile("value", F.lit(0.9)).alias("e90"),
        )
        .select(
            "event_type",
            F.expr("stack(2, 0.5D, e50, 0.9D, e90) AS (q, exact_value)"),
        )
    )
    return exact.join(ranks, ["event_type", "q"]).select(
        "event_type",
        "q",
        "exact_value",
        (F.abs(F.col("share") - F.col("q")) <= F.lit(0.02)).alias("within_bound"),
    )


def q_upsert_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (pipeline.aggregate_state +
    merge_aggregate_state): the order history is split at 1997-01-01
    into two independently-aggregated states whose MERGE — a union of
    |keys|-row state tables, never raw data — must equal the full
    recompute the oracle runs. Counts long, sums DECIMAL in the state
    (exact under any merge order), doubles only at read time."""
    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    late = orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01"))
    s1 = pl.aggregate_state(early, ["o_orderpriority"], "o_totalprice", scale=2)
    s2 = pl.aggregate_state(late, ["o_orderpriority"], "o_totalprice", scale=2)
    merged = pl.merge_aggregate_state(s1, s2)
    return merged.select(
        "o_orderpriority",
        "n",
        F.col("sum").cast("double").alias("sum_total"),
        F.col("min").alias("min_total"),
        F.col("max").alias("max_total"),
        (F.col("sum").cast("double") / F.col("n").cast("double")).alias("avg_total"),
    )


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: top-30 event-type trigram transitions per user
    journey via two leads over ONE key-partitioned ordered window —
    the n-gram-over-sequences pattern (what feeds Markov funnel models)
    with all-integer output."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        paths.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(30)
    )


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE gap-based session windows (F.session_window) per
    user. Oracle reproduces the semantics as lag-gap islands: a gap of
    exactly 30 min starts a new session (session end = last event + gap,
    end-exclusive). The islands twin q_sessionize covers the hand-rolled
    form; this gates the built-in."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            F.col("n").cast("long").alias("n"),
        )
    )


def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly detection (relational.rolling_zscore):
    each event scored against its user's trailing-20 mean/stddev,
    |z| > 2.5 flagged. Windowed Σx/Σx² in DECIMAL (exact under frame
    accumulation), fp64 only in the final fixed expression tree — the
    threshold boundary decision hash-matches the oracle."""
    ev = load_table(spark, sf_dir, "events")
    return rel.rolling_zscore(
        ev.select("event_id", "user_id", "ts", "value"),
        key_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        window_rows=20,
        min_periods=10,
        threshold=2.5,
    ).select("event_id", "user_id", "value", "roll_z")


def q_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window dedup (dedup.dedup_within_window): first event per
    (user, event_type) in each 1-hour tumbling window. Window ids are
    exact integer epoch-micros arithmetic; one shuffle on (keys,
    window)."""
    ev = load_table(spark, sf_dir, "events")
    kept = dd.dedup_within_window(
        ev,
        keys=["user_id", "event_type"],
        ts_col="ts",
        window_seconds=3600,
        tiebreak_cols=["event_id"],
    )
    return kept.select("event_id", "user_id", "event_type", "window_start")


def q_bfs_supply_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS (graph.bfs_hops, 3 rounds) over the bipartite
    supplier↔part supply graph from lineitem (suppliers as negative
    node ids): hop distribution + node-id checksum from supplier 1.
    All-integer frontier expansion with min-hop merge — oracle unrolls
    the rounds as CTEs and hash-matches exactly (the third oracle-green
    ITERATIVE algorithm after integer PageRank and transitive dedup)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    li = load_table(spark, sf_dir, "lineitem")
    # -suppkey - 1 keeps suppliers STRICTLY negative (the fixture has
    # suppkey 0 and partkey 0; a bare -suppkey aliases them into one
    # node — same fix as assortativity); supplier 1 is node -2
    edges = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (-F.col("l_suppkey") - 1).cast("long").alias("dst"),
    )
    reached = gr.bfs_hops(edges, source=-2, max_hops=3)
    return reached.groupBy("hop").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("node").cast("long").alias("node_checksum"),
    )


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity.pq_train_codebooks /
    pq_encode / pq_topk_adc): 64-dim float vectors compressed to 8 code
    ids (8× shrink at these settings; the codes themselves are what a
    100 TB index stores), then an asymmetric-distance candidate scan —
    the query expands once into an m×k exact-subdistance table and each
    row costs m lookups + a sum, feeding the bounded two-stage top-k.

    Recall gate hardened in round 11 (the first full sf0.1 registry run
    caught the original single-query fixed-50-candidate bound failing
    6/10 there): the CANDIDATE BUDGET must scale with the corpus
    (k = max(50, n/10) — fixed k decays in recall as near-uniform
    fixture distances crowd the quantized ranking; raising k_codes does
    NOT help, measured 5/10 at k_codes=64), and the bound averages over
    3 query vectors (single-query recall swings 6-10/10 across
    fixtures at the SAME n). Measured totals 24-25/30 at sf0.001/0.01/
    0.1; gate requires >= 20/30. Exact side ranks by the monotone dot
    identity dist² ∝ e·e − 2·e·q."""
    from hdinsight_pyspark_cntk_integration_spark.functions.vector import dot

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_cand = max(50, n // 10)
    books = sim.pq_train_codebooks(
        emb, m_subvectors=8, k_codes=32, sample_n=1024, iters=6, seed=13
    )
    encoded = sim.pq_encode(emb, books)
    total_hits = 0
    for qid in (0, 1, 2):
        qrow = emb.filter(F.col("vec_id") == qid).select("embedding").head()
        qv = [float(x) for x in qrow["embedding"]]
        cands = sim.pq_topk_adc(encoded, qv, books, k=k_cand)
        qcol = F.array(*[F.lit(x) for x in qv])
        exact10 = (
            emb.filter(F.col("vec_id") != qid)
            .select(
                "vec_id",
                (
                    dot("embedding", "embedding")
                    - F.lit(2.0) * dot("embedding", qcol)
                ).alias("score"),
            )
            .orderBy("score", "vec_id")
            .limit(10)
        )
        total_hits += exact10.join(cands.select("vec_id"), "vec_id").count()
    return spark.createDataFrame(
        [(3, int(total_hits) >= 20)], "n_queries int, recall_ok boolean"
    )


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``eqNullSafe`` / ``IS NOT DISTINCT
    FROM``): per-type event counts from the even and odd event-id
    halves, joined on a NULLABLE key ('view' nullified) — the NULL
    groups must pair up, which a plain equi-join silently drops. Same
    hash-join physical shape; only the key comparator changes."""
    ev = load_table(spark, sf_dir, "events")
    key = F.nullif(F.col("event_type"), F.lit("view"))
    even = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy(key.alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_even"))
    )
    odd = (
        ev.filter(F.col("event_id") % 2 == 1)
        .groupBy(key.alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_odd"))
    )
    return even.join(odd, even["k"].eqNullSafe(odd["k"])).select(
        even["k"].alias("k"), "n_even", "n_odd"
    )


def q_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 COLLATIONS (F.collate with
    UTF8_LCASE) — the declarative alternative to lower()-normalizing
    every expression: the collation travels with the column through the
    groupBy. Case diversity is manufactured (even doc_ids upper-cased),
    and the output key is re-derived with plain lower()/binary min so
    the emitted schema stays an ordinary string (collated types don't
    exist oracle-side)."""
    docs = load_table(spark, sf_dir, "documents")
    s = F.when(F.col("doc_id") % 2 == 0, F.upper("source")).otherwise(F.col("source"))
    return (
        docs.select(s.alias("s"))
        .groupBy(F.collate(F.col("s"), "UTF8_LCASE").alias("ck"))
        .agg(
            F.lower(F.min("s")).alias("source_norm"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .drop("ck")
    )


def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day (sketch.hll_sliding_distinct):
    sliding COUNT(DISTINCT) has no mergeable exact partial, so the scale
    path is per-day HLL sketches + a windowed union over the |days|-row
    aggregate — the fact table is scanned ONCE. The gate pairs it with
    the exact offset-explode twin (7× multiplication of the per-day
    DISTINCT pairs, exact and oracle-matched) and a 3σ bound boolean on
    the sketch estimate (lgConfigK=12 ⇒ 5% ≈ 3σ)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    ev = load_table(spark, sf_dir, "events")
    est = sk.hll_sliding_distinct(ev, "ts", "user_id", window_days=7)
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct()
    exact = (
        du.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "day", "user_id"
        )
        .select(F.date_add(F.col("day"), F.col("off")).alias("day"), "user_id")
        .join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    )
    return exact.join(est, "day").select(
        F.col("day").cast("string").alias("day"),
        "n_exact",
        (
            F.abs(F.col("est").cast("double") / F.col("n_exact").cast("double") - 1.0)
            <= F.lit(0.05)
        ).alias("sketch_ok"),
    )


def q_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the IVF ∘ PQ composition (similarity.ivfpq_build /
    ivfpq_topk): coarse inverted lists + PQ-coded RESIDUALS (residuals
    concentrate near zero, so the same codebook budget buys less error
    than raw-vector PQ), probe-then-ADC search touching ~nprobe/n_cells
    of the code table. Recall gate honesty note: the fixture embeddings
    are near-uniform on the unit sphere (same-label and cross-label
    distances differ by ~1% — no cluster structure), the ADVERSARIAL
    regime for inverted-file pruning, so the gate probes 5 of 8 cells
    and requires ≥7 of the exact L2 top-10 in 150 ADC candidates
    (measured: 8; deterministic — fixed seed, fixed data). Where
    cluster structure exists the operator does far better: the
    clustered-data pytest pins ≥8/10 while probing 3 of 8 cells."""
    from hdinsight_pyspark_cntk_integration_spark.functions.vector import dot

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow["embedding"]]
    cents, books, enc = sim.ivfpq_build(
        emb, n_cells=8, m_subvectors=8, k_codes=32, sample_n=1024, iters=6, seed=13
    )
    cands = sim.ivfpq_topk(enc, cents, books, qv, k=150, nprobe=5)
    qcol = F.array(*[F.lit(x) for x in qv])
    exact10 = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            (dot("embedding", "embedding") - F.lit(2.0) * dot("embedding", qcol)).alias(
                "score"
            ),
        )
        .orderBy("score", "vec_id")
        .limit(10)
    )
    n_hits = exact10.join(cands.select("vec_id"), "vec_id").count()
    return spark.createDataFrame(
        [(0, int(n_hits) >= 7)], "query_id int, recall_ok boolean"
    )


def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN…END, DECLARE, WHILE): a scripted
    threshold search — double `thr` until at most 3000 orders exceed it
    — then the report query uses the converged variable. Control flow
    runs on the driver, every probe is a distributed job; the oracle
    replays the same deterministic doubling chain as a CTE over
    2^k-scaled candidates (exact binary fp64 on both sides)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 100000.0;
          WHILE (SELECT COUNT(*) FROM orders WHERE o_totalprice > thr) > 3000 DO
            SET thr = thr * 2.0;
          END WHILE;
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_above,
                 thr AS threshold
          FROM orders WHERE o_totalprice > thr
          GROUP BY o_orderpriority;
        END
        """
    )


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media dedup, ORACLE-GREEN by construction
    (multimodal.perceptual_dhash + near_dup_phash): media payloads are
    manufactured so doc_ids sharing ``doc_id % 100`` carry byte-identical
    content — identical bytes hash identically (hamming 0), while
    distinct 64-bit hashes essentially never land within 4 bits — so the
    exact near-dup pair set equals the same-residue pair set, which the
    oracle computes with pure integer arithmetic. The Spark side runs
    the REAL pipeline: decode → dHash (one Arrow pass) → banded 16-bit
    bucket joins (pigeonhole: ≤4 differing bits must agree on one of 4
    bands) → exact popcount verify."""
    from hdinsight_pyspark_cntk_integration_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select(
        "doc_id",
        F.unhex(
            F.sha2(
                F.concat(F.lit("media-"), (F.col("doc_id") % 100).cast("string")), 256
            )
        ).alias("content"),
    )
    hashes = mm.perceptual_dhash(
        payload, decoder=mm.deterministic_fake_decoder((8, 9, 3))
    )
    return mm.near_dup_phash(hashes, max_hamming=4, bands=4)


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (relational.interval_overlap_join): per-user
    2-hour view windows × 2-hour purchase windows that overlap in time.
    Candidates from (user, hour-bin) equality after exploding each
    interval to its covered bins — Σ|bucket|² work, never a per-key
    cross product — then the exact half-open predicate verifies in
    integer epoch-micros. Oracle runs the quadratic inequality join
    this operator exists to avoid."""
    ev = load_table(spark, sf_dir, "events")
    two_h = F.expr("INTERVAL 2 HOURS")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("id_v"),
        F.col("ts").alias("v_start"),
        (F.col("ts") + two_h).alias("v_end"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("id_p"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + two_h).alias("p_end"),
    )
    pairs = rel.interval_overlap_join(
        views, buys, ["user_id"], "v_start", "v_end", "p_start", "p_end",
        bin_seconds=3600,
    )
    return pairs.select("user_id", "id_v", "id_p")


def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type per day
    (relational.running_distinct): Σ first-appearances identity — no
    windowed COUNT(DISTINCT) exists in any engine at scale; the running
    sum windows over the |types|×|days| aggregate, never the fact
    table. All-integer, oracle-exact."""
    ev = load_table(spark, sf_dir, "events")
    return rel.running_distinct(ev, "event_type", "user_id", "ts")


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level version diff (pipeline.table_diff): orders v2 is
    manufactured arithmetically (keys ≡0 mod 97 removed, ≡0 mod 31
    repriced, ≡0 mod 101 re-keyed as inserts), so the oracle derives
    every row's status from pure modular arithmetic while Spark runs
    the real md5-fingerprint full-outer diff. Emitted as per-status
    counts + key checksums (constant-size audit)."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = orders.filter(k % 97 != 0).withColumn(
        "o_totalprice",
        F.when(k % 31 == 0, F.col("o_totalprice") + F.lit(1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    added = orders.filter(k % 101 == 0).withColumn(
        "o_orderkey", (k + F.lit(10_000_000)).cast(orders.schema["o_orderkey"].dataType)
    )
    v2 = base.unionByName(added)
    diff = pl.table_diff(
        orders, v2, ["o_orderkey"], ["o_totalprice", "o_orderpriority"]
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join direction='nearest' (relational.asof_join_nearest,
    completing the merge_asof direction surface): each view event gets
    the nearest purchase by the same user in EITHER direction within a
    2-hour tolerance, ties broken backward (pandas-compatible, verified
    in the property test). Two one-shuffle directional carries + one
    id-keyed join — still no inequality-join explosion. The oracle is
    the quadratic argmin with the same tie ordering."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("id_v"), "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("pts"))
        .agg(F.max("event_id").alias("id_p"))
    )
    out = rel.asof_join_nearest(
        views, purchases, ["user_id"], "ts", "pts", ["id_p"],
        left_id="id_v", tolerance_seconds=7200,
    )
    return out.select("user_id", "id_v", "id_p")


def q_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (Spark 4 ``useArrow=True`` —
    ArrowEvalPython, vectorized batch transfer; the acceptable form of
    a scalar Python UDF, vs the BatchEvalPython row loop the plan lint
    bans). Python floats are IEEE doubles, so the identical expression
    tree hash-matches the oracle's SQL arithmetic."""
    from pyspark.sql.functions import udf

    @udf("double", useArrow=True)
    def blend(value: float, uid: int) -> float:
        if value is None or uid is None:
            return None
        return value * 0.3 + float(uid % 7) * 0.1

    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", blend(F.col("value"), F.col("user_id")).alias("blended"))


def q_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface (aes_encrypt/aes_decrypt, GCM):
    cipher bytes are IV-randomized (not oracle-comparable by design —
    that's the security property), so the gate asserts the roundtrip:
    every document decrypts back to its exact source text, counted
    integer-exactly; the oracle supplies the expected counts + TRUE."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.lit("0123456789abcdef")  # 16-byte AES-128 demo key
    enc = F.aes_encrypt(F.col("text").cast("binary"), key.cast("binary"))
    dec = F.aes_decrypt(enc, key.cast("binary")).cast("string")
    return docs.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((dec == F.col("text")).cast("long")).alias("n_roundtrip_ok"),
    ).select(
        "n_docs",
        "n_roundtrip_ok",
        (F.col("n_docs") == F.col("n_roundtrip_ok")).alias("all_ok"),
    )


def q_balanced_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof range bucketing (pipeline.balanced_buckets): t-digest
    quantile bounds split the heavy-tailed event values into 8 buckets
    that each hold ≈1/8 of the rows. Bucket bounds are sketch estimates
    (partitioning-dependent), so the gate asserts the INVARIANTS: every
    bucket present, total preserved, and every bucket's share within
    [½·1/B, 2·1/B] — integer-exact checks the oracle pairs with TRUE."""
    ev = load_table(spark, sf_dir, "events")
    bucketed = pl.balanced_buckets(ev.select("event_id", "value"), "value", 8)
    sizes = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("n_rows"),
        (
            (F.min("n") * 8 >= F.sum("n") / 2) & (F.max("n") * 8 <= F.sum("n") * 2)
        ).alias("balanced_ok"),
    )


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words (text.hashed_bow, dim=32): the
    no-vocabulary fixed-dimension featurizer — token buckets from an
    md5-derived integer (cross-engine-reproducible, unlike xxhash64),
    one counting shuffle, zero driver state. Long-form (doc, bucket, n)
    output; the dense array<long> form is pytest-pinned against it."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.hashed_bow(docs, dim=32)


def q_differential_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential hot/cold skew join (relational.differential_join):
    the hottest event users route through a broadcast join of the dim
    side's hot slice — hot keys never enter the shuffle (vs salting,
    which splits the straggler, and AQE, which re-plans it after
    materialization). Exclusive routing keeps multiplicity exactly the
    plain join's, which is what the oracle computes."""
    ev = load_table(spark, sf_dir, "events")
    user_dim = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    joined = rel.differential_join(ev, user_dim, "user_id", top_k=10)
    return joined.select("event_id", "user_id", "n_events")


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Gini concentration of order totals
    (relational.gini_coefficient): sorted-rank identity with DECIMAL
    Σx / Σ(i·xᵢ) — rank·value products exact, tie-rank invariance makes
    the result partitioning-independent with no tiebreak column."""
    orders = load_table(spark, sf_dir, "orders")
    return rel.gini_coefficient(orders, "o_orderpriority", "o_totalprice")


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-distribution entropy (text.token_entropy):
    vocabulary diversity in micro-nat integer discipline — ln quantized
    at birth, BIGINT sums, one deterministic fp64 expression at the
    end (the bm25/unigram ln-ulp treatment applied to entropy)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.token_entropy(docs, "text", "lang")


def q_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family (every / some / count_if — Spark 3.5+
    surface) per order priority; integer/boolean-exact so any
    partitioning hash-matches the oracle's bool_and/bool_or/count_if."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 900).alias("all_above_900"),
        F.some(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count_if(F.col("o_totalprice") > 200000).cast("long").alias("n_big"),
    )


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean NLL under the corpus add-one bigram model
    (text.bigram_logprob) — the context-aware perplexity proxy
    (unigram_logprob's upgrade: plausible-unigram word salad scores
    high only here). Micro-unit ln discipline: one transcendental per
    distinct corpus bigram, exact BIGINT sums everywhere else."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bigram_logprob(docs)


def q_near_dup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus near-dedup (dedup.near_dup_against),
    ORACLE-PAIRED since round 12 via hash_family="md5" (the
    minhash_near_dup precedent applied to the cross-corpus path): the
    daily-ingest question — which docs of the new slice (ids ≥ 400)
    near-duplicate the existing corpus (ids < 400). Both sides banded
    with the same portable family over the parity-tagged union (16
    hashes / 4 bands); candidates are cross-side band collisions ONLY,
    then exact n-gram Jaccard verifies, all replayed bit-for-bit by
    DuckDB. Production keeps the 2-3x-faster xxhash64 default
    (planted-pair pytest + the near_dup_against_exact twin)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    return dd.near_dup_against(
        new, base, threshold=0.8, num_hashes=16, bands=4, hash_family="md5"
    )


def q_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization per group — the ML preprocessing
    step that maps any distribution onto uniform [0,1] via the ANSI
    percent_rank definition (rank−1)/(n−1) with min-rank ties: ranks
    are integers, so the single division is the only fp op and the
    result is deterministic under any partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.percent_rank().over(w).alias("q_uniform"),
    )


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at exact p05/p95 per event type: tail values are
    CLIPPED to the percentile bounds, not dropped — the robust-mean
    preprocessing twin of outlier_zscore (which flags; this repairs).
    Exact interpolated percentiles (engine-identical, proven by the
    percentiles gates) broadcast back over the table; the clip is one
    deterministic per-row expression."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
                "winsorized"
            ),
        )
    )


def q_auto_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freedman–Diaconis auto-binned histogram of event values with an
    integer-CENT discipline: the fixture's 2-decimal doubles are exact
    in cents, the FD width 2·IQR/∛n is rounded to whole cents ONCE, and
    bucketing is then pure integer arithmetic — so the data-driven bin
    choice (the part ad-hoc histograms get wrong) is itself
    hash-reproducible cross-engine. cbrt is the one transcendental and
    it feeds a whole-cent round (same quantize-at-birth discipline as
    the ln-based scores)."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.agg(
        F.percentile("value", F.lit(0.25)).alias("p25"),
        F.percentile("value", F.lit(0.75)).alias("p75"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.min("value").alias("vmin"),
    ).head()
    iqr = float(stats["p75"]) - float(stats["p25"])
    width_cents = max(1, int(round(2.0 * iqr / float(stats["n"]) ** (1.0 / 3.0) * 100)))
    min_cents = int(round(float(stats["vmin"]) * 100))
    cents = F.round(F.col("value") * 100).cast("long")
    bucket = F.floor((cents - F.lit(min_cents)) / F.lit(width_cents)).cast("long")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "bucket",
            (F.lit(min_cents) + F.col("bucket") * F.lit(width_cents)).alias(
                "lo_cents"
            ),
            F.lit(width_cents).alias("width_cents"),
            "n",
        )
    )


def q_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between click and error event values
    (operators.stats.mann_whitney_u): global-rank statistic WITHOUT a
    global row sort — ranks from the distinct-value aggregate with
    exact average-rank ties (half-integers: every term and partial sum
    is exact in fp64, so the float reduction is order-independent and
    hash-gate-safe)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    return st.mann_whitney_u(ev, "event_type", "value", "click", "error")


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between click and purchase value
    distributions (operators.stats.ks_statistic) — the drift detector;
    empirical CDFs as running integer counts over the pooled
    distinct-value aggregate, max over deterministic per-value fp64."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    return st.ks_statistic(ev, "event_type", "value", "click", "purchase")


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Spearman rank correlation of quantity vs extended
    price (operators.stats.spearman_corr): doubled average ranks are
    exact BIGINTs from per-group distinct-value aggregates (no global
    row sort), five DECIMAL moments, one fp64 ratio — the
    rank-correlation twin of the Pearson corr_stats gate."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")
    return st.spearman_corr(li, "l_returnflag", "l_quantity", "l_extendedprice")


def q_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (y = extended price on x = quantity):
    slope, intercept, R² from the same DECIMAL-exact moment discipline
    as corr_stats — Σx, Σy, Σxy, Σx², Σy² are exact under any
    partitioning; only the final closed-form arithmetic runs in fp64
    with the identical expression tree DuckDB evaluates."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(38,4)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,4)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = (
        (n * sxy - sx * sy)
        * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    )
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM level-shift locator (stats.cusum_changepoint):
    running integer-cent deviations from the user's lower-median,
    argmax |cusum| with earliest-row ties. The windowed accumulation is
    pure BIGINT, sidestepping the engine-specific float-window
    accumulation order (Spark serial vs DuckDB segment trees) — which
    is exactly why the oracle hash-matches."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    return st.cusum_changepoint(
        ev, key_col="user_id", order_cols=["ts", "event_id"],
        value_col="value", id_col="event_id",
    )


def q_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B analysis composing the split and stats
    machinery: users assigned to arms by the ANSI-reproducible knuth
    mixer (pipeline.hash_bucket — no RNG state, rerun-stable), per-arm
    view→purchase conversion from exact integer counts, lift and the
    two-proportion z-statistic as one fp64 expression over those ints.
    The statistics are only as trustworthy as the assignment is
    deterministic — which is the point of the hash-split discipline."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(pl.hash_bucket(F.col("user_id"), "knuth") % 2 == 0, "A").otherwise(
        "B"
    )
    # conversion = a high-value purchase (rare enough that arms differ;
    # an any-purchase flag saturates at ~66 events/user; pool=0 or 1 puts
    # a zero in the z denominator)
    per_user = ev.groupBy(F.col("user_id"), arm.alias("arm")).agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 200.0)).cast("int")
        ).alias("purchased"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("purchased").cast("long").alias("n_converted"),
    )
    wide = (
        arms.groupBy()
        .pivot("arm", ["A", "B"])
        .agg(F.first("n_users").alias("n"), F.first("n_converted").alias("c"))
    )
    na, ca = F.col("A_n").cast("double"), F.col("A_c").cast("double")
    nb, cb = F.col("B_n").cast("double"), F.col("B_c").cast("double")
    pa, pb = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    z = (pa - pb) / F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    return wide.select(
        F.col("A_n").alias("n_a"),
        F.col("A_c").alias("conv_a"),
        F.col("B_n").alias("n_b"),
        F.col("B_c").alias("conv_b"),
        (pa - pb).alias("lift"),
        z.alias("z_stat"),
    )


def q_modern_sql_sugar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL surface sugar in one query: GROUP BY ALL (grouping
    keys inferred from the non-aggregate select list) and LATERAL
    column aliases (an alias referenced later in the same SELECT —
    `margin` built from `revenue` without a subquery). Both supported
    by Spark 3.4+/4 and DuckDB with identical semantics."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue,
               revenue / COUNT(*) AS avg_revenue,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY ALL
        """
    )


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full reference pipeline shape on sf0.001 —
    batch-score embeddings with the deterministic stub model (M1/M2),
    confusion counts (R7), broadcast label-name lookup (R6)."""
    confusion = q_score_confusion(spark, SF001)
    label_dim = spark.createDataFrame(
        [(i, n) for i, n in enumerate(LABEL_NAMES)], "label int, label_name string"
    )
    return rel.dim_lookup(confusion, label_dim, "label").select(
        "label", "label_name", "predicted_label", "n"
    )


# --- round-9 batch: effect sizes, resampling, order statistics, HITS,
# --- grouping sets ------------------------------------------------------


def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d pooled-variance effect size (operators.stats.cohens_d):
    how many standard deviations separate URGENT and LOW order values —
    the magnitude companion to the welch_ttest gate (same two groups,
    same moment discipline: integer cents, DECIMAL sums, one fp64
    tree)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    return st.cohens_d(orders, "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW")


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority LOWER weighted median of lineitem price weighted by
    quantity (operators.stats.weighted_median): the price at which half
    the QUANTITY trades — all-integer (cross-multiplied cumulative
    weights over the bounded (group, value) cell aggregate)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_orderpriority", "l_extendedprice", "l_quantity"
    )
    return st.weighted_median(j, "o_orderpriority", "l_extendedprice", "l_quantity")


def q_jackknife_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-NATION jackknife of the global mean account balance
    (operators.stats.jackknife_means): which nation's customers pull
    the mean, and by how much — the grouped-data influence diagnostic.
    One aggregate pass; the only window runs over the 25-row nation
    aggregate."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    cust = load_table(spark, sf_dir, "customer")
    return st.jackknife_means(cust, "c_nationkey", "c_acctbal").withColumnRenamed(
        "c_nationkey", "nation"
    )


def q_bootstrap_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the mean order value, 64
    resamples (operators.stats.poisson_bootstrap_mean, Chamandy et al.
    2012): per-resample multiplicities from the engine's Knuth mixer —
    no RNG, so Spark and the oracle agree bit-for-bit. The explode is
    collapsed by map-side partial agg before the 64-row shuffle."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    return st.poisson_bootstrap_mean(orders, "o_orderkey", "o_totalprice", 64)


def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart 3σ control chart over per-customer total spend by
    market segment (operators.stats.control_chart): the whale/anomaly
    customers whose spend sits > 3σ from their segment's mean. Breach
    points only, flagged by the ALL-INTEGER cross-multiplied test
    (n·x − S)² > 9·(n·Q − S²) — no sqrt, no float compare,
    hash-gate-exact. (Raw o_totalprice has compact support — max |z|
    ~1.9 at every SF, a chart that never fires; customer TOTALS are
    order-count-mixed and genuinely heavy-tailed: 1 breach at sf0.001,
    6 at sf0.01.) Spend aggregates to exact cents BEFORE the operator;
    the operator's own cents quantization (×100) is undone by passing
    dollars back."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .groupBy("c_mktsegment", "c_custkey")
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("spend")
        )
    )
    return st.control_chart(
        spend, "c_mktsegment", "c_custkey", "spend", n_sigma=3
    ).withColumnRenamed("c_mktsegment", "segment").withColumnRenamed(
        "t", "custkey"
    )


def q_lorenz_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend in deciles
    (operators.stats.lorenz_points): cumulative revenue share of the
    bottom-k customer deciles. Global NTILE WITHOUT a global window —
    binary-magnitude buckets + local ranks + a <=130-row offset prefix
    sum (the epoch_shuffle idiom), NTILE replicated arithmetically from
    (rank, N) so the oracle's plain windowed NTILE matches exactly."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    return st.lorenz_points(orders, "o_custkey", "o_totalprice", buckets=10)


def q_hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized integer HITS, 2 rounds, on the directed strong
    nation trade graph (operators.graph.hits_scores — the tenth
    oracle-provable iterative algorithm): which nations are the
    strongest EXPORT hubs vs IMPORT authorities under mutual
    reinforcement. Exact integers (normalization skipped — rankings
    unchanged, scores become path counts the oracle unrolls as two CTE
    pairs)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    return gr.hits_scores(_strong_trade_edges(spark, sf_dir), iters=2)


_GROUPING_SETS_SQL = """
    SELECT
      COALESCE(r_name, '(all)') AS region,
      COALESCE(o_orderpriority, '(all)') AS priority,
      GROUPING(r_name) AS g_region,
      GROUPING(o_orderpriority) AS g_priority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        AS revenue_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
"""


def q_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native GROUPING SETS with GROUPING() markers (SQL surface): the
    region rollup, the priority rollup, and the grand total in ONE
    grouped scan — the SAME SQL text, byte-identical, runs on Spark and
    DuckDB (the recursive_cte_sql precedent applied to multi-grain
    aggregation; Spark plans one Expand + one partial-agg shuffle, not
    three scans)."""
    for t in ("orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_GROUPING_SETS_SQL)



def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the strong nation trade graph (operators.graph.
    k_truss — the eleventh oracle-provable iterative algorithm): the
    maximal subgraph where every edge sits in >= 2 triangles, deletion
    cascades run to fixpoint. The oracle unrolls MORE rounds than the
    fixpoint needs — extra rounds are no-ops on a fixpoint, so the
    unroll depth only needs to be an upper bound (asserted by the
    operator's own convergence error at 20)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    und = _strong_trade_edges(spark, sf_dir)
    return gr.k_truss(und, k=4)


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed reciprocity of the strong nation trade graph
    (operators.graph.reciprocity): does A strongly supplying B imply
    the reverse? All-integer counts + one micro floor-division."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    return gr.reciprocity(_strong_trade_edges(spark, sf_dir))


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-priority order-value quantiles (operators.stats.
    exact_group_quantiles, p25/p50/p75/p95): true type-1 order
    statistics from the (group, value) CELL aggregate + one
    group-partitioned cumsum — no row sort, no sketch error; ppm
    thresholds keep ⌈q·n⌉ in exact integer math on both engines."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    return st.exact_group_quantiles(
        orders, "o_orderpriority", "o_totalprice"
    ).withColumnRenamed("o_orderpriority", "priority")


def q_mase_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the last-month persistence forecast on each nation's
    monthly revenue series (operators.stats.mase_forecast_error,
    season=12): does carrying last month beat repeating last YEAR's
    month? All-integer cents; one lag window builds the forecast
    column over the bounded monthly aggregate, the operator adds the
    seasonal-naive denominator."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pts = _monthly_nation_revenue(spark, sf_dir)
    w = Window.partitionBy("nation").orderBy("t")
    series = pts.select(
        "nation", "t",
        (F.col("v") / F.lit(100.0)).alias("actual"),
        (F.lag("v").over(w) / F.lit(100.0)).alias("forecast"),
    ).filter(F.col("forecast").isNotNull())
    return st.mase_forecast_error(
        series, "nation", "t", "actual", "forecast", season=12
    )


def q_twa_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user under step
    interpolation (operators.stats.time_weighted_average): the correct
    state mean for irregular samples — burst-sampling a flat value
    must not move it. Integer cents × integer microseconds in DECIMAL,
    one floor-division."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    return st.time_weighted_average(ev, "user_id", "ts", "value")


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform negative sampling over the supplier→part
    interaction matrix (operators.pipeline.negative_sampling, k=2):
    for every observed supply pair, two hash-seeded catalog negatives
    with the user's own positives anti-joined out — the implicit-
    feedback training-pair generator, reproducible across engines,
    epochs and retries."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pos = li.select(
        F.col("l_suppkey").alias("user"), F.col("l_partkey").alias("item")
    )
    return pl.negative_sampling(pos, part.select(F.col("p_partkey").alias("item")), k=2)



def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin Population Stability Index of order values, pre-1998
    reference vs 1998+ current (operators.stats.
    population_stability_index): exact reference-decile bins (no
    sketch), +1 smoothing, one fp64 term per bin micro-floored — the
    drift dashboard row the ks_drift statistic summarizes."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    flagged = orders.select(
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")).alias("is_ref"),
        "o_totalprice",
    )
    return st.population_stability_index(flagged, "is_ref", "o_totalprice")


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean order value per priority (operators.stats.
    trimmed_mean): drop exactly floor(0.1·n) rows per end via the
    cell-aggregate rank-interval overlap — integer-exact, tie-exact,
    no row sort; the robust-location companion to exact_quantiles."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    return st.trimmed_mean(
        orders, "o_orderpriority", "o_totalprice", trim_ppm=100_000
    ).withColumnRenamed("o_orderpriority", "priority")


def q_vector_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column data-quality profile (operators.stats.
    vector_dq, expected_dim=64): NULL/empty/wrong-dim/non-finite/
    all-zero counts in one scan with JVM higher-order predicates — the
    vector-table gate a similarity pipeline runs before trusting
    cosine math."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    emb = load_table(spark, sf_dir, "embeddings")
    return st.vector_dq(emb, "vec_id", "embedding", expected_dim=64)



def q_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-noise screen over the first 400 embeddings
    (operators.similarity.knn_label_disagreement, k=5): vectors whose
    label loses the exact-cosine 5-NN vote — the cleanlab-style filter
    a labeled training set passes before the labels are trusted. The
    gate slice keeps the all-pairs frame oracle-checkable; the scale
    path feeds LSH/IVF candidates to the same vote."""
    from hdinsight_pyspark_cntk_integration_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    return sim.knn_label_disagreement(
        emb, "vec_id", "embedding", "label", k=5
    )



def q_minhash_provable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-PAIRED MinHash-LSH near-dup detection (the rows-only
    minhash_near_dup gate's provable twin): hash_family="md5" swaps
    both hash sites for engine-portable forms — md5-prefix shingle
    integers and raw min-tuple band keys — so DuckDB replays candidate
    generation bit-for-bit (16 hashes, 4 bands, S-curve threshold
    ~0.71 Jaccard), then both engines verify exact Jaccard >= 0.5 on
    the candidates. Bounded to doc_id < 1500 so the oracle's
    posting-join verify stays cheap; the production path keeps the
    xxhash64 family (2-3x faster) with identical plan shape."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1500)
    return dd.minhash_pairs(
        docs, threshold=0.5, num_hashes=16, bands=4, hash_family="md5"
    )



def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask plan (operators.pipeline.
    span_corruption_plan, Raffel et al. 2020): deterministic span
    count/lengths from exact integer arithmetic on the whitespace token
    count (noise rate 3/20, mean span 3 — RATIONAL parameters, no float
    literals) and Knuth-mixer offsets on (doc_id, span_id). Pure
    projection + bounded explode, replayed exactly by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", token_count("text").alias("n_tokens"))
    plan = pl.span_corruption_plan(base, noise_num=3, noise_den=20, mean_span=3)
    return plan.select(
        "doc_id", "span_id",
        F.col("start").alias("span_start"),
        F.col("length").alias("span_len"),
    )


def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio nearest-centroid confusion matrix (operators.similarity.
    nearest_centroid): per-row fp64 L2-normalize, micro-quantize AT
    BIRTH, exact-integer centroid sums and DECIMAL(38,0) scores — the
    argmax is order-independent and the DuckDB oracle replays it
    bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.nearest_centroid(emb, "vec_id", "embedding", "label")


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish subword count per
    whitespace word (the tokens-per-word ratio that drives multilingual
    packing budgets and sampling temperature). All-integer sums +
    micro floor-division."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    )
    sub = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(pl.BPE_PRETOKEN_PATTERN), F.lit(0))
    ).cast("long")
    per = docs.select("lang", token_count("text").alias("nw"), sub.alias("ns"))
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nw").cast("long").alias("n_words"),
        F.sum("ns").cast("long").alias("n_subwords"),
        F.expr(
            "CAST((CAST(SUM(ns) AS DECIMAL(38,0)) * 1000000)"
            " DIV SUM(nw) AS BIGINT)"
        ).alias("fertility_micro"),
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversity re-rank (operators.
    similarity.mmr_rerank): distributed bounded top-20 candidate pool
    for query vec 0, then 5 greedy rounds of lam=0.5 MMR (exact binary
    lam; per-row fp64 cosine trees; id tie-breaks). The oracle unrolls
    the 5 rounds as MATERIALIZED CTEs (the k_truss precedent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.mmr_rerank(emb, sim.self_queries(emb, [0]), k=5, pool=20, lam=0.5)
    return out.select(
        "query_id", "rank", "vec_id",
        F.floor(F.col("rel") * F.lit(1000000)).cast("long").alias("rel_micro"),
    )


def q_simhash_provable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-PROVABLE SimHash near-dup pairs (operators.dedup.
    simhash_banded_pairs, md5 hash family): 60-bit md5-prefix token
    hashes, integer per-bit sign sums, 4x15-bit banded candidates,
    exact Hamming verify <= 8 — the minhash_provable precedent applied
    to SimHash; production simhash64 keeps xxhash64 + the Arrow fold
    (rows-only + golden pytest). Bounded to doc_id < 1500 so the
    oracle's token x bit explosion stays cheap."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1500)
    return dd.simhash_banded_pairs(docs, bits=60, bands=4, radius=8)


def q_kmeans_provable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-PROVABLE Lloyd k-means (operators.similarity.
    kmeans_quantized, k=4, 2 rounds, micro-quantized integers,
    truncating-DIV centroid updates): the 12th oracle-provable
    iterative algorithm; the production float path (kmeans_clusters)
    stays rows-only with its numpy-parity pytest. Constant slice
    vec_id < 400 keeps the unrolled oracle cheap at every SF."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    return sim.kmeans_quantized(emb, k=4, iters=2)


def q_pca_provable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-PROVABLE top principal direction (operators.similarity.
    power_iteration_quantized, 8 fixed rounds): exact integer centering
    + covariance, one bit-identical sqrt per round, all-positive start
    vector — deterministic INCLUDING sign, unlike the rows-only
    production twin (pca_top_component). The 13th oracle-provable
    iterative algorithm. Slice vec_id < 500 (the embedding_dedup
    bound)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return sim.power_iteration_quantized(emb, rounds=8)


def q_interpolate_provable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-PROVABLE linear interpolation (operators.relational.
    interpolate_segments): per-user 'view' value series interpolated at
    'click' timestamps — micro-quantized values at birth, integer
    segment arithmetic, truncating DIV (verified identical Spark<->
    DuckDB including negatives). The rows-only production twin is
    interpolate_at (cogrouped-pandas np.interp)."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.filter(F.col("event_type") == "view")
    qs = ev.filter(F.col("event_type") == "click")
    return rel.interpolate_segments(
        obs, qs, "user_id", "ts", "value", "ts"
    ).withColumnRenamed("ts", "query_ts")


def q_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing whole-document packing (operators.pipeline.
    pack_bestfit, budget=256 tokens, 4 shards): the bin-packing twin of
    pack_chunks — deterministic (tokens DESC, id ASC) item order makes
    the greedy loop replayable; the DuckDB oracle runs the SAME loop as
    a per-shard recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", token_count("text").alias("n_tokens"))
    return pl.pack_bestfit(base, budget=256, n_shards=4)


def q_contamination_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM contamination score (operators.text.bigram_crossentropy):
    eval slice doc_id%5==0 priced under the train slice's add-one bigram
    LM — per-eval-doc overlap count + cross-entropy in exact micro-nats
    (the LM upgrade of contamination_overlap; composes the
    bigram_logprob float discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    ev = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    return tx.bigram_crossentropy(train, ev)


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality-classifier calibration table (operators.text.
    quality_calibration, dim=64, 10 bins): exact-integer fasttext-style
    linear scores over md5 hashed-BoW with Knuth-mixer weights, per-
    domain ntile bins, proxy label = token count >= 60. All-integer
    cells; ntile semantics verified identical Spark<->DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.quality_calibration(docs, dim=64, n_bins=10, min_tokens=60)


def q_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 generation-eval overlap (operators.text.rouge_n):
    references = documents; 'generations' = the same documents with
    every 3rd token dropped (a deterministic lossy summary), so recall
    is high and precision exact. Set-based ROUGE — every emitted cell
    is an integer micro-unit from exact counts; the oracle replays the
    token drop with list_select over a 1-based index filter."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    kept = F.filter(toks, lambda t, i: F.pmod(i + 1, F.lit(3)) != 0)
    gens = docs.select("doc_id", F.array_join(kept, " ").alias("text"))
    return tx.rouge_n(docs, gens, n=2)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax exact dedup (operators.dedup.
    exact_dedup_keep_best): duplicates planted by unioning an
    id-shifted copy of every document; a Knuth-mixer stand-in
    classifier score picks each cluster's keeper (max score, min-id
    ties) via ONE partial-aggregable struct max — the keep-best
    representative rule curation pipelines use instead of min-id."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + F.lit(500000)).alias("doc_id"), "text")
    both = docs.unionByName(copies)
    score = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1_000_003)) * F.lit(2654435761),
        F.lit(1_000_003),
    ).cast("long")
    return dd.exact_dedup_keep_best(both.withColumn("score", score), "score")


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing dashboard (operators.pipeline.
    packing_efficiency, budget=256, 8 shards): blocks cut + fill ppm in
    exact integer cells, consistent with pack_chunks' block math by
    construction. One |shards|-row partial-agg shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", token_count("text").alias("n_tokens"))
    return pl.packing_efficiency(base, budget=256, n_shards=8)


def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum-mixture schedule (operators.pipeline.
    curriculum_schedule, 17 steps, alpha 1 -> 1/4 in exact 3/64
    decrements): per-step per-lang sampling weights n^alpha micro-
    quantized at birth + integer-DIV shares — the temporal twin of
    temperature_mixture."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.curriculum_schedule(
        docs, steps=17, group_col="lang", alpha_start_64=64, alpha_end_64=16
    )


def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@3 estimator (operators.stats.pass_at_k): problems
    = orders, samples = their line items, 'pass' = l_returnflag 'R'.
    Exact falling-factorial combinatorics — the k! cancels — so every
    cell is an integer; output is the bounded (n, c) profile, two
    partial-agg shuffles total."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")
    samples = li.select(
        F.col("l_orderkey").alias("problem_id"),
        (F.col("l_returnflag") == "R").cast("int").alias("correct"),
    )
    return st.pass_at_k(samples, "problem_id", "correct", k=3)


def q_pass_at_k_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus pass@3 with Wilson uncertainty bounds (operators.stats.
    pass_at_k_ci) over the q_pass_at_k fixture — the go/no-go number an
    eval dashboard reads. The summed estimator mass is an exact
    integer; the Wilson bounds are one fixed fp64 tree over it
    (wilson_ci discipline), micro-floored, oracle-replayed."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")
    samples = li.select(
        F.col("l_orderkey").alias("problem_id"),
        (F.col("l_returnflag") == "R").cast("int").alias("correct"),
    )
    return st.pass_at_k_ci(samples, "problem_id", "correct", k=3)


def _mix(c):
    """The engine-wide Knuth-mix fixture mixer: deterministic,
    SQL-replayable pseudo-randomness."""
    return F.pmod(F.pmod(c, F.lit(1_000_003)) * F.lit(2654435761), F.lit(1_000_003))


def _rating_fixture(
    spark: SparkSession, sf_dir: str, levels: int, first: int = 0, ragged: bool = False
) -> DataFrame:
    """The synthetic rating frame the agreement gates share: every
    document (``item_id``) rated by 5 raters (``rater`` 0..4) with
    ``label = first + level``, the level a Knuth-mixed doc property in
    0..levels-1 with 1/4 per-rater disagreement noise. ``ragged`` keeps
    a (doc, rater) rating only when a Knuth-mixed coin admits it
    (~60-80% participation, so items carry 0..5 ratings)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    rated = docs.crossJoin(spark.range(5).select(F.col("id").alias("rater")))
    if ragged:
        rated = rated.filter(
            F.pmod(_mix(F.col("doc_id") * 11 + F.col("rater") * 3), F.lit(10))
            < 6 + F.pmod(F.col("rater"), F.lit(3))
        )
    s = _mix(F.col("doc_id") * 5 + F.col("rater"))
    base = F.pmod(_mix(F.col("doc_id")), F.lit(levels))
    alt = F.pmod(_mix(F.col("doc_id") * 5 + F.col("rater") + 101), F.lit(levels))
    return rated.select(
        F.col("doc_id").alias("item_id"),
        F.col("rater"),
        (F.lit(first) + F.when(F.pmod(s, F.lit(4)) < 3, base).otherwise(alt))
        .cast("long")
        .alias("label"),
    )


def q_self_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote self-consistency accuracy (operators.stats.
    self_consistency): problems = event users, gold = Knuth-mixed
    user_id mod 7, sampled answers = gold with 2/3 deterministic
    'sampling fidelity' else a mixed alternative — the eval a pipeline
    runs over k chain-of-thought samples per question. Struct-min
    argmax, no window; single corpus row of exact integers."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")

    gold = F.pmod(_mix(F.col("user_id")), F.lit(7))
    s = _mix(F.col("event_id"))
    alt = F.pmod(_mix(F.col("event_id") + F.lit(13)), F.lit(7))
    samples = ev.select(
        F.col("user_id").alias("problem_id"),
        F.when(F.pmod(s, F.lit(3)) < 2, gold).otherwise(alt).cast("long").alias(
            "answer"
        ),
        gold.cast("long").alias("gold"),
    )
    return st.self_consistency(samples)


def q_dawid_skene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-EM Dawid-Skene consensus labeling (operators.stats.
    dawid_skene_hard, 2 rounds): the fleiss_kappa rating fixture with
    RATER-DEPENDENT quality (rater r is right with probability
    (4+r)/10, so rater 0 is noise and rater 4 is strong) — accuracy
    weighting should separate them where majority vote can't. Output
    is the per-rater accuracy report, all exact integers."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    docs = load_table(spark, sf_dir, "documents")

    rated = docs.select(
        F.col("doc_id").alias("item_id"),
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("rater"),
    )
    base = F.pmod(_mix(F.col("item_id")), F.lit(4))
    s = _mix(F.col("item_id") * 5 + F.col("rater"))
    alt = F.pmod(_mix(F.col("item_id") * 5 + F.col("rater") + 101), F.lit(4))
    rated = rated.select(
        "item_id",
        "rater",
        F.when(F.pmod(s, F.lit(10)) < F.col("rater") + 4, base)
        .otherwise(alt)
        .cast("long")
        .alias("label"),
    )
    return st.dawid_skene_hard(rated, iters=2)


def q_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding S-curve planning table (operators.dedup.
    lsh_plan): candidate probability 1-(1-s^r)^b over a 1/64 Jaccard
    grid for the standard (r, b) combos — exponents unrolled to chain
    multiplies so both engines run the identical IEEE sequence. The
    table an engineer reads before parameterizing a 100 TB dedup."""
    return dd.lsh_plan(spark)


def q_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (operators.pipeline.
    fim_split): every document cut at two Knuth-mixed char offsets and
    re-emitted in PSM order — pure projection, zero shuffles; the
    oracle replays the exact substr arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.fim_split(docs)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators.pipeline.k_anonymity, k=5) of the
    customer table under the (nation, market-segment) quasi-identifier
    pair — the pre-release governance check: class sizes, the minimum,
    and the re-identifiable exposure mass. One domain-bounded
    partial-agg shuffle + a 1-row reduce."""
    cust = load_table(spark, sf_dir, "customer")
    return pl.k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=5)


def q_ablation_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic overlapping ablation-arm bookkeeping (operators.
    pipeline.ablation_arms, 8 arms): bit i of the Knuth-mixed doc id
    selects arm i; output is the full arm-overlap matrix (diagonal =
    arm sizes) an ablation suite verifies for balance before training.
    Co-keyed self-join, 64-row result."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.ablation_arms(docs, n_arms=8)


def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired model comparison on a shared eval set (operators.stats.
    mcnemar_test): two deterministic synthetic 'classifiers' score
    every document (Knuth-mixed ~60% accuracy each, independent
    errors); only the discordant cells drive the continuity-corrected
    statistic. One boolean-projection reduce, zero joins."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    docs = load_table(spark, sf_dir, "documents")

    scored = docs.select(
        (F.pmod(_mix(F.col("doc_id")), F.lit(5)) < 3).alias("correct_a"),
        (F.pmod(_mix(F.col("doc_id") + 29), F.lit(5)) < 3).alias("correct_b"),
    )
    return st.mcnemar_test(scored)


def q_chao1_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 asymptotic vocabulary-richness estimate (operators.text.
    chao1_vocab) over word TRIGRAM types (the fixture's unigram
    vocabulary is closed, so only n=3 has singletons/doubletons):
    bias-corrected S_obs + N1(N1-1)/(2(N2+1)) as one exact truncated
    micro cell. Two domain-bounded shuffles, window-free."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.chao1_vocab(docs, n=3)


def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal effect size between returned and non-returned line items
    on quantity (operators.stats.cliffs_delta): all-pairs dominance
    computed from the 50-value distinct-quantity aggregate — one
    partial-agg shuffle + a domain-bounded prefix sum, never n_a·n_b
    pairs. Exact integer cells; truncating signed micro ratio."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")
    return st.cliffs_delta(li, "l_returnflag", "l_quantity", "R", "N")


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count-of-counts smoothing table (operators.text.
    good_turing_counts, r <= 10, word TRIGRAMS — the fixture's unigram
    vocabulary is closed at 31 types so only the n=3 tail is sparse
    enough to smooth): N_r exact counts, r* = (r+1)N_{r+1}/N_r micro-
    truncated; N_{r+1} by self-join (frequency gaps make lead() wrong).
    Window-free; shuffles bounded by gram then frequency domains."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.good_turing_counts(docs, r_max=10, n=3)


def _synthetic_ranking(spark: SparkSession, sf_dir: str, with_rel: bool):
    """Shared deterministic retrieval fixture for the eval gates: every
    events user is a query over 10 candidate docs; scores (and graded
    relevance for NDCG) are Knuth-mixed so both engines replay the
    exact ranking."""
    ev = load_table(spark, sf_dir, "events")

    users = ev.select("user_id").distinct()
    cand = users.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("d")
    )
    s = _mix(F.col("user_id") * 16 + F.col("d"))
    w = Window.partitionBy("user_id").orderBy(F.desc("s"), F.asc("d"))
    base = cand.select(
        F.col("user_id").alias("query_id"),
        F.col("d").cast("long").alias("doc_id"),
        s.alias("s"),
        *(
            [
                F.pmod(_mix(F.col("user_id") * 16 + F.col("d") + 3), F.lit(4))
                .cast("long")
                .alias("rel")
            ]
            if with_rel
            else []
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("doc_id"))
    return users, base.select(
        "query_id",
        "doc_id",
        *(["rel"] if with_rel else []),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def q_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@5 + recall@5 (operators.similarity.retrieval_metrics) over
    the deterministic synthetic ranking — one gold doc per query from
    an independent Knuth mix, so hits/misses are data-driven. Rank
    filter before the co-keyed gold join; one corpus row, all
    integers."""

    users, ranked = _synthetic_ranking(spark, sf_dir, with_rel=False)
    gold = users.select(
        F.col("user_id").alias("query_id"),
        F.pmod(_mix(F.col("user_id") + 7), F.lit(10)).cast("long").alias("doc_id"),
    )
    return sim.retrieval_metrics(ranked, gold, k=5)


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mean NDCG@8 (operators.similarity.ndcg_at_k) over the
    synthetic graded ranking: the log2 discount table is floored to
    integer micro-weights ONCE in Python and embedded identically in
    both engines, so no libm bit-identity is ever trusted."""
    _, ranked = _synthetic_ranking(spark, sf_dir, with_rel=True)
    return sim.ndcg_at_k(ranked, k=8)


def q_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity selection (operators.similarity.
    kcenter_select, k=8): the farthest-point exemplar picker over the
    bounded vec_id < 500 pool, micro-quantized integer squared-L2
    throughout, per-round 1-row struct argmax (no global window, no
    collect). Oracle = 7 unrolled MATERIALIZED CTE rounds."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return sim.kcenter_select(emb, k=8)


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference strengths via Hunter's MM iteration
    (operators.stats.bradley_terry_quantized, 4 rounds): 20 synthetic
    'models' play one match per lineitem row (winner by Knuth-mixed
    coin), the pairwise-comparison fit an RLHF/eval pipeline runs.
    Matches collapse once to the bounded pair table; every MM round is
    integer-exact and SQL-unrolled."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    li = load_table(spark, sf_dir, "lineitem")

    i = F.pmod(F.col("l_suppkey"), F.lit(20))
    j = F.pmod(F.col("l_partkey"), F.lit(20))
    win = F.pmod(_mix(F.col("l_orderkey") * 8 + F.col("l_linenumber")), F.lit(2)) == 0
    m = li.filter(i != j).select(
        F.when(win, i).otherwise(j).cast("long").alias("winner"),
        F.when(win, j).otherwise(i).cast("long").alias("loser"),
    )
    return st.bradley_terry_quantized(m, iters=4)


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (operators.stats.fleiss_kappa): every
    document rated by 5 deterministic synthetic 'raters' — category =
    Knuth-mixed doc property with 1/4 per-rater disagreement noise
    (``_rating_fixture``, labels 0..3) — the redundant-judgment QA gate
    a labeling pipeline runs. Exact integer numerator/denominator +
    truncated kappa_micro."""
    rated = _rating_fixture(spark, sf_dir, 4)
    return st.fleiss_kappa(rated.select("item_id", F.col("label").alias("category")))


def q_bleu_clipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clipped n-gram precision, the BLEU core (operators.text.
    bleu_clipped_precision, n <= 2): references = documents,
    'generations' = the same documents with every 4th token dropped.
    MULTISET-clipped counts (vs rouge_overlap's set semantics); both
    orders explode in ONE pass per side; all cells exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    kept = F.filter(toks, lambda t, i: F.pmod(i + 1, F.lit(4)) != 0)
    gens = docs.select("doc_id", F.array_join(kept, " ").alias("text"))
    return tx.bleu_clipped_precision(docs, gens, n_max=2)


def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha over RAGGED synthetic ratings (operators.
    stats.krippendorff_alpha — the missing-data agreement statistic
    Fleiss can't express): each of 5 raters rates a document only when
    a Knuth-mixed coin admits it (~60-80% participation, so items
    carry 0..5 ratings and the single-rating exclusion is exercised),
    labels from the fleiss fixture scheme (``_rating_fixture``, 0..3).
    Per-item micro truncation + one final DIV, replayed exactly by the
    oracle."""
    return st.krippendorff_alpha(_rating_fixture(spark, sf_dir, 4, ragged=True))


def q_krippendorff_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDINAL Krippendorff's alpha over ragged synthetic Likert
    ratings (operators.stats.krippendorff_ordinal) — the same
    participation coin as krippendorff_alpha but a 1..5 ordered scale
    (``_rating_fixture``), so a 1-vs-5 disagreement costs more than a
    1-vs-2 (cumulative-margin distance, integer-exact; the nominal form
    can't tell them apart). Per-item micro truncation + one final DIV,
    replayed exactly by the oracle."""
    return st.krippendorff_ordinal(
        _rating_fixture(spark, sf_dir, 5, first=1, ragged=True)
    )


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across 4 synthetic 'model variants' on the shared
    document eval set (operators.stats.cochran_q — the k-way McNemar
    an eval harness runs first): correctness bits from a Knuth-mixed
    per-(doc, variant) threshold that gives the variants different
    marginal accuracies. All-integer identity, one truncating DIV."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    variants = spark.range(4).select(F.col("id").alias("variant"))
    cells = docs.crossJoin(variants).select(
        F.col("doc_id").alias("item_id"),
        F.col("variant"),
        (
            F.pmod(_mix(F.col("doc_id") * 7 + F.col("variant") * 13), F.lit(10))
            < 5 + F.col("variant")
        ).cast("int").alias("correct"),
    )
    return st.cochran_q(cells, "item_id", "variant", "correct")


def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W over 5 synthetic judges ranking 20 documents
    (operators.stats.kendall_w): each judge's ranking is a row_number
    over a Knuth-mixed (judge, item) score with the item id as the
    deterministic tie-break — always a 1..20 permutation, so the
    no-ties identity applies exactly. One window per judge-partition,
    then the all-integer W."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 20
    ).select("doc_id")
    judges = spark.range(5).select(F.col("id").alias("judge"))
    scored = docs.crossJoin(judges).select(
        "judge",
        F.col("doc_id").alias("item_id"),
        _mix(F.col("doc_id") * 17 + F.col("judge") * 29).alias("__s"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("judge").orderBy(F.col("__s"), F.col("item_id"))
    ranked = scored.select(
        "judge", "item_id", F.row_number().over(w).cast("long").alias("rank")
    )
    return st.kendall_w(ranked)


def q_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank over paired per-document scores
    (operators.stats.wilcoxon_signed_rank): system X scores
    mix(id)%50, system Y mix(id+13)%50 — zero differences and tied
    |d| magnitudes both occur at corpus size, exercising the drop and
    average-rank (doubled-integer) paths. z from exact integers
    through one IEEE sqrt."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.pmod(_mix(F.col("doc_id")), F.lit(50)).cast("long").alias("x"),
        F.pmod(_mix(F.col("doc_id") + 13), F.lit(50)).cast("long").alias("y"),
    )
    return st.wilcoxon_signed_rank(pairs)


def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test of 4 synthetic systems on the shared
    document blocks (operators.stats.friedman_test): within-block
    ranks by (Knuth-mixed score, system id) — the documented
    deterministic tie-break — then the all-integer chi-square."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    systems = spark.range(4).select(F.col("id").alias("sys"))
    cells = docs.crossJoin(systems).select(
        F.col("doc_id").alias("item_id"),
        F.col("sys").alias("treatment"),
        F.pmod(_mix(F.col("doc_id") * 19 + F.col("sys") * 23), F.lit(1000))
        .cast("long")
        .alias("score"),
    )
    return st.friedman_test(cells, "item_id", "treatment", "score")


def q_item_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical item analysis of a synthetic eval matrix (operators.
    stats.item_analysis): 16 items x the document 'subjects', outcome
    by a mixed threshold that couples item difficulty with a latent
    per-subject ability — so discrimination is genuinely positive for
    most items and the rest-score point-biserial has signal. Exact
    moments into one IEEE sqrt per item."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    items = spark.range(16).select(F.col("id").alias("item"))
    ability = F.pmod(_mix(F.col("doc_id")), F.lit(10))
    noise = F.pmod(_mix(F.col("doc_id") * 31 + F.col("item") * 7), F.lit(10))
    cells = docs.crossJoin(items).select(
        F.col("item").alias("item_id"),
        F.col("doc_id").alias("subject"),
        ((ability * 2 + noise) > (F.col("item") + 9)).cast("int").alias(
            "correct"
        ),
    )
    return st.item_analysis(cells, "item_id", "subject", "correct")


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators.pipeline.l_diversity, l=3) of the
    customer table: quasi-identifiers (nation, market segment),
    sensitive attribute = account-balance band (acctbal DIV 2000) —
    the homogeneity-attack check k_anonymity (same quasi-pair, gated
    alongside) cannot see."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(2000.0))
        .cast("long")
        .alias("bal_band"),
    )
    return pl.l_diversity(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", l=3
    )


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (operators.pipeline.t_closeness, t=0.2) of
    the customer table — quasi (nation, market segment), sensitive =
    account-balance band, completing the k-anonymity / l-diversity /
    t-closeness release trilogy over the same identifiers. Exact
    rational per-class total-variation distances, micro-truncated
    once per class."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(2000.0))
        .cast("long")
        .alias("bal_band"),
    )
    return pl.t_closeness(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", t_micro=200_000
    )


def q_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style linearized multiplicative-weights domain
    reweighting (operators.pipeline.mixture_reweight, 4 rounds) over
    the documents sources: per-doc proxy 'loss' = (mix(doc_id) % 1000)
    / 1000 — O(1)-normalized as the linearized update expects (both
    engines run the identical IEEE divide+multiply+floor), eta = 1/2.
    One corpus collapse + 4 integer rounds on the bounded domain
    table, oracle-unrolled like bradley_terry."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("source").alias("domain"),
        (F.pmod(_mix(F.col("doc_id")), F.lit(1000)) / F.lit(1000.0)).alias(
            "loss"
        ),
    )
    return pl.mixture_reweight(docs, "domain", "loss", rounds=4)


def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's quadratic weighted kappa (operators.stats.
    weighted_kappa) over two synthetic graders of the documents: B
    repeats A's ordinal grade 70% of the time (Knuth-mixed coin),
    else re-draws — so near-diagonal mass dominates and the quadratic
    penalty has signal. Cross-multiplied exact identity, one DIV."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = F.pmod(_mix(F.col("doc_id")), F.lit(4))
    b = F.when(
        F.pmod(_mix(F.col("doc_id") * 3 + 1), F.lit(10)) < 7, a
    ).otherwise(F.pmod(_mix(F.col("doc_id") + 55), F.lit(4)))
    pairs = docs.select(
        a.cast("long").alias("rating_a"), b.cast("long").alias("rating_b")
    )
    return st.weighted_kappa(pairs)


def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio (operators.stats.
    mantel_haenszel) across customer-nation strata: synthetic
    treatment by id parity (Knuth-mixed), outcome probability lifted
    under treatment — the stratified Simpson's-paradox guard, with
    the crude OR alongside. Stratum-bounded cells, 1-row reduce."""
    cust = load_table(spark, sf_dir, "customer")
    t = F.pmod(_mix(F.col("c_custkey")), F.lit(2))
    y = (
        F.pmod(_mix(F.col("c_custkey") * 3 + t), F.lit(10)) < 3 + t * 2
    ).cast("int")
    cells = cust.select(
        F.col("c_nationkey").alias("stratum"),
        t.cast("int").alias("treated"),
        y.alias("outcome"),
    )
    return st.mantel_haenszel(cells)


def q_conformal_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal threshold + held-out coverage (operators.stats.
    conformal_calibration, alpha=1/10): documents split 4:1 into
    calibration/test by id mod 5, integer nonconformity scores from
    the Knuth mix. The order statistic comes from the bounded
    distinct-value cumulative table — no global sort of rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.pmod(_mix(F.col("doc_id")), F.lit(1000)).alias("score")
    )
    cal = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    test = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    return st.conformal_calibration(cal, test)


def q_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pinball loss at tau in {0.1, 0.5, 0.9} (operators.stats.
    pinball_loss) for a synthetic quantile forecast of per-document
    scores: y and yhat are independent Knuth mixes, so each tau's
    loss is a data-driven exact integer. One scan, three sums."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.pmod(_mix(F.col("doc_id")), F.lit(100)).cast("long").alias("y"),
        F.pmod(_mix(F.col("doc_id") + 13), F.lit(100)).cast("long").alias(
            "yhat"
        ),
    )
    return st.pinball_loss(pairs)


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (operators.stats.
    brier_decomposition, 10 bins): micro-probability forecasts from
    one Knuth mix, outcomes drawn by a second independent mix UNDER
    the forecast (so the fixture is roughly calibrated and REL is
    small while RES is genuine). All defined truncation points."""
    docs = load_table(spark, sf_dir, "documents")
    p = F.pmod(_mix(F.col("doc_id")), F.lit(1000)) * 1000 + 500
    y = (F.pmod(_mix(F.col("doc_id") * 7 + 1), F.lit(1000000)) < p).cast(
        "int"
    )
    return st.brier_decomposition(
        docs.select(p.cast("long").alias("p_micro"), y.alias("outcome"))
    )


def q_sprt_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT replay (operators.stats.sprt_eval, H0 p=1/2 vs H1
    p=3/5, alpha=beta=5%) over the document eval stream in id order:
    outcomes from a Knuth-mixed 60%-ish coin, so the walk drifts
    upward and the early-stopping step is a defined function of the
    data. Eval-set-bounded global prefix sum by contract."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("item_id"),
        (F.pmod(_mix(F.col("doc_id")), F.lit(10)) < 6).cast("int").alias(
            "correct"
        ),
    )
    return st.sprt_eval(docs)


def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage pattern table (operators.mining.
    fellegi_sunter_patterns) over customers blocked by (nation,
    market segment) — never all-pairs: agreement bits on the
    account-balance band and a synthetic Knuth-mixed region code,
    default m/u priors,
    Python-embedded integer micro-nat weights (the ndcg discount
    discipline). Output is the 2^2-bounded pattern table."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("blk_nation"),
        F.col("c_mktsegment").alias("blk_seg"),
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("long")
        .alias("bal_band"),
        F.pmod(_mix(F.col("c_custkey") * 7), F.lit(100)).cast("long").alias(
            "region_code"
        ),
    )
    return mn.fellegi_sunter_patterns(
        cust, ["blk_nation", "blk_seg"], ["bal_band", "region_code"], "id"
    )


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (operators.mining.
    sorted_neighborhood_patterns — the LINEAR-candidate scale path for
    fellegi_sunter, Hernández & Stolfo 1995): customers blocked by
    nation, sorted by account balance (id tie-break), window 3; same
    compare fields and embedded micro-nat weights as the blocked gate.
    Candidates = n·window by construction — the plan explodes each
    record into 3 (block, rn+offset) probe keys, never block² pairs."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("blk_nation"),
        F.col("c_acctbal").cast("double").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
        F.pmod(_mix(F.col("c_custkey") * 7), F.lit(100)).cast("long").alias(
            "region_code"
        ),
    )
    return mn.sorted_neighborhood_patterns(
        cust, ["blk_nation"], "bal", ["seg", "region_code"], "id", window=3
    )


def q_span_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA token-overlap F1 (operators.text.span_f1): gold = documents,
    predictions = the every-4th-token-dropped corruption (the
    bleu_clipped fixture) — so overlap is exactly the kept tokens and
    the metric's clip/empty conventions are exercised corpus-wide."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    kept = F.filter(toks, lambda t, i: F.pmod(i + 1, F.lit(4)) != 0)
    preds = docs.select("doc_id", F.array_join(kept, " ").alias("text"))
    return tx.span_f1(docs, preds)


def q_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up (operators.stats.
    benjamini_hochberg) over a BOUNDED battery of 200 synthetic
    hypotheses: p-values are Knuth-mix-uniform micro integers with a
    planted signal (every 5th hypothesis drawn from [1, 20000] — true
    effects), alpha = 0.05. The window runs over the 200-row hypothesis
    table (test RESULTS, never the corpus — allowlisted in
    tests/test_plans.py); the step-up comparison is exact integer
    arithmetic. In production the p-column comes from upstream per-slice
    tests (welch_ttest / mantel_haenszel / ks_drift outputs)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    mix = F.pmod(
        F.pmod(F.col("id"), F.lit(1_000_003)) * F.lit(2654435761),
        F.lit(1_000_003),
    )
    hyp = spark.range(0, 200).select(
        F.col("id").alias("hyp_id"),
        F.when(
            F.pmod(F.col("id"), F.lit(5)) == 0, F.pmod(mix, F.lit(20_000)) + 1
        )
        .otherwise(F.pmod(mix, F.lit(1_000_000)) + 1)
        .cast("long")
        .alias("p_micro"),
    )
    return st.benjamini_hochberg(hyp, "hyp_id", "p_micro", alpha_micro=50_000)


def q_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way intraclass correlation ICC(1,1) (operators.stats.
    icc_oneway) over the shared 5-rater synthetic rating fixture (the
    fleiss_kappa frame: Knuth-mixed doc category with 1/4 per-rater
    disagreement noise) — single-rating reliability, the continuous
    complement to the kappa family. Exact-integer rationals end to
    end; one truncating micro DIV."""
    rated = _rating_fixture(spark, sf_dir, 4)
    return st.icc_oneway(
        rated.select("item_id", F.col("label").alias("rating")), "item_id", "rating"
    )


def q_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error (operators.stats.
    expected_calibration_error) — the scalar roll-up of the
    calibration_bins reliability table, same fixture (min-max
    balance score vs urgent-order label, 10 bins). Per-bin
    |pos·1e6 − Σscore_micro| is an exact integer, so ECE is integer
    arithmetic end to end with ONE truncating DIV."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pop = _urgent_labelled_customers(spark, sf_dir)
    mm = pop.groupBy().agg(F.min("v").alias("__mn"), F.max("v").alias("__mx"))
    scored = pop.join(F.broadcast(mm)).select(
        F.floor(
            (F.col("v") - F.col("__mn"))
            / (F.col("__mx") - F.col("__mn"))
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("score_micro"),
        "y",
    )
    return st.expected_calibration_error(scored, "score_micro", "y", n_bins=10)


def q_mcc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation (operators.stats.mcc_binary) of the
    balance-threshold classifier (acctbal > 5000 predicts "placed an
    urgent order") — the imbalance-robust single-number confusion
    summary next to accuracy/auc_balance. Exact BIGINT cells; one
    sqrt of an exact integer, floored to micro."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pop = _urgent_labelled_customers(spark, sf_dir)
    frame = pop.select("y", (F.col("v") > 5000.0).alias("yhat"))
    return st.mcc_binary(frame, "y", "yhat")


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection (operators.stats.cusum_detect)
    per user over purchase-event cent streams ordered by event id:
    target 5000 / slack 500 / threshold 50000 cents. The clamped
    recursion runs as cumsum − running-min — two prefix windows per
    user partition, exact BIGINT throughout; the temporal drift alarm
    next to the batch two-sample tests (ks_drift/psi_drift)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    series = ev.select(
        F.col("user_id"),
        F.col("event_id"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = st.cusum_detect(
        series, "user_id", "event_id", "cents",
        target=5000, slack=500, threshold=50_000,
    )
    return out.select(
        F.col("group").alias("user_id"), "n", "max_cusum", "first_alarm_step"
    )


def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of order values per priority class
    (operators.stats.theil_index) — the information-theoretic
    concentration measure next to gini/hhi/lorenz: per-row
    (x/mean)·ln(x/mean) terms floored to micro at birth (ln-micro
    discipline), exact BIGINT sums, bounded group domain."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    frame = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out = st.theil_index(frame, "prio", "cents")
    return out.select(F.col("group").alias("prio"), "n", "theil_micro")


def q_g_test_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning G² distinctive keywords (operators.text.g_test_keywords):
    which tokens most distinguish English documents from the rest of
    the corpus — the statistically-grounded corpus-contrast next to
    corpus_divergence's KL contributors. Exact-integer 2x2 cells; one
    fixed double LLR per distinct token floored to micro (ln-micro
    discipline); bounded top-30."""
    docs = load_table(spark, sf_dir, "documents")
    # Optimization r14: the two corpora are complementary slices of ONE
    # table, so the union vocabulary comes from a single tagged scan
    # (one tokenize pass instead of two + a full-outer join) — see
    # text.two_corpus_vocab_tagged. lang IS NOT NULL reproduces the
    # old pair of filters exactly (NULL lang matched neither side).
    voc = tx.two_corpus_vocab_tagged(
        docs.filter(F.col("lang").isNotNull()), F.col("lang") == "en"
    )
    return tx.g_test_keywords(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        min_count=5,
        top_k=30,
        vocab=voc,
    )


def q_log_odds_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-prior log-odds keyword z-scores ("Fightin' Words",
    operators.text.log_odds_dirichlet) for English vs non-English
    documents, alpha0 = 500 — the shrinkage-corrected corpus contrast
    that G² lacks (rare words pull toward the pooled prior instead of
    dominating). Same ln-micro discipline and scale shape as
    g_test_keywords; bounded top-30 by |z|."""
    docs = load_table(spark, sf_dir, "documents")
    # Optimization r14: single tagged-scan vocabulary (see
    # q_g_test_keywords).
    voc = tx.two_corpus_vocab_tagged(
        docs.filter(F.col("lang").isNotNull()), F.col("lang") == "en"
    )
    return tx.log_odds_dirichlet(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        vocab=voc,
        alpha0=500,
        min_count=5,
        top_k=30,
    )


def q_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per language slice (operators.text.
    yules_k) — the length-invariant vocabulary-repetitiveness constant
    next to heaps_law/zipf_slope/ngram_diversity. Sigma m^2 V_m folds
    into an exact BIGINT Sigma c^2; one truncating micro DIV per
    slice."""
    docs = load_table(spark, sf_dir, "documents")
    out = tx.yules_k(docs, "lang", "text")
    return out.select(F.col("group").alias("lang"), "n_tokens", "n_types", "k_micro")


def q_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (operators.similarity.rbo_overlap, p=0.9,
    k=20) between two nation rankings: revenue rank in 1995 vs 1996 —
    "how much did the leaderboard move year over year", top-weighted
    and non-conjoint-safe where kendall_tau is neither. The rank
    windows run over the 25-row nation aggregate (bounded domain,
    allowlisted); depth weights are Python-embedded double literals
    shared with the oracle (ndcg discount-table discipline)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import similarity as sim

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .select(
            F.col("c_nationkey").alias("nation"),
            F.year("o_orderdate").alias("yr"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("nation", "yr")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )

    def ranked(yr: int) -> DataFrame:
        w = Window.orderBy(F.col("rev").desc(), F.col("nation"))
        return (
            rev.filter(F.col("yr") == yr)
            .select("nation", "rev")
            .select(
                F.col("nation").alias("item"),
                F.row_number().over(w).cast("long").alias("rank"),
            )
        )

    return sim.rbo_overlap(ranked(1995), ranked(1996), "item", "rank", k=20, p=0.9)


def q_cem_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened-exact-matching ATT (operators.mining.cem_att): the
    effect of being a BUILDING-segment customer on total order spend,
    matched within nation strata — the design-based causal readout
    next to diff_in_diff/cuped for observational slices. Outcomes in
    exact cents; per-stratum and final truncating DIVs mirrored by the
    oracle."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("spend_cents")
    )
    frame = customer.join(spend, "c_custkey", "left").select(
        F.col("c_nationkey").alias("nation"),
        (F.col("c_mktsegment") == "BUILDING").alias("treated"),
        F.coalesce(F.col("spend_cents"), F.lit(0)).cast("long").alias("spend"),
    )
    return mn.cem_att(frame, "treated", "spend", ["nation"])


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (operators.pipeline.
    neyman_allocation): how to split a 1000-row sample budget across
    nation strata of the customer table by N_h*sigma_h of account
    balance (cents) — the variance-minimizing upgrade over the
    proportional split stratified_split uses. Per-stratum sigma floored
    to micro at birth; allocation weights exact integers."""
    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    out = pl.neyman_allocation(frame, "nation", "cents", n_total=1000)
    return out.select(
        F.col("stratum").alias("nation"), "n_rows", "sigma_micro", "alloc"
    )


def q_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (operators.stats.spearman_rho) between
    customer account balance (cents) and order count — "do richer
    accounts order more", rank-robustly. Average ranks come from the
    distinct-VALUE aggregate (doubled-integer ranks, no global row
    sort; the window is value-domain-bounded, allowlisted like
    auc_balance/rank_sum_test); one sqrt at the end."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cnt = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    frame = customer.join(cnt, "c_custkey", "left").select(
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
    )
    return st.spearman_rho(frame, "cents", "n_orders")


def q_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma (operators.stats.goodman_kruskal_gamma)
    between order priority rank (1..5) and a 10-band price tier — the
    ties-ignoring ordinal association right for coarse scales (tau-a
    would drown in the ties). Cells bounded 5x10; the pair pass is a
    cell-table self-join, never a row join."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    frame = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("prio_rank"),
        F.least(
            F.floor(F.col("o_totalprice") / 30000.0).cast("long"), F.lit(9)
        ).alias("price_band"),
    )
    return st.goodman_kruskal_gamma(frame, "prio_rank", "price_band")


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-shift detection (operators.stats.page_hinkley)
    per user over purchase cent streams ordered by event id — the
    self-calibrating drift alarm (deviation vs the series' own running
    mean) next to cusum_drift's fixed-target form. delta = 50 cents,
    lambda = 1e4 cents, both in micro-cents; per-row running-mean DIV
    truncation mirrored by the oracle."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    series = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = st.page_hinkley(
        series, "user_id", "event_id", "cents",
        delta_micro=50_000_000, lambda_micro=10_000_000_000,
    )
    return out.select(
        F.col("group").alias("user_id"), "n", "max_ph", "first_alarm_step"
    )


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized mean order value per priority class
    (operators.stats.winsorized_mean) — the clamp-the-tails robust
    location next to trimmed_mean/robust_means (winsorizing keeps n,
    so downstream variance math stays honest). Type-1 quantile bounds
    from the per-group distinct-value aggregate; exact integer mean."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    frame = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out = st.winsorized_mean(frame, "prio", "cents", alpha_num=5, alpha_den=100)
    return out.select(
        F.col("group").alias("prio"), "n", "lo", "hi", "wmean_micro"
    )


def q_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table (operators.stats.gains_table) for
    the balance-score vs urgent-order label (the auc_balance fixture):
    capture and lift per score decile, computed from the distinct-
    VALUE aggregate (value-domain window, allowlisted) — no global row
    sort. Tie-blocks land in the bucket of their cumulative END
    (documented convention; cum_n makes tie spill visible)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pop = _urgent_labelled_customers(spark, sf_dir)
    frame = pop.select(
        F.floor(F.col("v") * 100).cast("long").alias("score_cents"),
        F.col("y").cast("long").alias("y"),
    )
    return st.gains_table(frame, "score_cents", "y", n_buckets=10)


def q_jsd_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (operators.text.jsd_divergence)
    between English and non-English token distributions — the
    symmetric bounded drift scalar next to corpus_divergence's
    directional KL table. Totals cancel inside the ln so every operand
    is an exact integer product; ln-micro discipline; two truncating
    DIVs."""
    docs = load_table(spark, sf_dir, "documents")
    # Optimization r14: single tagged-scan vocabulary (see
    # q_g_test_keywords).
    voc = tx.two_corpus_vocab_tagged(
        docs.filter(F.col("lang").isNotNull()), F.col("lang") == "en"
    )
    return tx.jsd_divergence(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        vocab=voc,
    )


def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (operators.stats.cronbach_alpha) of the 5-rater
    synthetic battery (the fleiss/icc fixture transposed: documents as
    subjects, raters as battery items, ratings as scores) — the
    scale-level internal-consistency companion to item_analysis and
    icc_oneway. Exact integer rationals, one truncating micro DIV."""
    rated = _rating_fixture(spark, sf_dir, 4).select(
        F.col("item_id").alias("subject"),
        F.col("rater").alias("item_id"),
        F.col("label").alias("score"),
    )
    return st.cronbach_alpha(rated, "subject", "item_id", "score")


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard per market segment
    (operators.stats.nelson_aalen) over the SAME time-to-repurchase
    frame as kaplan_meier — the additive-hazard estimator sibling on
    the shared risk-set aggregate. Per-time d*1e6 DIV n increments,
    exact integer cumulative window."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    out = st.nelson_aalen(
        _repurchase_subjects(spark, sf_dir), "segment", "dur", "ev"
    )
    return out.select(
        F.col("group").alias("segment"), "t", "n_risk", "n_events",
        "cum_hazard_micro",
    )


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism per-nation customer-count release
    (operators.pipeline.dp_noisy_counts, epsilon = ln 3 in micro,
    sensitivity 1) — the publication step after the k-anonymity /
    l-diversity / t-closeness audit trilogy. Gate runs the
    engine-portable md5 noise family so DuckDB replays the seeded
    inverse-CDF draw bit-for-bit; the docstring documents why
    production must swap in a secret random seed."""
    customer = load_table(spark, sf_dir, "customer")
    return pl.dp_noisy_counts(
        customer, "c_nationkey",
        epsilon_micro=1_098_612, sensitivity=1, seed=7, hash_family="md5",
    )


def q_feature_hashing_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGNED hashing-trick bag-of-words (operators.text.
    feature_hashing, dim=32) — the collision-unbiasing upgrade of the
    unsigned hashed_bow behind the existing feature_hashing query
    (each token also draws a ±1 sign, so colliding tokens cancel in
    expectation instead of inflating the bucket). Vocabulary-free,
    pure projection; md5 family for bit-for-bit oracle replay;
    features emitted as the sorted "idx:val" string (the array-free
    gate discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.feature_hashing(docs, "doc_id", "text", dim=32, hash_family="md5")


def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein distance (operators.stats.wasserstein_1d) between
    BUILDING and MACHINERY customers' balance-cent distributions — the
    integral drift measure next to ks_drift's supremum (tracks gradual
    shift a sup-norm misses). Rare fully-exact distance: integer
    cumulative counts x segment gaps in DECIMAL, ONE final micro DIV;
    the value-domain window is the rank_sum_test class
    (allowlisted)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.wasserstein_1d(frame, "c_mktsegment", "cents", "BUILDING", "MACHINERY")


def q_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve points (operators.stats.roc_points) for the balance
    score vs urgent-order label at every PERCENT threshold (score
    quantized to 100 levels at birth — the calibration_bins discipline
    capping curve cardinality) — the curve behind auc_balance's
    scalar. Exact counts, truncating micro rates."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    # Optimization r14: the old form derived the labelled population
    # TWICE — once for the min/max normalizer (a second customer +
    # orders scan feeding a BroadcastNestedLoopJoin) and once for the
    # curve. The percent score is a MONOTONE transform of the raw
    # balance, so the distinct-RAW-value aggregate (value-domain
    # bounded, checkpointed) carries everything: min/max are its
    # extremes, and regrouping its rows by pct yields exactly the
    # (threshold, p, q) table roc_points built from rows. One corpus
    # pass total (guide §2.3/§2.4); results bit-identical.
    pop = _urgent_labelled_customers(spark, sf_dir)
    y = F.col("y").cast("long")
    vc0 = (
        pop.groupBy(F.col("v").alias("v"))
        .agg(
            F.sum(y).cast("long").alias("p"),
            F.sum(F.lit(1) - y).cast("long").alias("q"),
        )
        .localCheckpoint(eager=True)
    )
    mm = vc0.groupBy().agg(F.min("v").alias("__mn"), F.max("v").alias("__mx"))
    vc = (
        vc0.join(F.broadcast(mm))
        .select(
            F.floor(
                (F.col("v") - F.col("__mn")) / (F.col("__mx") - F.col("__mn"))
                * F.lit(100.0)
            ).cast("long").alias("threshold"),
            "p",
            "q",
        )
        .groupBy("threshold")
        .agg(
            F.sum("p").cast("long").alias("p"),
            F.sum("q").cast("long").alias("q"),
        )
    )
    return st._roc_points_from_value_counts(vc)


def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (operators.stats.average_precision) of the
    balance score for the urgent-order label — the imbalance-honest
    ranking scalar next to auc_balance/gains_table, block-at-end tie
    convention documented and oracle-mirrored."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pop = _urgent_labelled_customers(spark, sf_dir)
    frame = pop.select(
        F.floor(F.col("v") * 100).cast("long").alias("score_cents"),
        F.col("y").cast("long").alias("y"),
    )
    return st.average_precision(frame, "score_cents", "y")


def q_benford_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit CHI-SQUARE audit (operators.stats.
    benford_digits) of order totals in cents — the scalar-alarm
    upgrade of the existing benford_digits share table (per-digit
    chi-square terms; their sum vs a chi2(8) critical value is the
    alarm). Digits from the decimal string (no float log10 at power
    boundaries); expected probabilities are Python-embedded double
    literals shared with the oracle (ndcg discipline)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    frame = orders.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return st.benford_digits(frame, "cents")


def q_cusum_two_sided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift alarm (operators.stats.cusum_two_sided)
    per user over purchase-event cent streams — the symmetric
    completion of cusum_drift (a metric can degrade both ways): both
    clamped walks run as cumsum − clamped-running-min prefix windows
    in ONE window pass per user partition, exact BIGINT; alarm side
    reported at the first breaching step."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    series = ev.select(
        F.col("user_id"),
        F.col("event_id"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = st.cusum_two_sided(
        series, "user_id", "event_id", "cents",
        target=5000, slack=500, threshold=25_000,
    )
    return out.withColumnRenamed("group", "user_id")


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) recalibration of the balance-percent score
    against the urgent-order label (operators.stats.
    isotonic_calibration) — the monotone map that reliability-diagram
    miscalibration feeds into; computed via the minimax identity over
    the ~100-level score domain (bounded segments, never row pairs;
    windows over the level aggregate — allowlisted)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pop = _urgent_labelled_customers(spark, sf_dir)
    mm = pop.groupBy().agg(F.min("v").alias("__mn"), F.max("v").alias("__mx"))
    scored = pop.join(F.broadcast(mm)).select(
        F.floor(
            (F.col("v") - F.col("__mn")) / (F.col("__mx") - F.col("__mn"))
            * F.lit(100.0)
        ).cast("long").alias("pct"),
        F.col("y").cast("long").alias("y"),
    )
    return st.isotonic_calibration(scored, "pct", "y")


def q_diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano forecast comparison (operators.stats.
    diebold_mariano): over the per-nation monthly revenue series, does
    the naive lag-1 forecast beat the 2-month-average forecast in
    absolute cents error? Per-target losses from windows over the
    bounded (nation, month) aggregate; DM from exact integer sums,
    one sqrt."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    monthly = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .select(
            F.col("c_nationkey").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("nation", "m")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    w = Window.partitionBy("nation").orderBy("m")
    losses = (
        monthly.select(
            "nation",
            "m",
            "rev",
            F.lag("rev", 1).over(w).alias("__p1"),
            F.lag("rev", 2).over(w).alias("__p2"),
        )
        .filter(F.col("__p2").isNotNull())
        .select(
            F.abs(F.col("rev") - F.col("__p1")).alias("loss_a"),
            F.abs(
                F.col("rev") - F.expr("(__p1 + __p2) DIV 2")
            ).alias("loss_b"),
        )
    )
    return st.diebold_mariano(losses, "loss_a", "loss_b")


def q_log_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test (operators.stats.log_rank_test) over the
    kaplan_meier time-to-repurchase frame: BUILDING vs MACHINERY
    segments — are the repurchase curves different, risk-set-weighted?
    The inferential closer of the KM / Nelson-Aalen family; per-time E
    and V terms floored to micro at birth, windows over the pooled
    time domain (allowlisted)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    subj = _repurchase_subjects(spark, sf_dir).filter(
        F.col("segment").isin(["BUILDING", "MACHINERY"])
    )
    return st.log_rank_test(subj, "segment", "dur", "ev", "BUILDING", "MACHINERY")


def q_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test (operators.stats.
    two_proportion_ztest): do BUILDING and MACHINERY customers convert
    to urgent orders at different rates? The per-slice battery member
    whose p-values feed benjamini_hochberg; exact counts, one fixed
    double z floored to micro."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("__u", F.lit(1))
    )
    frame = customer.join(urgent, "c_custkey", "left").select(
        "c_mktsegment",
        F.coalesce(F.col("__u"), F.lit(0)).cast("long").alias("converted"),
    )
    return st.two_proportion_ztest(
        frame, "c_mktsegment", "converted", "BUILDING", "MACHINERY"
    )


def q_post_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified arm contrast (operators.stats.
    post_stratified_mean): the Knuth-mix A/B assignment over customers
    (the ab-test fixture family), outcome = account balance cents,
    post-stratified by nation — the after-the-fact variance reduction
    cuped_ab gets from a covariate, from a stratum instead. Matched
    strata only (cem_att convention); exact integer arithmetic with
    per-stratum truncating DIVs."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    arm = F.when(
        F.pmod(
            F.pmod(F.col("c_custkey"), F.lit(1_000_003)) * F.lit(2654435761),
            F.lit(1_000_003),
        ) % 2 == 0,
        "A",
    ).otherwise("B")
    frame = customer.select(
        arm.alias("arm"),
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.post_stratified_mean(frame, "arm", "nation", "cents", "A", "B")


def q_embedding_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus semantic contamination (operators.dedup.
    embedding_contamination): which "eval" vectors (vec_id < 100)
    near-duplicate the "train" slice (100 <= vec_id < 600) at cosine
    >= 0.3 — the paraphrase-leakage scan token contamination misses.
    Gate passes the exact bounded cross-candidate set so the DuckDB
    brute-force oracle is checkable (the embedding_dedup precedent);
    the production path is the parity-tagged banded-LSH generator
    (planted-pair pytest)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") < 100)
    tr = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 600))
    cand = ev.select(F.col("vec_id").alias("eval_id")).join(
        F.broadcast(tr.select(F.col("vec_id").alias("train_id")))
    )
    return dd.embedding_contamination(ev, tr, threshold=0.3, candidates=cand)


def q_dp_noisy_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace clipped-sum release (operators.pipeline.dp_noisy_sum):
    per-nation total account balance in cents, each customer clipped
    to $5,000 (C = 500000 cents) before summation so sensitivity is
    exactly C; epsilon = ln 3. Completes the DP release pair with
    dp_noisy_counts; md5 noise family for bit-for-bit oracle replay."""
    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return pl.dp_noisy_sum(
        frame, "c_nationkey", "cents", clip=500_000,
        epsilon_micro=1_098_612, seed=11, hash_family="md5",
    )


def q_krippendorff_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL Krippendorff's alpha (operators.stats.
    krippendorff_interval) over the same ragged 1..5 fixture as the
    ordinal gate — squared-difference distance, the numeric-scale
    member completing the alpha family. All-integer coincidence
    algebra, one micro truncation per item + one final DIV."""
    return st.krippendorff_interval(
        _rating_fixture(spark, sf_dir, 5, first=1, ragged=True)
    )


def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test (operators.stats.cochran_armitage):
    is the fulfilled-order rate monotone in order PRIORITY (the digit
    of o_orderpriority, an ordered 1..5 exposure)? The 2xk trend
    screen chi_square's order-blind association can't express; exact
    DECIMAL moments, one fp64 z floored to micro."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    frame = orders.select(
        F.substring(F.col("o_orderpriority"), 1, 1).cast("long").alias("dose"),
        (F.col("o_orderstatus") == "F").cast("long").alias("is_final"),
    )
    return st.cochran_armitage(frame, "dose", "is_final")


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity profile (operators.text.
    lexical_diversity): TTR + Herdan C + Guiraud R per document — the
    per-doc richness signals a quality filter thresholds on, next to
    the slice-level constants (yules_k, heaps_law). One explode +
    (doc, token) agg + doc-keyed reduce; micro-floored fp64 at
    birth."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.lexical_diversity(docs)


def q_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic (operators.stats.
    cvm_distance) between BUILDING and MACHINERY balance-cent
    distributions — the L2/integrated member completing the exact
    drift family with ks (sup), wasserstein (L1 transport), tv
    (mass), hellinger, jsd. Fully exact: integer cumulative counts
    over the value domain, one truncating micro DIV."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.cvm_distance(
        frame, "c_mktsegment", "cents", "BUILDING", "MACHINERY"
    )


def q_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(lang | source) over documents
    (operators.stats.theil_u) — mutual_information's normalized,
    DIRECTIONAL scalar: how much of the language distribution does
    knowing the source remove? ln-micro terms floored at birth, exact
    BIGINT sums, one clamped truncating DIV."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    docs = load_table(spark, sf_dir, "documents")
    return st.theil_u(docs, "lang", "source")


def q_dp_noisy_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace mean release with a basic-composition epsilon ledger
    (operators.pipeline.dp_noisy_mean): per-nation mean account
    balance in cents, clip C = 500000, epsilon_total = ln 4 split
    60/40 between the clipped-sum and count releases (the ledger
    columns sum to the total by construction). Two independent md5
    noise draws (disjoint seed tags) for bit-for-bit oracle replay;
    the released mean is one double division of the two released
    integers."""
    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return pl.dp_noisy_mean(
        frame, "c_nationkey", "cents", clip=500_000,
        epsilon_micro=1_386_294, sum_share_micro=600_000,
        seed=7, hash_family="md5",
    )


def q_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance (operators.stats.tv_distance) between
    BUILDING and MACHINERY balance-cent distributions — the
    probability-mass drift scalar completing the exact drift trio with
    ks_drift (sup) and wasserstein_drift (transport). Fully exact:
    one truncating DIV, no float, no window."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.tv_distance(frame, "c_mktsegment", "cents", "BUILDING", "MACHINERY")


def q_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared Hellinger distance (operators.stats.hellinger_distance)
    between BUILDING and MACHINERY balance-cent distributions — the
    smooth, metrizable drift member next to tv/wasserstein/jsd;
    per-value sqrt terms micro-floored at birth."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.hellinger_distance(
        frame, "c_mktsegment", "cents", "BUILDING", "MACHINERY"
    )


# Driver-gate window (ROTATION.md): the driver records the FIRST 50
# entries of queries() in CORRECTNESS_r{N}.json. Round 15 executes the
# committed plan (ROTATION.md "Round 15 window (50) — committed plan")
# under the 40-slot re-gate floor: slots 1-10 the TEN oldest round-14
# additions in landing order (the remaining 27 additions head the
# round-16 overflow queue, ahead of any round-15 additions — of which
# there are none: optimization round); slots 11-23 the remaining
# round-2 cohort; slots 24-50 the next-oldest never-regated cohort
# from CORRECTNESS_r3/r4 in registry order (27 of the 28; the 28th,
# set_ops_all, heads the round-16 re-gate queue). Rotated-out
# queries stay covered by the full-registry PARITY_r{N}.json run
# every round.
_GATE_WINDOW = [
    # 10 oldest round-14 additions (landing order)
    "krippendorff_ordinal",
    "pass_at_k_ci",
    "cusum_two_sided",
    "dp_noisy_mean",
    "cvm_drift",
    "theil_u",
    "krippendorff_interval",
    "cochran_armitage",
    "lexical_diversity",
    "kruskal_wallis",
    # 13 remaining round-2 cohort (last CORRECTNESS row: round 2)
    "funnel_conversion",
    "having_big_orders",
    "l2_normalize",
    "lag_lead",
    "merge_join",
    "moving_avg",
    "null_handling",
    "percentiles",
    "promo_revenue_share",
    "range_join",
    "running_total",
    "scalar_functions",
    "semi_join",
    # 27 next-oldest never-regated (CORRECTNESS_r3/r4), registry order
    "simhash",
    "asof_tolerance",
    "repeated_passages",
    "shard_manifest",
    "point_in_time",
    "variant_extract",
    "manifest_diff",
    "hash_split",
    "mixture_sample",
    "pack_chunks",
    "pack_chunks_global",
    "waiting_suppliers",
    "decontaminate",
    "nation_profit",
    "min_cost_supplier",
    "priority_ship_lag",
    "excess_suppliers",
    "stratified_split",
    "chunk_overlap",
    "quantize_embeddings",
    "apply_changes",
    "epoch_shuffle",
    "resample_ffill",
    "profile_table",
    "scd2_history",
    "group_percentiles",
    "dedup_incremental",
]


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five market segments' balance-cent
    distributions (operators.stats.kruskal_wallis) — the k-group
    omnibus rank test between mann_whitney_u (k=2) and friedman_test
    (blocked): does ANY segment's balance distribution sit shifted?
    Doubled-rank integers over the distinct-value aggregate, never a
    row sort; exact tie correction."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.kruskal_wallis(frame, "c_mktsegment", "cents")


def q_ad_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling statistic (operators.stats.
    ad_distance) between BUILDING and MACHINERY balance-cent
    distributions — the tail-weighted member completing the exact
    drift family (ks = sup, cvm = L2, wasserstein = transport,
    tv/hellinger = mass): each CDF-gap term is divided by B(N-B), so
    tail drift a uniform integral dilutes gets amplified. Same shape
    as cvm_drift: value-domain cumsums, per-block micro DIV."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.ad_distance(
        frame, "c_mktsegment", "cents", "BUILDING", "MACHINERY"
    )


def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across order priorities (operators.stats.
    mood_median on o_totalprice cents): do the five priorities split
    their order-value mass the same way around the GRAND median? The
    robust one-cut location screen next to kruskal_wallis's full-rank
    H — grand median read off the value-domain cumsum, then a k×2
    chi-square with exact integer numerators."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    frame = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return st.mood_median(frame, "o_orderpriority", "cents")


def q_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-trend test (operators.stats.
    jonckheere_terpstra): does order value trend monotonically with
    priority (the 1..5 digit of o_orderpriority as an ordered dose)?
    The continuous-response k-group companion to cochran_armitage's
    binary trend — pairwise dominance counts off the (group x value)
    grid, |V|·k² work, never an all-row pair join."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    frame = orders.select(
        F.substring(F.col("o_orderpriority"), 1, 1).cast("long").alias("dose"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return st.jonckheere_terpstra(frame, "dose", "cents")


def q_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 agreement (operators.stats.gwet_ac1) over the SAME
    ragged synthetic ratings the krippendorff_alpha gate uses — the
    prevalence-stable coefficient that resists the kappa paradox on
    skewed label distributions (compare the two gates' values on
    identical data). Items with a single rating excluded from both
    terms (documented); micro-truncation at birth, exact sums."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    raters = spark.range(5).select(F.col("id").alias("rater"))
    rated = docs.crossJoin(raters).filter(
        F.pmod(_mix(F.col("doc_id") * 7 + F.col("rater")), F.lit(10))
        < 6 + F.pmod(F.col("rater"), F.lit(3))
    )
    s = _mix(F.col("doc_id") * 3 + F.col("rater"))
    base = F.pmod(_mix(F.col("doc_id")), F.lit(4))
    alt = F.pmod(s, F.lit(4))
    rated = rated.select(
        F.col("doc_id").alias("item"),
        F.col("rater"),
        F.concat(
            F.lit("L"),
            F.when(F.pmod(s, F.lit(4)) < 3, base).otherwise(alt),
        ).alias("label"),
    )
    return st.gwet_ac1(rated, "item", "rater", "label")


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Durbin-Watson on the monthly revenue series
    (operators.stats.durbin_watson): lag-1 serial-correlation
    diagnostic per series — DW ~ 2 means the month-to-month revenue
    innovations are uncorrelated; -> 0 flags persistent momentum the
    forecasting operators (holt_linear) should model. Fully integer
    via the multiply-through trick; one series-keyed shuffle."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pts = _monthly_nation_revenue(spark, sf_dir)
    return st.durbin_watson(pts, "nation", "t", "v")


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Ljung-Box portmanteau Q at lags 1..6 (operators.
    stats.ljung_box) on the monthly revenue series — "is ANY
    autocorrelation structure present", the whiteness screen composed
    from the exact ACF operator (autocorrelation gate): per-lag
    truncating micro DIV over the integer acf_micro, exact sums."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pts = _monthly_nation_revenue(spark, sf_dir)
    return st.ljung_box(pts, "nation", "t", "v", max_lag=6)


def q_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-normed-residual test on customer balance cents
    (operators.stats.grubbs_test): is the single most extreme balance
    an outlier under normality? ONE aggregate — the extreme deviation
    is provably at the min or max, so no join-back; exact integer
    moments, one fp64 sqrt micro-floored."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents")
    )
    return st.grubbs_test(frame, "cents")


def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett variance-homogeneity test across market segments
    (operators.stats.bartlett_test on balance cents) — the
    normal-theory sharp companion to the robust levene_bf gate (the
    pair's disagreement is itself a tail-weight diagnostic). Every
    cross-group sum integer (micro/pico floored at birth), one fp64
    closing expression."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.bartlett_test(frame, "c_mktsegment", "cents")


def q_chrf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus chrF per character-n-gram order (operators.text.
    chrf_score, n <= 3, beta = 2): references = documents,
    'hypotheses' = the same documents with every 4th token dropped
    (the bleu_clipped fixture) — the tokenizer-free generation metric
    that gives partial credit where BLEU's word grams score 0. Each
    per-order score is one truncating micro DIV over three exact
    integer corpus totals."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    kept = F.filter(toks, lambda t, i: F.pmod(i + 1, F.lit(4)) != 0)
    hyps = docs.select("doc_id", F.array_join(kept, " ").alias("text"))
    return tx.chrf_score(docs, hyps, n_max=3, beta=2)


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen on customer balance cents
    (operators.stats.jarque_bera): the moment test run BEFORE trusting
    the normal-theory members (grubbs_test, bartlett_test) — on this
    uniform-ish column the kurtosis term alone should reject hard.
    Four exact DECIMAL power sums, one deterministic fp64 close."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents")
    )
    return st.jarque_bera(frame, "cents")


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Wald-Wolfowitz runs test on the monthly revenue
    series (operators.stats.runs_test): are the above/below-mean signs
    randomly ordered, or does revenue trend/oscillate? The
    order-sensitive randomness screen beside durbin_watson's
    parametric lag-1 — exact integer signs via the multiply-through
    trick, one series-keyed shuffle."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    pts = _monthly_nation_revenue(spark, sf_dir)
    return st.runs_test(pts, "nation", "t", "v")


def q_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test (operators.stats.page_trend_test): blocking
    on order month, do the five priority classes' monthly revenue
    totals INCREASE in priority order? The directional blocked-design
    counterpart to friedman_test (omnibus) and jonckheere_terpstra
    (unblocked) — block-partitioned doubled ranks, one exact
    aggregate, no global window."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("m"),
        F.substring(F.col("o_orderpriority"), 1, 1).cast("long").alias("prio"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    return st.page_trend_test(cells, "m", "prio", "cents")


def q_dp_exponential_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-mechanism DP median of customer balance cents
    (operators.pipeline.dp_exponential_quantile, epsilon = 2 in
    micro, md5 noise family): the value-SELECTION release completing
    the Laplace numeric family (counts/sum/mean) — a median cannot be
    'noised', it must be chosen, and the Gumbel-max argmax over the
    value-domain aggregate is that choice. Seeded hash noise replayed
    bit-for-bit by the oracle; the operator docstring carries the
    production secret-seed requirement."""
    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents")
    )
    return pl.dp_exponential_quantile(
        frame, "cents", q_micro=500_000, epsilon_micro=2_000_000,
        seed=11, hash_family="md5",
    )


def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test between click and error event value-cents
    (operators.stats.brunner_munzel) — the variance-robust upgrade of
    the rank_sum_test gate on the SAME two slices (their disagreement
    is itself a heteroscedasticity signal): stochastic-dominance
    effect p_hat plus the BM W and Welch-type df, all from the two
    doubled-midrank systems over the distinct-value aggregate."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    frame = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return st.brunner_munzel(frame, "event_type", "cents", "click", "error")


def q_bayes_ab_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Bayesian A/B on a deterministic user split of the events
    stream (operators.stats.bayes_ab_prob): arm = Knuth-mixed user_id
    parity, success = purchase event; emits P(arm B converts better)
    under Beta(1,1) priors — the no-approximation decision scalar
    beside two_proportion_z. Both engines run the identical Stirling
    lnGamma text; terms pico-floored at birth, exact integer sum."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    frame = ev.select(
        F.pmod(_mix(F.col("user_id")), F.lit(2)).alias("arm"),
        (F.col("event_type") == "purchase").alias("ok"),
    )
    return st.bayes_ab_prob(frame, "arm", "ok", 0, 1)


def q_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test (operators.stats.fisher_exact): is
    order-final status associated with URGENT priority, conditioning
    on both margins — the exact small-cell member closing the
    contingency family next to chi_square/g_test/mcnemar/
    mantel_haenszel. Hypergeometric masses through the portable
    Stirling lnGamma text; support-spine capped with the
    NULL-not-truncate guard."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    frame = orders.select(
        (F.col("o_orderstatus") == "F").alias("is_final"),
        (F.substring(F.col("o_orderpriority"), 1, 1) == "1").alias("is_urgent"),
    )
    return st.fisher_exact(frame, "is_final", "is_urgent")


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL document
    population from two independent deterministic fingerprint samples
    (operators.stats.capture_recapture) — the dedup-pipeline "how big
    is the true corpus given two partial scans and their overlap"
    estimator, chao1_vocab's two-sample sibling. One aggregate; the
    estimate should bracket the actual documents rowcount."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    docs = load_table(spark, sf_dir, "documents").select(
        (F.pmod(_mix(F.col("doc_id")), F.lit(10)) < 3).alias("s1"),
        (F.pmod(_mix(F.col("doc_id") * 13 + 7), F.lit(10)) < 3).alias("s2"),
    )
    return st.capture_recapture(docs, "s1", "s2")


def q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (l_partkey, l_suppkey)
    (functions.layout.hilbert_key2) — zorder_key's locality upgrade:
    no Morton diagonal jumps, so consecutive keys are always adjacent
    cells and range filters on either column touch strictly fewer row
    groups at the same 16-bit quantization. Pure unrolled shift/mask
    CASE pipeline, bit-for-bit oracle-checked, pytest-pinned to the
    textbook xy2d walk."""
    from hdinsight_pyspark_cntk_integration_spark.functions.layout import hilbert_key2

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.pmod(F.col("l_partkey"), F.lit(65536)).alias("__a"),
        F.pmod(F.col("l_suppkey"), F.lit(65536)).alias("__b"),
    )
    return hilbert_key2(li, "__a", "__b").drop("__a", "__b")


def q_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA across market segments
    (operators.stats.welch_anova on balance cents) — the k-group mean
    comparison that stays valid exactly when bartlett_test/levene_bf
    flag unequal variances (anova_f's assumption); weights rescaled by
    the exact integer pooled variance so every cross-group float
    reduction is birth-floored, then the single Sp2 rescale undone in
    the closing expression."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.welch_anova(frame, "c_mktsegment", "cents")


def q_poisson_two_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact conditional two-rate test (operators.stats.
    poisson_two_rate): do odd- and even-mixed-user slices throw error
    events at the same rate, conditioning on the total error count —
    the counting-process member beside two_proportion_z and
    fisher_exact. Binomial masses through the portable Stirling
    lnGamma text; support spine capped with the NULL-not-truncate
    guard."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    ev = load_table(spark, sf_dir, "events")
    frame = ev.select(
        F.pmod(_mix(F.col("user_id")), F.lit(2)).alias("slice"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    return st.poisson_two_rate(frame, "slice", "is_err", 0, 1)


def q_pot_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold GPD tail fit of order values
    (operators.stats.pot_tail, threshold = $450k in cents — the top
    ~decile): the tail-risk profile (shape xi, scale beta, exceedance
    share) the body statistics discard — is the spend tail heavy
    (xi > 0) or exponential-ish? One filtered aggregate, exact
    integer excess moments, two fp64 closes."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    frame = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return st.pot_tail(frame, "cents", 45_000_000)


def q_benjamini_yekutieli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Yekutieli FDR step-up (operators.stats.
    benjamini_yekutieli) over the SAME 200-hypothesis planted-signal
    battery the benjamini_hochberg gate uses — the
    arbitrary-dependence-robust sibling: its harmonic c(m) penalty
    must reject a SUBSET of BH's set on identical input (the
    power-for-safety trade made visible). Exact integer step-up in
    DECIMAL; c(m) from truncating pico reciprocals."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    mix = F.pmod(
        F.pmod(F.col("id"), F.lit(1_000_003)) * F.lit(2654435761),
        F.lit(1_000_003),
    )
    hyp = spark.range(0, 200).select(
        F.col("id").alias("hyp_id"),
        F.when(
            F.pmod(F.col("id"), F.lit(5)) == 0, F.pmod(mix, F.lit(20_000)) + 1
        )
        .otherwise(F.pmod(mix, F.lit(1_000_000)) + 1)
        .cast("long")
        .alias("p_micro"),
    )
    return st.benjamini_yekutieli(hyp, "hyp_id", "p_micro", alpha_micro=50_000)


def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test per order priority
    (operators.stats.seasonal_mann_kendall, period 12) on the same
    monthly revenue series as the mann_kendall gate: is revenue
    trending AFTER the annual cycle is blocked out (Jan only compares
    with Jan)? Per-season S and tie-corrected variances sum; pair
    join keyed (priority, season)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    orders = load_table(spark, sf_dir, "orders")
    series = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long").alias("m"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("rev")
    )
    return st.seasonal_mann_kendall(series, "priority", "m", "rev", period=12)


def q_dunn_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise z after the kruskal_wallis gate
    (operators.stats.dunn_test on the SAME segment/balance-cents
    frame): WHICH segment pairs differ, from the same pooled doubled
    ranks the omnibus H used. k² pair rows over the k-row per-group
    rank table; feed benjamini_hochberg for multiplicity."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    customer = load_table(spark, sf_dir, "customer")
    frame = customer.select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return st.dunn_test(frame, "c_mktsegment", "cents")


def q_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down FWER control (operators.stats.holm_bonferroni)
    over the SAME 200-hypothesis battery as the BH and BY gates —
    completing the multiple-testing trio with all three directly
    comparable on identical input (Holm's FWER set ⊆ BY ⊆ BH).
    Exact integer step-down; stop rank = MIN failing rank."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    mix = F.pmod(
        F.pmod(F.col("id"), F.lit(1_000_003)) * F.lit(2654435761),
        F.lit(1_000_003),
    )
    hyp = spark.range(0, 200).select(
        F.col("id").alias("hyp_id"),
        F.when(
            F.pmod(F.col("id"), F.lit(5)) == 0, F.pmod(mix, F.lit(20_000)) + 1
        )
        .otherwise(F.pmod(mix, F.lit(1_000_000)) + 1)
        .cast("long")
        .alias("p_micro"),
    )
    return st.holm_bonferroni(hyp, "hyp_id", "p_micro", alpha_micro=50_000)


def q_icc_twoway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(2,1) two-way random single-rating reliability
    (operators.stats.icc_twoway): the COMPLETE-design companion to the
    icc_oneway gate — same 5 synthetic raters, but every rater rates
    EVERY document (no participation coin) on a 1..5 scale, so rater
    bias is a separable column effect. All-integer mean-square
    identity, one truncating micro DIV, no float anywhere."""
    rated = _rating_fixture(spark, sf_dir, 5, first=1)
    return st.icc_twoway(rated.withColumnRenamed("label", "rating"))


def q_dp_above_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse Vector Technique release over per-nation customer counts
    (operators.pipeline.dp_above_threshold, md5 family, threshold = 60
    — the sf0.01 per-nation scale, so the gate SF sees genuinely
    mixed outcomes — 3 releases max, epsilon = ln 9): which
    nations' customer counts clear the bar, answered in nation order
    until the third positive — the budget-scales-with-positives DP
    primitive completing the release family (counts/sum/mean/
    quantile). Both noisy draws seeded and oracle-replayed
    bit-for-bit; the production secret-seed note applies."""
    customer = load_table(spark, sf_dir, "customer")
    return pl.dp_above_threshold(
        customer, "c_nationkey", threshold=60, max_releases=3,
        epsilon_micro=2_197_224, seed=5, hash_family="md5",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Full registry, gate window first.

    The catalog below is ONE dict literal in registry (insertion)
    order; the returned dict is reordered so the committed
    ``_GATE_WINDOW`` occupies the first 50 slots (the driver truncates
    there). Rotating the gate is now a list edit, not a 300-entry
    dict shuffle, and registry integrity (no duplicate keys, window
    is a subset) is asserted here and source-checked by
    tests/test_registry.py.
    """
    catalog = {
        "ngram_novelty": q_ngram_novelty,
        "compression_ratio": q_compression_ratio,
        "hierarchy_rollup": q_hierarchy_rollup,
        "cohort_ltv": q_cohort_ltv,
        "anova_f": q_anova_f,
        "kendall_tau": q_kendall_tau,
        "rolling_corr": q_rolling_corr,
        "hhi_concentration": q_hhi_concentration,
        "sssp_trade": q_sssp_trade,
        "kaplan_meier": q_kaplan_meier,
        "containment_docs": q_containment_docs,
        "diff_in_diff": q_diff_in_diff,
        "grouped_ols": q_grouped_ols,
        "mann_kendall": q_mann_kendall,
        "oov_rate": q_oov_rate,
        "recursive_cte_sql": q_recursive_cte_sql,
        "dup_cluster_sizes": q_dup_cluster_sizes,
        "auc_balance": q_auc_balance,
        "calibration_bins": q_calibration_bins,
        "cuped_spend": q_cuped_spend,
        "holt_winters": q_holt_winters,
        "wilson_ci": q_wilson_ci,
        "survival_summary": q_survival_summary,
        "corr_matrix": q_corr_matrix,
        "cramers_v": q_cramers_v,
        "assortativity": q_assortativity,
        "levene_bf": q_levene_bf,
        "ks_drift": q_ks_drift,
        "jaccard_neighbors": q_jaccard_neighbors,
        "robust_means": q_robust_means,
        "bigram_logprob": q_bigram_logprob,
        "near_dup_against": q_near_dup_against,
        "bm25_search": q_bm25_search,
        "unigram_logprob": q_unigram_logprob,
        "temperature_mixture": q_temperature_mixture,
        "key_skew_profile": q_key_skew_profile,
        "hll_distinct_bounded": q_hll_distinct_bounded,
        "posexplode_tokens": q_posexplode_tokens,
        "pagerank_nations": q_pagerank_nations,
        "price_histogram": q_price_histogram,
        "interpolate_linear": q_interpolate_linear,
        "dq_checks": q_dq_checks,
        "edit_distance_pairs": q_edit_distance_pairs,
        "inverted_index": q_inverted_index,
        "cohort_retention": q_cohort_retention,
        "try_arithmetic": q_try_arithmetic,
        "xml_roundtrip": q_xml_roundtrip,
        "url_functions": q_url_functions,
        # --- full registry continues (covered by tools/check_parity.py).
        # --- Next 49 entries = the committed ROUND-10 gate window. ---
        "corpus_divergence": q_corpus_divergence,
        "corr_stats": q_corr_stats,
        "correlated_avg_qty": q_correlated_avg_qty,
        "intersect": q_intersect,
        "unpivot": q_unpivot,
        "map_functions": q_map_functions,
        "array_functions": q_array_functions,
        "regexp_functions": q_regexp_functions,
        "rank_functions": q_rank_functions,
        "first_last_value": q_first_last_value,
        "datetime_functions": q_datetime_functions,
        "order_count_distribution": q_order_count_distribution,
        "disjunctive_filter": q_disjunctive_filter,
        "parts_supplier_count": q_parts_supplier_count,
        "high_balance_light_buyers": q_high_balance_light_buyers,
        "nation_value_share": q_nation_value_share,
        "nation_trade_pairs": q_nation_trade_pairs,
        "mode_per_group": q_mode_per_group,
        "ngram_jaccard_adjacent": q_ngram_jaccard_adjacent,
        "near_dup_cosine_exact": q_near_dup_cosine_exact,
        "near_dup_cosine_lsh": q_near_dup_cosine_lsh,
        "media_metadata": q_media_metadata,
        "multimodal_decode": q_multimodal_decode,
        "simple_filter_agg": q_simple_filter_agg,
        "string_functions": q_string_functions,
        "math_functions": q_math_functions,
        "bitwise_agg": q_bitwise_agg,
        "sentence_split": q_sentence_split,
        "higher_order_fns": q_higher_order_fns,
        "ivf_topk": q_ivf_topk,
        "returned_item_revenue": q_returned_item_revenue,
        "market_share": q_market_share,
        "range_frame_window": q_range_frame_window,
        "struct_functions": q_struct_functions,
        "date_format": q_date_format,
        "salted_join": q_salted_join,
        "approx_percentile": q_approx_percentile,
        "map_explode": q_map_explode,
        "arrays_zip": q_arrays_zip,
        "encoding_functions": q_encoding_functions,
        "top_supplier": q_top_supplier,
        "dedup_transitive": q_dedup_transitive,
        "limit_offset": q_limit_offset,
        "big_orders": q_big_orders,
        "zorder_key": q_zorder_key,
        "sample_per_group": q_sample_per_group,
        "weighted_sample": q_weighted_sample,
        "data_card": q_data_card,
        "pca_top_component": q_pca_top_component,
        # new in round 9 (VERDICT r8 #4 capped-gate twin): takes the one
        # free round-10 window slot — see ROTATION.md
        "jaccard_capped": q_jaccard_capped,
        # new in round 9, scheduled for the round-11 gate window (the
        # round-10 window is fully committed to the never-gated backlog
        # — ROTATION.md); all oracle-paired and parity-mirrored now
        "cohens_d": q_cohens_d,
        "weighted_median": q_weighted_median,
        "jackknife_nations": q_jackknife_nations,
        "bootstrap_mean": q_bootstrap_mean,
        "control_chart": q_control_chart,
        "lorenz_customers": q_lorenz_customers,
        "hits_trade": q_hits_trade,
        "grouping_sets_sql": q_grouping_sets_sql,
        "k_truss_trade": q_k_truss,
        "reciprocity_trade": q_reciprocity,
        "exact_quantiles": q_exact_quantiles,
        "mase_monthly": q_mase_monthly,
        "twa_value": q_twa_value,
        "negative_samples": q_negative_samples,
        "psi_drift": q_psi_drift,
        "trimmed_mean": q_trimmed_mean,
        "vector_dq": q_vector_dq,
        "knn_label_noise": q_knn_label_noise,
        "minhash_provable": q_minhash_provable,
        # --- previously gated queries (r1-r8 artifacts) ---
        "pricing_summary": q_pricing_summary,
        "mutual_information": q_mutual_information,
        "theil_sen": q_theil_sen,
        "weighted_reservoir": q_weighted_reservoir,
        "funnel_steps": q_funnel_steps,
        "zipf_slope": q_zipf_slope,
        "pmi_cooccur": q_pmi_cooccur,
        "robust_scaler": q_robust_scaler,
        "burstiness": q_burstiness,
        "markov_transitions": q_markov_transitions,
        "script_histogram": q_script_histogram,
        "kneser_ney": q_kneser_ney,
        "textrank_keywords": q_textrank_keywords,
        "autocorrelation": q_autocorrelation,
        "seasonal_decompose": q_seasonal_decompose,
        "target_encode": q_target_encode,
        "woe_iv": q_woe_iv,
        "adamic_adar": q_adamic_adar,
        "dictionary_tag": q_dictionary_tag,
        "harmonic_centrality": q_harmonic_centrality,
        "holt_linear": q_holt_linear,
        "heaps_law": q_heaps_law,
        "simpson_diversity": q_simpson_diversity,
        "sparse_cosine": q_sparse_cosine,
        "welch_ttest": q_welch_ttest,
        "readability": q_readability,
        "attribution": q_attribution,
        "canonical_docs": q_canonical_docs,
        "assoc_rules": q_assoc_rules,
        "rfm_segments": q_rfm_segments,
        "pareto_revenue": q_pareto_revenue,
        "kmv_intersect": q_kmv_intersect,
        "sentence_dedup": q_sentence_dedup,
        "dsir_weights": q_dsir_weights,
        "random_projection": q_random_projection,
        "communities_trade": q_communities_trade,
        "kcore_trade": q_kcore_trade,
        "hard_negatives": q_hard_negatives,
        "near_dup_against_exact": q_near_dup_against_exact,
        "ewma": q_ewma,
        "benford_digits": q_benford_digits,
        "chi_square": q_chi_square,
        "yoy_growth": q_yoy_growth,
        "run_lengths": q_run_lengths,
        "bigram_condprob": q_bigram_condprob,
        "tdigest_quantiles": q_tdigest_quantiles,
        "event_paths": q_event_paths,
        "session_window_native": q_session_window_native,
        "rolling_anomaly": q_rolling_anomaly,
        "dedup_window": q_dedup_window,
        "accuracy": q_accuracy,
        "score_confusion": q_score_confusion,
        "similarity_topk": q_similarity_topk,
        "embedding_dedup": q_embedding_dedup,
        "top_revenue_orders": q_top_revenue_orders,
        "region_revenue": q_region_revenue,
        "dim_join": q_dim_join,
        "confusion_pivot": q_confusion_pivot,
        "window_topn": q_window_topn,
        "anti_join": q_anti_join,
        "rollup": q_rollup,
        "json_extract": q_json_extract,
        "asof_join": q_asof_join,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "score_accuracy": q_score_accuracy,
        "skyline_parts": q_skyline_parts,
        "outlier_zscore": q_outlier_zscore,
        "upsert_aggregate": q_upsert_aggregate,
        "bfs_supply_chain": q_bfs_supply_chain,
        "pq_ann": q_pq_ann,
        "sliding_distinct": q_sliding_distinct,
        "ivfpq_ann": q_ivfpq_ann,
        "phash_near_dup": q_phash_near_dup,
        "interval_overlap": q_interval_overlap,
        "hybrid_rrf": q_hybrid_rrf,
        "cms_counts": q_cms_counts,
        "rank_sum_test": q_rank_sum_test,
        "ks_test": q_ks_test,
        "spearman": q_spearman,
        "ols_regression": q_ols_regression,
        "cusum_changepoint": q_cusum_changepoint,
        "ab_test_lift": q_ab_test_lift,
        "set_similarity": q_set_similarity,
        "bpe_vocab": q_bpe_vocab,
        "repeated_passages_maximal": q_repeated_passages_maximal,
        "strip_boilerplate": q_strip_boilerplate,
        "heavy_users": q_heavy_users,
        "triangle_count": q_triangle_count,
        "quantile_transform": q_quantile_transform,
        "winsorize": q_winsorize,
        "auto_histogram": q_auto_histogram,
        "modern_sql_sugar": q_modern_sql_sugar,
        "gopher_rules": q_gopher_rules,
        "contamination_overlap": q_contamination_overlap,
        "ngram_diversity": q_ngram_diversity,
        "mad_outliers": q_mad_outliers,
        "perplexity_buckets": q_perplexity_buckets,
        "url_dedup": q_url_dedup,
        "asof_nearest": q_asof_nearest,
        "balanced_buckets": q_balanced_buckets,
        "feature_hashing": q_feature_hashing,
        "differential_join": q_differential_join,
        "gini": q_gini,
        "token_entropy": q_token_entropy,
        "null_safe_join": q_null_safe_join,
        "collation_group": q_collation_group,
        "sql_scripting": q_sql_scripting,
        "running_distinct": q_running_distinct,
        "table_diff": q_table_diff,
        "arrow_udf": q_arrow_udf,
        "aes_roundtrip": q_aes_roundtrip,
        "boolean_aggs": q_boolean_aggs,
        "minhash_near_dup": q_minhash_near_dup,
        "simhash": q_simhash,
        "decontaminate_bloom": q_decontaminate_bloom,
        "asof_tolerance": q_asof_tolerance,
        "repeated_passages": q_repeated_passages,
        "shard_manifest": q_shard_manifest,
        "point_in_time": q_point_in_time,
        "variant_extract": q_variant_extract,
        "manifest_diff": q_manifest_diff,
        "hash_split": q_hash_split,
        "mixture_sample": q_mixture_sample,
        "pack_chunks": q_pack_chunks,
        "pack_chunks_global": q_pack_chunks_global,
        "bpe_token_count": q_bpe_token_count,
        "waiting_suppliers": q_waiting_suppliers,
        "decontaminate": q_decontaminate,
        "rolling_fingerprint": q_rolling_fingerprint,
        "repetition_stats": q_repetition_stats,
        "nation_profit": q_nation_profit,
        "vocab": q_vocab,
        "tokenize_ids": q_tokenize_ids,
        "lang_id": q_lang_id,
        "min_cost_supplier": q_min_cost_supplier,
        "priority_ship_lag": q_priority_ship_lag,
        "excess_suppliers": q_excess_suppliers,
        "pii_redact": q_pii_redact,
        "tfidf_top_terms": q_tfidf_top_terms,
        "stratified_split": q_stratified_split,
        "chunk_overlap": q_chunk_overlap,
        "quantize_embeddings": q_quantize_embeddings,
        "adaptive_quality": q_adaptive_quality,
        "apply_changes": q_apply_changes,
        "quantized_rerank": q_quantized_rerank,
        "epoch_shuffle": q_epoch_shuffle,
        "resample_ffill": q_resample_ffill,
        "profile_table": q_profile_table,
        "sliding_hourly": q_sliding_hourly,
        "scd2_history": q_scd2_history,
        "group_percentiles": q_group_percentiles,
        "dedup_incremental": q_dedup_incremental,
        "set_ops_all": q_set_ops_all,
        "moving_avg": q_moving_avg,
        "sessionize": q_sessionize,
        "dedup_keep_first_rows": q_dedup_keep_first_rows,
        "having_big_orders": q_having_big_orders,
        "promo_revenue_share": q_promo_revenue_share,
        "exists_late_ship": q_exists_late_ship,
        "percentiles": q_percentiles,
        "string_agg": q_string_agg,
        "embedding_centroids": q_embedding_centroids,
        "l2_normalize": q_l2_normalize,
        "bigram_histogram": q_bigram_histogram,
        "funnel_conversion": q_funnel_conversion,
        "sql_yearly_revenue": q_sql_yearly_revenue,
        "merge_join": q_merge_join,
        "union_accounts": q_union_accounts,
        "null_handling": q_null_handling,
        "approx_distinct": q_approx_distinct,
        "running_total": q_running_total,
        "lag_lead": q_lag_lead,
        "fingerprints": q_fingerprints,
        "token_histogram": q_token_histogram,
        "quality_filter": q_quality_filter,
        "embedding_pair_cosine": q_embedding_pair_cosine,
        "cube": q_cube,
        "scalar_functions": q_scalar_functions,
        "range_join": q_range_join,
        "distinct_labels": q_distinct_labels,
        "semi_join": q_semi_join,
        "tumbling_hourly": q_tumbling_hourly,
        "set_ops": q_set_ops,
        # round-10 additions (scheduled for the r11 gate window)
        "span_corruption": q_span_corruption,
        "nearest_centroid": q_nearest_centroid,
        "tokenizer_fertility": q_tokenizer_fertility,
        "mmr_rerank": q_mmr_rerank,
        "simhash_provable": q_simhash_provable,
        "kmeans_provable": q_kmeans_provable,
        "pca_provable": q_pca_provable,
        # round-11 additions (gate window: round 12 per ROTATION.md)
        "interpolate_provable": q_interpolate_provable,
        "pack_bestfit": q_pack_bestfit,
        "contamination_lm": q_contamination_lm,
        "quality_calibration": q_quality_calibration,
        "curriculum_schedule": q_curriculum_schedule,
        "dedup_keep_best": q_dedup_keep_best,
        "packing_efficiency": q_packing_efficiency,
        "rouge_overlap": q_rouge_overlap,
        "pass_at_k": q_pass_at_k,
        "self_consistency": q_self_consistency,
        "bleu_clipped": q_bleu_clipped,
        "fleiss_kappa": q_fleiss_kappa,
        "kcenter_select": q_kcenter_select,
        "bradley_terry": q_bradley_terry,
        "cliffs_delta": q_cliffs_delta,
        "good_turing": q_good_turing,
        "retrieval_mrr": q_retrieval_mrr,
        "ndcg_eval": q_ndcg_eval,
        "mcnemar_test": q_mcnemar_test,
        "chao1_vocab": q_chao1_vocab,
        "k_anonymity": q_k_anonymity,
        "ablation_arms": q_ablation_arms,
        "fim_split": q_fim_split,
        "dawid_skene": q_dawid_skene,
        "lsh_plan": q_lsh_plan,
        # round-12 additions
        "krippendorff_alpha": q_krippendorff_alpha,
        "cochran_q": q_cochran_q,
        "kendall_w": q_kendall_w,
        "wilcoxon_signed": q_wilcoxon_signed,
        "friedman_test": q_friedman_test,
        "item_analysis": q_item_analysis,
        "l_diversity": q_l_diversity,
        "mixture_reweight": q_mixture_reweight,
        "span_f1": q_span_f1,
        # round-12 batch 2 (gated round 13 — the window was full; see
        # ROTATION.md overflow policy)
        "weighted_kappa": q_weighted_kappa,
        "mantel_haenszel": q_mantel_haenszel,
        "conformal_calibration": q_conformal_calibration,
        "pinball_loss": q_pinball_loss,
        "brier_decomposition": q_brier_decomposition,
        "sprt_eval": q_sprt_eval,
        "fellegi_sunter": q_fellegi_sunter,
        "wordpiece_vocab": q_wordpiece_vocab,
        "sorted_neighborhood": q_sorted_neighborhood,
        "t_closeness": q_t_closeness,
        # round-13 additions
        "benjamini_hochberg": q_benjamini_hochberg,
        "icc_oneway": q_icc_oneway,
        "ece_calibration": q_ece_calibration,
        "mcc_score": q_mcc_score,
        "cusum_drift": q_cusum_drift,
        "theil_index": q_theil_index,
        "g_test_keywords": q_g_test_keywords,
        "log_odds_dirichlet": q_log_odds_dirichlet,
        "yules_k": q_yules_k,
        "rbo_overlap": q_rbo_overlap,
        "cem_att": q_cem_att,
        "neyman_allocation": q_neyman_allocation,
        "spearman_rho": q_spearman_rho,
        "gk_gamma": q_gk_gamma,
        "page_hinkley": q_page_hinkley,
        "winsorized_mean": q_winsorized_mean,
        "gains_table": q_gains_table,
        "jsd_divergence": q_jsd_divergence,
        "cronbach_alpha": q_cronbach_alpha,
        "nelson_aalen": q_nelson_aalen,
        "dp_noisy_counts": q_dp_noisy_counts,
        "feature_hashing_signed": q_feature_hashing_signed,
        "wasserstein_drift": q_wasserstein_drift,
        "roc_points": q_roc_points,
        "average_precision": q_average_precision,
        "benford_chi2": q_benford_chi2,
        "isotonic_calibration": q_isotonic_calibration,
        "diebold_mariano": q_diebold_mariano,
        "log_rank_test": q_log_rank_test,
        "two_proportion_z": q_two_proportion_z,
        "post_stratified": q_post_stratified,
        "embedding_contamination": q_embedding_contamination,
        "dp_noisy_sum": q_dp_noisy_sum,
        "tv_drift": q_tv_drift,
        "hellinger_drift": q_hellinger_drift,
        # round-14 additions (gate as round-15 overflow per the
        # re-gate floor policy, ROTATION.md)
        "krippendorff_ordinal": q_krippendorff_ordinal,
        "pass_at_k_ci": q_pass_at_k_ci,
        "cusum_two_sided": q_cusum_two_sided,
        "dp_noisy_mean": q_dp_noisy_mean,
        "cvm_drift": q_cvm_drift,
        "theil_u": q_theil_u,
        "krippendorff_interval": q_krippendorff_interval,
        "cochran_armitage": q_cochran_armitage,
        "lexical_diversity": q_lexical_diversity,
        "kruskal_wallis": q_kruskal_wallis,
        "ad_drift": q_ad_drift,
        "mood_median": q_mood_median,
        "jonckheere_terpstra": q_jonckheere_terpstra,
        "gwet_ac1": q_gwet_ac1,
        "durbin_watson": q_durbin_watson,
        "ljung_box": q_ljung_box,
        "grubbs_test": q_grubbs_test,
        "bartlett_test": q_bartlett_test,
        "chrf_score": q_chrf_score,
        "jarque_bera": q_jarque_bera,
        "runs_test": q_runs_test,
        "page_trend_test": q_page_trend_test,
        "dp_exponential_quantile": q_dp_exponential_quantile,
        "brunner_munzel": q_brunner_munzel,
        "bayes_ab_prob": q_bayes_ab_prob,
        "fisher_exact": q_fisher_exact,
        "capture_recapture": q_capture_recapture,
        "hilbert_key": q_hilbert_key,
        "welch_anova": q_welch_anova,
        "poisson_two_rate": q_poisson_two_rate,
        "pot_tail": q_pot_tail,
        "benjamini_yekutieli": q_benjamini_yekutieli,
        "seasonal_mann_kendall": q_seasonal_mann_kendall,
        "dunn_test": q_dunn_test,
        "holm_bonferroni": q_holm_bonferroni,
        "icc_twoway": q_icc_twoway,
        "dp_above_threshold": q_dp_above_threshold,
    }
    missing = [n for n in _GATE_WINDOW if n not in catalog]
    assert not missing, f"gate window names not in catalog: {missing}"
    assert len(_GATE_WINDOW) == len(set(_GATE_WINDOW)) == 50, (
        "gate window must be exactly 50 unique names"
    )
    ordered = {n: catalog[n] for n in _GATE_WINDOW}
    for name, fn in catalog.items():
        if name not in ordered:
            ordered[name] = fn
    return ordered


def _zorder_oracle_sql() -> str:
    """Morton-key oracle from the SQL twin in functions.layout — the
    identical shift/mask pipeline DuckDB-side."""
    from hdinsight_pyspark_cntk_integration_spark.functions.layout import zorder_key2_sql

    zk = zorder_key2_sql("l_partkey % 65536", "l_suppkey % 65536")
    return f"SELECT l_orderkey, l_linenumber, {zk} AS zkey FROM lineitem"


def _split_bound(frac: float) -> int:
    """Bucket bound used by operators.pipeline (int(frac * modulus)) —
    the oracle must round the float identically, so reuse the arithmetic."""
    from hdinsight_pyspark_cntk_integration_spark.operators.pipeline import _KNUTH_MOD

    return int(frac * _KNUTH_MOD)


_NORM_TEXT = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
# functions.textfns.tokens: the runs of non-whitespace (0 for NULL text)
_N_TOKENS = r"len(regexp_extract_all(coalesce(text, ''), '\S+'))"


def _lang_scores_sql() -> str:
    stop = {
        "en": ("the", "and", "of"),
        "de": ("der", "und", "die"),
        "fr": ("le", "et", "les"),
        "es": ("el", "y", "los"),
    }
    parts = []
    for lang, words in stop.items():
        in_list = ", ".join(f"'{w}'" for w in words)
        hits = (
            r"len(list_filter(regexp_extract_all(lower(coalesce(text, '')), '\S+'),"
            f" t -> t IN ({in_list})))"
        )
        parts.append(
            f"CASE WHEN nt = 0 THEN 0.0 ELSE CAST({hits} AS DOUBLE) / CAST(nt AS DOUBLE) END"
            f" AS score_{lang}"
        )
    scores = ",\n        ".join(parts)
    return f"""
    WITH base AS (
      SELECT doc_id, text, {_N_TOKENS} AS nt FROM documents
    ), s AS (
      SELECT doc_id,
        {scores}
      FROM base
    )
    SELECT doc_id, score_en, score_de, score_fr, score_es,
      CASE WHEN greatest(score_en, score_de, score_fr, score_es) > 0 THEN
        CASE
          WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
          WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
          WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
          WHEN score_es = greatest(score_en, score_de, score_fr, score_es) THEN 'es'
        END
      ELSE 'unknown' END AS lang_pred
    FROM s
    """


def _score_confusion_sql() -> str:
    weights = ",\n        ".join(_stub_weights_sql())
    return f"""
    WITH w AS (SELECT [
        {weights}
    ] AS wm),
    scored AS (
      SELECT label,
        list_transform(w.wm, wr -> list_dot_product(CAST(e.embedding AS DOUBLE[]), wr)) AS scores
      FROM embeddings e, w
    ),
    pred AS (
      SELECT label,
        CAST(list_position(scores, list_max(scores)) - 1 AS BIGINT) AS predicted_label
      FROM scored
    )
    SELECT label, predicted_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY label, predicted_label
    """


def _score_accuracy_sql() -> str:
    weights = ",\n        ".join(_stub_weights_sql())
    return f"""
    WITH w AS (SELECT [
        {weights}
    ] AS wm),
    scored AS (
      SELECT label,
        list_transform(w.wm, wr -> list_dot_product(CAST(e.embedding AS DOUBLE[]), wr)) AS scores
      FROM embeddings e, w
    ),
    pred AS (
      SELECT label,
        CAST(list_position(scores, list_max(scores)) - 1 AS BIGINT) AS predicted_label
      FROM scored
    )
    SELECT
      CAST(SUM(CASE WHEN label = predicted_label THEN 1 ELSE 0 END) AS BIGINT) AS num_correct,
      CAST(COUNT(*) AS BIGINT) AS num_total,
      100.0 * CAST(SUM(CASE WHEN label = predicted_label THEN 1 ELSE 0 END) AS BIGINT)
        / COUNT(*) AS accuracy_pct
    FROM pred
    """


def _ewma_oracle_sql(alpha: float = 0.5, depth: int = 8) -> str:
    """The identical left-fold lag chain ewma_bounded builds, as SQL.

    Coefficients are embedded via repr() — exact decimal strings for the
    alpha=0.5 binary fractions — and the numerator/denominator folds are
    parenthesized newest-first, the same fp64 tree Spark evaluates."""
    decay = 1.0 - alpha
    w = "PARTITION BY user_id ORDER BY make_timestamp(epoch_ns(ts)//1000), event_id"
    num = f"(value * {alpha!r})"
    den = f"{alpha!r}"
    for i in range(1, depth):
        coef = repr(alpha * (decay**i))
        num = f"({num} + COALESCE(lag(value, {i}) OVER w * {coef}, 0.0))"
        den = (
            f"({den} + CASE WHEN lag(value, {i}) OVER w IS NULL"
            f" THEN 0.0 ELSE {coef} END)"
        )
    return f"""
        SELECT user_id, event_id, value, {num} / {den} AS ewma
        FROM events WINDOW w AS ({w})
    """


def oracle_sql() -> dict[str, str]:
    ev_ts = "make_timestamp(epoch_ns(ts)//1000)"
    oracles = {
        "pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
              SUM(l_quantity) AS sum_qty,
              CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
              {_SQL_REVENUE} AS sum_disc_price,
              SUM(l_quantity) / COUNT(*) AS avg_qty,
              CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue_orders": f"""
            SELECT l_orderkey, o_orderdate, o_orderpriority,
              {_SQL_REVENUE} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "region_revenue": f"""
            SELECT n_name, {_SQL_REVENUE} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "accuracy": """
            SELECT
              CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS num_correct,
              CAST(COUNT(*) AS BIGINT) AS num_total,
              100.0 * CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT)
                / COUNT(*) AS accuracy_pct
            FROM lineitem
        """,
        "distinct_labels": "SELECT DISTINCT l_returnflag FROM lineitem ORDER BY l_returnflag",
        "dim_join": """
            SELECT r_name,
              CAST(COUNT(*) AS BIGINT) AS n_customers,
              CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "confusion_pivot": """
            SELECT source,
              CAST(COUNT(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
              CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
              CAST(COUNT(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
              CAST(COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
              CAST(COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
            FROM documents GROUP BY source
        """,
        "window_topn": """
            SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey
                ) AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "semi_join": """
            SELECT s_suppkey, s_name FROM supplier
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
        """,
        "set_ops": """
            SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        """,
        "rollup": """
            SELECT l_returnflag, l_linestatus,
              CAST(COUNT(*) AS BIGINT) AS n, SUM(l_quantity) AS sum_qty
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "cube": """
            SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """,
        "scalar_functions": """
            SELECT o_orderkey,
              upper(substring(o_orderpriority, 1, 3)) AS prio3,
              o_orderstatus || '-' || o_orderpriority AS status_prio,
              CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
              CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
              CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS o_month,
              CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS o_day,
              date_trunc('month', o_orderdate) AS month_start
            FROM orders
        """,
        "json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "tumbling_hourly": f"""
            SELECT date_trunc('hour', {ev_ts}) AS hour_start, event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "asof_join": f"""
            WITH p AS (
              SELECT event_id, user_id, {ev_ts} AS ts FROM events
              WHERE event_type = 'purchase'
            ), v AS (
              SELECT user_id, {ev_ts} AS view_ts, MAX(event_id) AS view_event_id
              FROM events WHERE event_type = 'view' GROUP BY user_id, {ev_ts}
            )
            SELECT p.event_id, p.user_id, p.ts, v.view_event_id, v.view_ts
            FROM p ASOF JOIN v
              ON p.user_id = v.user_id AND v.view_ts <= p.ts
        """,
        "range_join": """
            SELECT tier, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem
            JOIN (VALUES (1.0, 10.0, 'low'), (11.0, 25.0, 'mid'), (26.0, 50.0, 'high'))
              AS tiers(lo, hi, tier)
              ON l_quantity BETWEEN lo AND hi
            GROUP BY tier
        """,
        "dedup_exact": f"""
            SELECT md5({_NORM_TEXT}) AS fingerprint,
              MIN(doc_id) AS doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY 1
        """,
        "fingerprints": f"SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint FROM documents",
        "token_stats": f"""
            WITH base AS (
              SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
                CAST({_N_TOKENS} AS BIGINT) AS n_tokens
              FROM documents
            )
            SELECT doc_id, n_chars, n_tokens,
              CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
                  / CAST(n_tokens AS DOUBLE) END AS mean_token_len,
              CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) END AS punct_ratio,
              CASE WHEN n_chars = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                  / CAST(n_chars AS DOUBLE) END AS upper_ratio
            FROM base
        """,
        "hash_split": f"""
            SELECT doc_id,
              CASE
                WHEN ((doc_id % 1000003) * 2654435761) % 1000003 < {_split_bound(0.8)}
                  THEN 'train'
                WHEN ((doc_id % 1000003) * 2654435761) % 1000003 < {_split_bound(0.8 + 0.1)}
                  THEN 'val'
                ELSE 'test'
              END AS split
            FROM documents
        """,
        "mixture_sample": f"""
            WITH h AS (
              SELECT doc_id, source,
                ((doc_id % 1000003) * 2654435761) % 1000003 AS b
              FROM documents
            )
            SELECT doc_id, source FROM h
            WHERE b < CASE source
              WHEN 'src0' THEN {_split_bound(1.0)}
              WHEN 'src1' THEN {_split_bound(0.5)}
              WHEN 'src2' THEN {_split_bound(0.2)}
              ELSE {_split_bound(0.05)} END
        """,
        "pack_chunks": f"""
            WITH t AS (
              SELECT doc_id, doc_id % 8 AS shard,
                CAST({_N_TOKENS} AS BIGINT) AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, shard, n_tokens,
                CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
              FROM t
            )
            SELECT doc_id, shard,
              CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS first_block,
              CASE WHEN n_tokens = 0
                THEN CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT)
                ELSE CAST(FLOOR((cum - 1) / 512.0) AS BIGINT) END AS last_block,
              (cum - n_tokens) % 512 AS offset_in_block
            FROM c
        """,
        "repetition_stats": r"""
            WITH base AS (
              SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
              FROM documents
            ),
            toks AS (
              SELECT doc_id, string_split_regex(norm, '\s+') AS l
              FROM base WHERE norm IS NOT NULL
            ),
            words AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                     CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_words
              FROM (SELECT doc_id, unnest(l) AS tok FROM toks)
              WHERE length(tok) > 0 GROUP BY doc_id
            ),
            grams AS (
              SELECT doc_id, gram, COUNT(*) AS cnt FROM (
                SELECT doc_id,
                  unnest(list_transform(range(greatest(len(l) - 1, 1)),
                    i -> array_to_string(list_slice(l, i + 1, i + 2), ' '))) AS gram
                FROM toks
              ) WHERE length(gram) > 0 GROUP BY doc_id, gram
            ),
            g2 AS (
              SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
                     CAST(MAX(cnt) AS BIGINT) AS top_ngram_count
              FROM grams GROUP BY doc_id
            )
            SELECT d.doc_id,
              COALESCE(w.n_words, 0) AS n_words,
              COALESCE(w.n_distinct_words, 0) AS n_distinct_words,
              CASE WHEN COALESCE(w.n_words, 0) = 0 THEN 0.0
                   ELSE CAST(w.n_words - w.n_distinct_words AS DOUBLE)
                        / CAST(w.n_words AS DOUBLE) END AS dup_word_frac,
              COALESCE(g2.n_ngrams, 0) AS n_ngrams,
              COALESCE(g2.top_ngram_count, 0) AS top_ngram_count,
              CASE WHEN COALESCE(g2.n_ngrams, 0) = 0 THEN 0.0
                   ELSE CAST(g2.top_ngram_count AS DOUBLE)
                        / CAST(g2.n_ngrams AS DOUBLE) END AS top_ngram_frac
            FROM documents d
            LEFT JOIN words w USING (doc_id)
            LEFT JOIN g2 USING (doc_id)
        """,
        "nation_profit": """
            WITH j AS (
              SELECT n_name AS nation,
                CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                CAST(l_extendedprice AS DECIMAL(18,4))
                  * CAST(1.0 - l_discount AS DECIMAL(18,4))
                - CAST(p_retailprice AS DECIMAL(18,4))
                  * CAST(l_quantity AS DECIMAL(18,4)) AS amount
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN orders ON l_orderkey = o_orderkey
              WHERE p_name LIKE '%red%'
            )
            SELECT nation, o_year,
              CAST(CAST(SUM(amount) AS VARCHAR) AS DOUBLE) AS sum_profit
            FROM j GROUP BY nation, o_year
        """,
        "big_orders": """
            WITH heavy AS (
              SELECT l_orderkey, SUM(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(l_quantity) > 250
            )
            SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
            FROM heavy
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "zorder_key": _zorder_oracle_sql(),
        "weighted_sample": """
            SELECT doc_id, lang FROM documents
            WHERE ((doc_id % 1000003) * 2654435761) % 1000003
                  < floor(least(1.0, n_chars / 400.0) * 1000003)
        """,
        "data_card": f"""
            SELECT source, lang,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars,
              CAST(SUM({_N_TOKENS}) AS BIGINT) AS total_tokens,
              CAST(COUNT(DISTINCT md5({_NORM_TEXT})) AS BIGINT) AS n_unique,
              CAST(COUNT(*) - COUNT(DISTINCT md5({_NORM_TEXT})) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS dup_rate
            FROM documents GROUP BY source, lang
        """,
        "vocab": f"""
            SELECT token, freq,
              CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS token_id
            FROM (
              SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS freq
              FROM (SELECT unnest(string_split_regex({_NORM_TEXT}, '\\s+')) AS tok
                    FROM documents WHERE text IS NOT NULL)
              WHERE length(tok) > 0 GROUP BY tok
            ) ORDER BY freq DESC, token LIMIT 25
        """,
        "tokenize_ids": f"""
            WITH base AS (
              SELECT doc_id, string_split_regex({_NORM_TEXT}, '\\s+') AS l
              FROM documents WHERE text IS NOT NULL
            ),
            tk AS (
              SELECT doc_id, unnest(l) AS tok, unnest(range(len(l))) AS pos FROM base
            ),
            tk2 AS (SELECT * FROM tk WHERE length(tok) > 0),
            vocab AS (
              SELECT token, CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS token_id
              FROM (
                SELECT tok AS token, COUNT(*) AS freq
                FROM (SELECT unnest(string_split_regex({_NORM_TEXT}, '\\s+')) AS tok
                      FROM documents WHERE text IS NOT NULL)
                WHERE length(tok) > 0 GROUP BY tok
              ) ORDER BY freq DESC, token LIMIT 25
            ),
            ids AS (
              SELECT doc_id,
                array_to_string(list(COALESCE(token_id, 0) ORDER BY pos), ' ') AS ids_str,
                CAST(COUNT(*) AS BIGINT) AS n_ids
              FROM tk2 LEFT JOIN vocab ON tok = token GROUP BY doc_id
            )
            SELECT d.doc_id, COALESCE(i.n_ids, 0) AS n_ids,
                   COALESCE(i.ids_str, '') AS ids_str
            FROM documents d LEFT JOIN ids i USING (doc_id)
        """,
        "sample_per_group": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                row_number() OVER (
                  PARTITION BY lang
                  ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
                ) AS rk
              FROM documents
            ) WHERE rk <= 10
        """,
        "rolling_fingerprint": """
            SELECT doc_id,
              CASE WHEN text IS NULL THEN NULL
                   WHEN length(text) = 0 THEN 0
                   ELSE list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split_regex(text, ''),
                                      ch -> CAST(unicode(ch) AS BIGINT))),
                     (acc, x) -> (acc * 31 + x) % 1000003)
              END AS rhash
            FROM documents
        """,
        "gopher_rules": r"""
            WITH w AS (
              SELECT doc_id, text,
                list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS words,
                string_split(text, chr(10)) AS lines
              FROM documents
            ), c AS (
              SELECT doc_id,
                CAST(len(words) AS BIGINT) AS n_words,
                CAST(len(lines) AS BIGINT) AS n_lines,
                CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS BIGINT) AS word_chars,
                CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hash_count,
                CAST(length(text) - length(replace(text, '...', '')) AS BIGINT) AS ell3,
                CAST(len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS n_bullet,
                CAST(len(list_filter(lines, l -> ends_with(trim(l), '...'))) AS BIGINT) AS n_ell_lines,
                CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
                CAST(len(list_filter(words, x -> list_contains(['the','be','to','of','and','that','have','with'], lower(x)))) AS BIGINT) AS n_stop
              FROM w
            )
            SELECT doc_id, n_words,
              (n_words >= 50 AND n_words <= 100000) AS r_word_count,
              (word_chars >= 3*n_words AND word_chars <= 10*n_words) AS r_mean_word_len,
              (30*hash_count + 10*ell3 <= 3*n_words) AS r_symbol_ratio,
              (10*n_bullet <= n_lines) AS r_bullet_lines,
              (10*n_ell_lines <= 3*n_lines) AS r_ellipsis_lines,
              (5*n_alpha >= 4*n_words) AS r_alpha_words,
              (n_stop >= 2) AS r_stopwords,
              ((n_words >= 50 AND n_words <= 100000)
                AND (word_chars >= 3*n_words AND word_chars <= 10*n_words)
                AND (30*hash_count + 10*ell3 <= 3*n_words)
                AND (10*n_bullet <= n_lines)
                AND (10*n_ell_lines <= 3*n_lines)
                AND (5*n_alpha >= 4*n_words)
                AND (n_stop >= 2)) AS keep
            FROM c
        """,
        "contamination_overlap": r"""
            WITH sh AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  generate_series(1, greatest(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) - 2, 1)),
                  i -> array_to_string(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')[i:i+2], ' ')
                )) AS s
              FROM documents
            ),
            ev AS (
              SELECT DISTINCT unnest(s) AS ngram FROM sh WHERE doc_id % 41 = 0
            ),
            tr AS (
              SELECT doc_id, unnest(s) AS ngram FROM sh
            )
            SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
              CAST(SUM(CASE WHEN e.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
            FROM tr t LEFT JOIN ev e ON t.ngram = e.ngram
            WHERE length(t.ngram) > 0
            GROUP BY t.doc_id
        """,
        "ngram_diversity": r"""
            WITH toks AS (
              SELECT doc_id,
                string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS l
              FROM documents
            ), g AS (
              SELECT doc_id,
                list_filter(list_transform(generate_series(1, greatest(len(l), 1)),
                  i -> l[i]), x -> length(x) > 0) AS g1,
                list_filter(list_transform(generate_series(1, greatest(len(l) - 1, 1)),
                  i -> array_to_string(l[i:i+1], ' ')), x -> length(x) > 0) AS g2,
                list_filter(list_transform(generate_series(1, greatest(len(l) - 2, 1)),
                  i -> array_to_string(l[i:i+2], ' ')), x -> length(x) > 0) AS g3
              FROM toks
            )
            SELECT doc_id,
              CAST(len(g1) AS BIGINT) AS total_1,
              CAST(len(list_distinct(g1)) AS BIGINT) AS distinct_1,
              CAST(len(g2) AS BIGINT) AS total_2,
              CAST(len(list_distinct(g2)) AS BIGINT) AS distinct_2,
              CAST(len(g3) AS BIGINT) AS total_3,
              CAST(len(list_distinct(g3)) AS BIGINT) AS distinct_3
            FROM g
        """,
        "mad_outliers": """
            WITH med AS (
              SELECT o_orderpriority,
                percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS med
              FROM orders GROUP BY 1
            ), dev AS (
              SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice, m.med,
                abs(o.o_totalprice - m.med) AS ad
              FROM orders o JOIN med m USING (o_orderpriority)
            ), mad AS (
              SELECT o_orderpriority,
                percentile_cont(0.5) WITHIN GROUP (ORDER BY ad) AS mad
              FROM dev GROUP BY 1
            )
            SELECT d.o_orderpriority, d.o_orderkey, d.o_totalprice, d.med,
              m.mad, d.ad / m.mad AS robust_score
            FROM dev d JOIN mad m USING (o_orderpriority)
            WHERE m.mad > 0.0 AND d.ad > 2.0 * m.mad
        """,
        "embedding_dedup": """
            WITH RECURSIVE ev AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE vec_id < 500
            ), p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM ev a JOIN ev b ON a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
            ), edges AS (
              SELECT id_a AS a, id_b AS b FROM p
              UNION ALL
              SELECT id_b AS a, id_a AS b FROM p
            ), reach(node, rid) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e2.b, r.rid FROM reach r JOIN edges e2 ON e2.a = r.node
            ), comp AS (
              SELECT node, MIN(rid) AS component FROM reach GROUP BY node
            ), drops AS (
              SELECT node FROM comp WHERE node <> component
            )
            SELECT vec_id FROM embeddings
            WHERE vec_id < 500 AND vec_id NOT IN (SELECT node FROM drops)
        """,
        "url_dedup": r"""
            WITH raw AS (
              SELECT doc_id,
                CASE doc_id % 4
                  WHEN 0 THEN 'https://' || upper('site' || CAST((doc_id // 4) % 5 AS VARCHAR)) || '.Example.com/page/' || CAST(doc_id // 4 AS VARCHAR) || '/?utm_source=a&b=2&a=1'
                  WHEN 1 THEN 'HTTPS://' || 'site' || CAST((doc_id // 4) % 5 AS VARCHAR) || '.example.COM/page/' || CAST(doc_id // 4 AS VARCHAR) || '?a=1&b=2&fbclid=xyz#top'
                  WHEN 2 THEN 'https://' || 'site' || CAST((doc_id // 4) % 5 AS VARCHAR) || '.example.com/page/' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1'
                  ELSE 'https://' || 'site' || CAST((doc_id // 4) % 5 AS VARCHAR) || '.EXAMPLE.com/page/' || CAST(doc_id // 4 AS VARCHAR) || '#frag'
                END AS url
              FROM documents
            ), parts AS (
              SELECT doc_id,
                split_part(url, '#', 1) AS no_frag
              FROM raw
            ), comps AS (
              SELECT doc_id,
                split_part(no_frag, '?', 1) AS head,
                CASE WHEN strpos(no_frag, '?') > 0
                     THEN split_part(no_frag, '?', 2) ELSE '' END AS query
              FROM parts
            ), hp AS (
              SELECT doc_id, query,
                lower(split_part(head, '://', 1)) || '://' ||
                  lower(split_part(split_part(head, '://', 2), '/', 1)) AS scheme_host,
                CASE WHEN strpos(split_part(head, '://', 2), '/') > 0
                     THEN '/' || substr(split_part(head, '://', 2),
                                        strpos(split_part(head, '://', 2), '/') + 1)
                     ELSE '' END AS path0
              FROM comps
            ), np AS (
              SELECT doc_id, query, scheme_host,
                CASE WHEN length(path0) > 1 AND ends_with(path0, '/')
                     THEN substring(path0, 1, length(path0) - 1)
                     ELSE path0 END AS path,
                array_to_string(list_sort(list_filter(string_split(query, '&'),
                  p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&') AS canon_q
              FROM hp
            ), canon AS (
              SELECT doc_id,
                scheme_host || path ||
                  CASE WHEN length(canon_q) > 0 THEN '?' || canon_q ELSE '' END AS canon_url
              FROM np
            )
            SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
              MIN(doc_id) AS min_doc_id
            FROM canon GROUP BY canon_url
        """,
        "cms_counts": """
            WITH cells AS (
              SELECT 0 AS d, ((o_custkey % 1000003) * 427799 + 40503) % 1000003 % 512 AS bucket, o_custkey FROM orders UNION ALL SELECT 1 AS d, ((o_custkey % 1000003) * 283394 + 81006) % 1000003 % 512 AS bucket, o_custkey FROM orders UNION ALL SELECT 2 AS d, ((o_custkey % 1000003) * 138989 + 121509) % 1000003 % 512 AS bucket, o_custkey FROM orders UNION ALL SELECT 3 AS d, ((o_custkey % 1000003) * 994587 + 162012) % 1000003 % 512 AS bucket, o_custkey FROM orders
            ), sk AS (
              SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM cells GROUP BY d, bucket
            ), probes AS (
              SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 40 = 1
            ), pb AS (
              SELECT p.o_custkey, g.d,
                ((p.o_custkey % 1000003) * (CASE g.d WHEN 0 THEN 427799 WHEN 1 THEN 283394 WHEN 2 THEN 138989 ELSE 994587 END)
                  + (CASE g.d WHEN 0 THEN 40503 WHEN 1 THEN 81006 WHEN 2 THEN 121509 ELSE 162012 END)) % 1000003 % 512 AS bucket
              FROM probes p CROSS JOIN (SELECT unnest([0,1,2,3]) AS d) g
            ), est AS (
              SELECT pb.o_custkey, MIN(COALESCE(sk.cnt, 0)) AS est
              FROM pb LEFT JOIN sk ON sk.d = pb.d AND sk.bucket = pb.bucket
              GROUP BY pb.o_custkey
            ), exact AS (
              SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS exact
              FROM orders WHERE o_custkey % 40 = 1 GROUP BY o_custkey
            )
            SELECT e.o_custkey, CAST(e.est AS BIGINT) AS est, x.exact,
              e.est >= x.exact AS bound_ok
            FROM est e JOIN exact x USING (o_custkey)
        """,
        "hard_negatives": """
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id IN (0, 1, 2)
            ), e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
            ), s AS (
              SELECT q.query_id, e.vec_id,
                list_dot_product(e.ev, q.qv)
                  / (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(q.qv, q.qv)))
                AS score
              FROM e CROSS JOIN q
              WHERE e.vec_id != q.query_id
            )
            SELECT query_id, vec_id, score FROM s
            WHERE score >= 0.30 AND score < 0.45
            QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) <= 5
        """,
        "kcore_trade": """
            WITH j AS (
              SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS wt
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              GROUP BY 1, 2
            ), e0 AS MATERIALIZED (
              SELECT DISTINCT src AS s, dst AS d FROM (
                SELECT src, dst FROM j WHERE wt >= 160
                UNION ALL
                SELECT dst, src FROM j WHERE wt >= 160
              ) WHERE src <> dst
            ),
            d1 AS MATERIALIZED (
              SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY s
            ), k1 AS MATERIALIZED (
              SELECT s AS node FROM d1 WHERE deg >= 5
            ), e1 AS MATERIALIZED (
              SELECT e.s, e.d FROM e0 e
              JOIN k1 a ON e.s = a.node
              JOIN k1 b ON e.d = b.node
            ),
            d2 AS MATERIALIZED (
              SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM e1 GROUP BY s
            ), k2 AS MATERIALIZED (
              SELECT s AS node FROM d2 WHERE deg >= 5
            ), e2 AS MATERIALIZED (
              SELECT e.s, e.d FROM e1 e
              JOIN k2 a ON e.s = a.node
              JOIN k2 b ON e.d = b.node
            ),
            d3 AS MATERIALIZED (
              SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM e2 GROUP BY s
            ), k3 AS MATERIALIZED (
              SELECT s AS node FROM d3 WHERE deg >= 5
            ), e3 AS MATERIALIZED (
              SELECT e.s, e.d FROM e2 e
              JOIN k3 a ON e.s = a.node
              JOIN k3 b ON e.d = b.node
            ),
            d4 AS MATERIALIZED (
              SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM e3 GROUP BY s
            ), k4 AS MATERIALIZED (
              SELECT s AS node FROM d4 WHERE deg >= 5
            ), e4 AS MATERIALIZED (
              SELECT e.s, e.d FROM e3 e
              JOIN k4 a ON e.s = a.node
              JOIN k4 b ON e.d = b.node
            )
            SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM e4 GROUP BY s
        """,
        "near_dup_against_exact": r"""
            WITH sh AS (
              SELECT doc_id,
                list_filter(list_distinct(list_transform(
                  generate_series(1, greatest(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) - 2, 1)),
                  i -> array_to_string(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')[i:i+2], ' ')
                )), x -> length(x) > 0) AS s
              FROM documents
            ), cut AS (
              SELECT MAX(doc_id) - 49 AS c FROM documents
            ), n AS (
              SELECT doc_id AS new_id, s AS sn FROM sh, cut WHERE doc_id >= c
            ), b AS (
              SELECT doc_id AS base_id, s AS sb FROM sh, cut WHERE doc_id < c
            )
            SELECT new_id, base_id,
              CAST(len(list_intersect(sn, sb)) AS DOUBLE)
                / CAST(len(sn) + len(sb) - len(list_intersect(sn, sb)) AS DOUBLE) AS jaccard
            FROM n CROSS JOIN b
            WHERE CAST(len(list_intersect(sn, sb)) AS DOUBLE)
                / CAST(len(sn) + len(sb) - len(list_intersect(sn, sb)) AS DOUBLE) >= 0.3
        """,
        "assoc_rules": """
            WITH bi AS (
              SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            ),
            ic AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM bi GROUP BY item),
            freq AS (SELECT * FROM ic WHERE n_item >= 50),
            nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM bi),
            pruned AS (SELECT b.basket, b.item FROM bi b JOIN freq f ON b.item = f.item),
            pairs AS (
              SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS pair_n
              FROM pruned a JOIN pruned b ON a.basket = b.basket AND a.item < b.item
              GROUP BY 1, 2 HAVING COUNT(*) >= 20
            )
            SELECT p.item_a, p.item_b, p.pair_n,
              fa.n_item AS n_a, fb.n_item AS n_b, nb.n_baskets,
              CAST(floor(p.pair_n * 1000000 / fa.n_item) AS BIGINT) AS conf_a_b_micro,
              CAST(floor(p.pair_n * 1000000 / fb.n_item) AS BIGINT) AS conf_b_a_micro,
              CAST((CAST(p.pair_n AS HUGEINT) * nb.n_baskets * 1000000)
                   // (CAST(fa.n_item AS HUGEINT) * fb.n_item) AS BIGINT) AS lift_micro
            FROM pairs p
            JOIN freq fa ON p.item_a = fa.item
            JOIN freq fb ON p.item_b = fb.item
            CROSS JOIN nb
        """,
        "rfm_segments": """
            WITH pc AS (
              SELECT c.c_nationkey AS grp, o.o_custkey AS customer,
                MAX(CAST(o.o_orderdate AS DATE)) AS last_d,
                CAST(COUNT(*) AS BIGINT) AS frequency,
                CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              GROUP BY 1, 2
            ),
            r AS (
              SELECT *, CAST(date_diff('day', last_d,
                MAX(last_d) OVER (PARTITION BY grp)) AS BIGINT) AS recency_days
              FROM pc
            ),
            q AS (
              SELECT grp, customer, recency_days, frequency, monetary_cents,
                CAST(NTILE(4) OVER (PARTITION BY grp
                  ORDER BY recency_days ASC, customer ASC) AS BIGINT) AS r_q,
                CAST(NTILE(4) OVER (PARTITION BY grp
                  ORDER BY frequency DESC, customer ASC) AS BIGINT) AS f_q,
                CAST(NTILE(4) OVER (PARTITION BY grp
                  ORDER BY monetary_cents DESC, customer ASC) AS BIGINT) AS m_q
              FROM r
            )
            SELECT grp, customer, recency_days, frequency, monetary_cents,
              r_q, f_q, m_q, (r_q || f_q || m_q) AS segment
            FROM q
        """,
        "pareto_revenue": """
            WITH pe AS (
              SELECT s.s_nationkey AS grp, l.l_suppkey AS entity,
                CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS amt
              FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
              GROUP BY 1, 2
            ),
            c AS (
              SELECT grp, entity, amt,
                SUM(amt) OVER (PARTITION BY grp ORDER BY amt DESC, entity ASC
                  ROWS UNBOUNDED PRECEDING) AS cum,
                SUM(amt) OVER (PARTITION BY grp) AS total
              FROM pe
            ),
            ne AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_entities FROM pe GROUP BY grp),
            cov AS (
              SELECT * FROM c
              WHERE CAST(cum - amt AS DOUBLE) / CAST(total AS DOUBLE) < 0.8
            )
            SELECT cov.grp, ne.n_entities,
              CAST(COUNT(*) AS BIGINT) AS n_to_threshold,
              CAST(800000 AS BIGINT) AS threshold_micro,
              CAST(floor(CAST(SUM(cov.amt) AS DOUBLE) / CAST(MAX(cov.total) AS DOUBLE)
                         * 1000000) AS BIGINT) AS top_share_micro
            FROM cov JOIN ne ON cov.grp = ne.grp
            GROUP BY cov.grp, ne.n_entities
        """,
        "kmv_intersect": """
            WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
            SELECT a.event_type AS grp_a, b.event_type AS grp_b,
              CAST(COUNT(*) AS BIGINT) AS exact_intersect,
              TRUE AS sketch_ok
            FROM du a JOIN du b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        """,
        "sentence_dedup": """
            WITH alldocs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20
            ),
            s0 AS (
              SELECT doc_id,
                unnest(string_split_regex(text, '[.!?]+')) AS raw,
                generate_subscripts(string_split_regex(text, '[.!?]+'), 1) AS pos
              FROM alldocs
            ),
            s AS (
              SELECT doc_id, pos, trim(raw) AS sentence
              FROM s0 WHERE length(trim(raw)) > 0
            ),
            st AS (
              SELECT sentence, COUNT(DISTINCT doc_id) AS ndocs, MIN(doc_id) AS keeper
              FROM s GROUP BY 1
            ),
            t AS (
              SELECT s.doc_id, s.pos, s.sentence,
                (st.ndocs >= 2 AND s.doc_id <> st.keeper) AS dropped
              FROM s JOIN st ON s.sentence = st.sentence
            )
            SELECT doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_sentences,
              CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
              COALESCE(string_agg(CASE WHEN NOT dropped THEN sentence END,
                                  ' ' ORDER BY pos), '') AS cleaned_text
            FROM t GROUP BY doc_id
        """,
        "dsir_weights": r"""
            WITH toks AS (
              SELECT doc_id, (source = 'src3') AS is_t,
                unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
              FROM documents
            ),
            tb AS (
              SELECT doc_id, is_t,
                CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS bucket
              FROM toks WHERE tok <> ''
            ),
            model AS (
              SELECT bucket,
                SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
              FROM tb GROUP BY 1
            ),
            tot AS (
              SELECT SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tt,
                SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS tr
              FROM tb
            ),
            lw AS (
              SELECT bucket,
                CAST(round((ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE))
                          - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 256 AS DOUBLE)))
                          * 1000000) AS BIGINT) AS lw_micro
              FROM model, tot
            )
            SELECT tb.doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(lw.lw_micro) AS BIGINT) AS dsir_micro
            FROM tb JOIN lw USING (bucket)
            WHERE NOT tb.is_t
            GROUP BY tb.doc_id
        """,
        "random_projection": """
            WITH q AS (
              SELECT vec_id,
                list_transform(embedding,
                  v -> CAST(floor(CAST(v AS DOUBLE) * 1024) AS BIGINT)) AS qv
              FROM embeddings
            ),
            ex AS (
              SELECT vec_id, unnest(qv) AS val, generate_subscripts(qv, 1) - 1 AS i
              FROM q
            ),
            dims AS (SELECT DISTINCT i FROM ex),
            js AS (SELECT j FROM range(8) t(j)),
            w AS (
              SELECT d.i, js.j,
                CASE WHEN CAST(('0x' || substr(md5(d.i || '_' || js.j), 1, 8)) AS BIGINT) % 2 = 1
                     THEN 1 ELSE -1 END AS sgn
              FROM dims d CROSS JOIN js
            )
            SELECT e.vec_id, CAST(w.j AS BIGINT) AS j,
              CAST(SUM(e.val * w.sgn) AS BIGINT) AS proj
            FROM ex e JOIN w ON e.i = w.i
            GROUP BY 1, 2
        """,
        "communities_trade": """
            WITH j AS (
              SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS wt
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              GROUP BY 1, 2
            ), e0 AS MATERIALIZED (
              SELECT DISTINCT src AS s, dst AS d FROM (
                SELECT src, dst FROM j WHERE wt >= 120
                UNION ALL
                SELECT dst, src FROM j WHERE wt >= 120
              ) WHERE src <> dst
            ),
            l0 AS MATERIALIZED (
              SELECT DISTINCT s AS node, s AS label FROM e0
            ),
            n1 AS (
              SELECT e.s AS node, l.label AS label, COUNT(*) AS n
              FROM e0 e JOIN l0 l ON e.d = l.node GROUP BY 1, 2
            ),
            l1 AS MATERIALIZED (
              SELECT node, label FROM (
                SELECT node, label,
                  ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, label ASC) AS rn
                FROM n1
              ) WHERE rn = 1
            ),
            n2 AS (
              SELECT e.s AS node, l.label AS label, COUNT(*) AS n
              FROM e0 e JOIN l1 l ON e.d = l.node GROUP BY 1, 2
            )
            SELECT node, CAST(label AS BIGINT) AS label FROM (
              SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, label ASC) AS rn
              FROM n2
            ) WHERE rn = 1
        """,
        "decontaminate": r"""
            WITH sh AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  generate_series(1, greatest(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) - 2, 1)),
                  i -> array_to_string(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')[i:i+2], ' ')
                )) AS s
              FROM documents
            ),
            ev AS (
              SELECT DISTINCT unnest(s) AS ngram FROM sh WHERE doc_id % 50 = 0
            ),
            tr AS (SELECT doc_id, unnest(s) AS ngram FROM sh)
            SELECT t.doc_id, CAST(COUNT(DISTINCT t.ngram) AS BIGINT) AS n_hits
            FROM tr t JOIN ev e ON t.ngram = e.ngram
            WHERE length(t.ngram) > 0
            GROUP BY t.doc_id
        """,
        # The bloom prefilter is exact end-to-end (false positives die in
        # the verify join), so the oracle is the plain contamination scan.
        "decontaminate_bloom": r"""
            WITH sh AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  generate_series(1, greatest(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) - 2, 1)),
                  i -> array_to_string(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')[i:i+2], ' ')
                )) AS s
              FROM documents
            ),
            ev AS (
              SELECT DISTINCT unnest(s) AS ngram FROM sh WHERE doc_id % 37 = 0
            ),
            tr AS (SELECT doc_id, unnest(s) AS ngram FROM sh)
            SELECT t.doc_id, CAST(COUNT(DISTINCT t.ngram) AS BIGINT) AS n_hits
            FROM tr t JOIN ev e ON t.ngram = e.ngram
            WHERE length(t.ngram) > 0
            GROUP BY t.doc_id
        """,
        "asof_tolerance": """
            WITH p AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            ),
            v AS (
              SELECT user_id, ts AS view_ts, MAX(event_id) AS view_event_id
              FROM events WHERE event_type = 'view'
              GROUP BY user_id, ts
            )
            SELECT p.event_id, p.user_id, p.ts,
              CASE WHEN n.view_ts <= p.ts + INTERVAL 2 HOUR
                THEN n.view_event_id END AS next_view_event_id,
              CASE WHEN n.view_ts <= p.ts + INTERVAL 2 HOUR
                THEN n.view_ts END AS next_view_ts
            FROM p LEFT JOIN LATERAL (
              SELECT view_ts, view_event_id FROM v
              WHERE v.user_id = p.user_id AND v.view_ts >= p.ts
              ORDER BY view_ts LIMIT 1
            ) n ON true
        """,
        "manifest_diff": r"""
            WITH nt AS (
              SELECT doc_id,
                ((doc_id % 1000003) * 2654435761) % 1000003 AS idh,
                CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0 THEN 0
                  ELSE len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'))
                END AS ntok
              FROM documents
            ),
            a AS (
              SELECT CAST(idh % 16 AS BIGINT) AS shard, COUNT(*) AS n_docs,
                SUM(ntok) AS n_tokens, SUM(idh) AS ck
              FROM nt GROUP BY shard
            ),
            b AS (
              SELECT CAST(idh % 16 AS BIGINT) AS shard, COUNT(*) AS n_docs,
                SUM(ntok) AS n_tokens, SUM(idh) AS ck
              FROM nt WHERE doc_id % 97 != 0 GROUP BY shard
            )
            SELECT COALESCE(a.shard, b.shard) AS shard,
              CAST(COALESCE(a.n_docs, 0) AS BIGINT) AS n_docs_a,
              CAST(COALESCE(b.n_docs, 0) AS BIGINT) AS n_docs_b,
              CAST(COALESCE(a.n_docs, 0) - COALESCE(b.n_docs, 0) AS BIGINT) AS docs_removed,
              CAST(COALESCE(a.n_tokens, 0) - COALESCE(b.n_tokens, 0) AS BIGINT) AS tokens_removed,
              COALESCE(a.ck, 0) != COALESCE(b.ck, 0) AS checksum_changed
            FROM a FULL OUTER JOIN b ON a.shard = b.shard
        """,

        # ---- round-5 oracles ----
        "bm25_search": """
            WITH lens AS (
              SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS dl
              FROM documents
            ),
            consts AS (
              SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
              FROM lens
            ),
            toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
              FROM documents
            ),
            tf AS (
              SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks WHERE token IN ('spark', 'hash', 'window')
              GROUP BY doc_id, token
            ),
            dfreq AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
            ),
            idf AS (
              -- idf quantized to integer micro-units immediately: ln() is not
              -- bit-identical across engines, floor(ln*1e6) is (see operator).
              SELECT token,
                CAST(FLOOR(LN(1.0 + (n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
                     * 1000000.0) AS BIGINT) AS idf_micro
              FROM dfreq, consts
            ),
            scored AS (
              SELECT t.doc_id, t.token, l.dl,
                (CAST(i.idf_micro AS DOUBLE) / 1000000.0)
                * (CAST(t.tf AS DOUBLE) * 2.2
                   / (CAST(t.tf AS DOUBLE)
                      + 1.2 * (0.25 + (0.75 * CAST(l.dl AS DOUBLE)) / c.avgdl))) AS s
              FROM tf t JOIN idf i USING (token) JOIN lens l USING (doc_id), consts c
            ),
            per_doc AS (
              SELECT doc_id, ANY_VALUE(dl) AS doc_len,
                COALESCE(MAX(CASE WHEN token = 'spark' THEN s END), 0.0)
                + COALESCE(MAX(CASE WHEN token = 'hash' THEN s END), 0.0)
                + COALESCE(MAX(CASE WHEN token = 'window' THEN s END), 0.0) AS bm25
              FROM scored GROUP BY doc_id
            )
            SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len, bm25
            FROM per_doc ORDER BY bm25 DESC, doc_id LIMIT 20
        """,
        "unigram_logprob": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
              FROM documents
            ),
            tf AS (
              SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks WHERE length(token) > 0 GROUP BY doc_id, token
            ),
            tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS t FROM tf),
            lp AS (
              SELECT token,
                CAST(FLOOR(LN(CAST(SUM(tf) AS DOUBLE) / (SELECT t FROM tot)) * 1000000.0)
                     AS BIGINT) AS lp_micro
              FROM tf GROUP BY token
            ),
            agg AS (
              SELECT t.doc_id,
                CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
                CAST(-SUM(t.tf * l.lp_micro) AS BIGINT) AS surprisal_micro
              FROM tf t JOIN lp l USING (token) GROUP BY t.doc_id
            )
            SELECT doc_id, n_tokens, surprisal_micro,
              CAST(surprisal_micro AS DOUBLE) / 1000000.0 / CAST(n_tokens AS DOUBLE) AS mean_nll
            FROM agg
        """,
        "temperature_mixture": """
            WITH c AS (
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(FLOOR(POW(CAST(COUNT(*) AS DOUBLE), 0.5) * 1000000.0) AS BIGINT) AS w
              FROM documents GROUP BY lang
            ),
            tw AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM c),
            kept AS (
              SELECT d.doc_id, d.lang
              FROM documents d JOIN c USING (lang), tw
              WHERE CAST(((d.doc_id % 1000003) * 2654435761) % 1000003 AS HUGEINT)
                    * CAST(c.n AS HUGEINT) * CAST(tw.t AS HUGEINT)
                  < CAST(200 AS HUGEINT) * CAST(c.w AS HUGEINT) * CAST(1000003 AS HUGEINT)
            )
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
              CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM kept GROUP BY lang
        """,
        "key_skew_profile": """
            WITH per_key AS (
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
            ),
            totals AS (
              SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
                CAST(COUNT(*) AS BIGINT) AS n_keys
              FROM per_key
            )
            SELECT user_id, cnt, total_rows, n_keys,
              CAST((CAST(cnt AS HUGEINT) * 1000000) // CAST(total_rows AS HUGEINT) AS BIGINT)
                AS share_ppm,
              (CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)) / CAST(total_rows AS DOUBLE)
                AS skew_x
            FROM per_key, totals
            ORDER BY cnt DESC, user_id LIMIT 10
        """,
        "hll_distinct_bounded": """
            SELECT event_type,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
              TRUE AS sketch_ok
            FROM events GROUP BY event_type
        """,
        "posexplode_tokens": """
            WITH s AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
              FROM documents WHERE doc_id < 20
            ),
            u AS (
              SELECT doc_id,
                CAST(generate_subscripts(l, 1) - 1 AS INT) AS pos,
                unnest(l) AS token
              FROM s
            )
            SELECT doc_id, pos, token FROM u WHERE length(token) > 0
        """,
        "pagerank_nations": """
            WITH edges AS (
              SELECT s_nationkey AS src, c_nationkey AS dst,
                CAST(COUNT(*) AS BIGINT) AS w
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY s_nationkey, c_nationkey
            ),
            nodes AS (
              SELECT src AS node FROM edges UNION SELECT dst FROM edges
            ),
            outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
            r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
            c1 AS (
              SELECT e.dst AS node,
                CAST(SUM((CAST(r.r AS HUGEINT) * e.w) // o.out_w) AS BIGINT) AS s
              FROM edges e
              JOIN outw o ON e.src = o.src
              JOIN r0 r ON r.node = e.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT n.node,
                CAST(150000 + (CAST(850000 AS HUGEINT) * COALESCE(c.s, 0)) // 1000000
                     AS BIGINT) AS r
              FROM nodes n LEFT JOIN c1 c ON n.node = c.node
            ),
            c2 AS (
              SELECT e.dst AS node,
                CAST(SUM((CAST(r.r AS HUGEINT) * e.w) // o.out_w) AS BIGINT) AS s
              FROM edges e
              JOIN outw o ON e.src = o.src
              JOIN r1 r ON r.node = e.src
              GROUP BY e.dst
            ),
            r2 AS (
              SELECT n.node,
                CAST(150000 + (CAST(850000 AS HUGEINT) * COALESCE(c.s, 0)) // 1000000
                     AS BIGINT) AS r
              FROM nodes n LEFT JOIN c2 c ON n.node = c.node
            ),
            c3 AS (
              SELECT e.dst AS node,
                CAST(SUM((CAST(r.r AS HUGEINT) * e.w) // o.out_w) AS BIGINT) AS s
              FROM edges e
              JOIN outw o ON e.src = o.src
              JOIN r2 r ON r.node = e.src
              GROUP BY e.dst
            ),
            r3 AS (
              SELECT n.node,
                CAST(150000 + (CAST(850000 AS HUGEINT) * COALESCE(c.s, 0)) // 1000000
                     AS BIGINT) AS r
              FROM nodes n LEFT JOIN c3 c ON n.node = c.node
            )
            SELECT n_name, r AS rank_micro
            FROM r3 JOIN nation ON node = n_nationkey
        """,
        "price_histogram": """
            SELECT
              LEAST(GREATEST(CAST(FLOOR(((CAST(o_totalprice AS DOUBLE) - 0.0)
                / 600000.0) * 12.0) AS BIGINT), 0), 11) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS n,
              MIN(CAST(o_totalprice AS DOUBLE)) AS min_v,
              MAX(CAST(o_totalprice AS DOUBLE)) AS max_v
            FROM orders GROUP BY bucket
        """,
        "interpolate_linear": """
            WITH obs AS (
              SELECT user_id,
                (epoch_ns(ts) // 1000000000) // 3600 AS oslot,
                value,
                row_number() OVER (
                  PARTITION BY user_id, (epoch_ns(ts) // 1000000000) // 3600
                  ORDER BY epoch_ns(ts) // 1000000000 DESC, value DESC
                ) AS rn
              FROM events
            ), d AS (
              SELECT user_id, oslot, value,
                lead(oslot) OVER (PARTITION BY user_id ORDER BY oslot) AS nxt,
                lead(value) OVER (PARTITION BY user_id ORDER BY oslot) AS nxt_v
              FROM obs WHERE rn = 1
            ), g AS (
              SELECT user_id, oslot, value, nxt, nxt_v,
                unnest(generate_series(oslot, COALESCE(nxt - 1, oslot))) AS slot
              FROM d
            )
            SELECT user_id, slot,
              make_timestamp(slot * 3600 * 1000000) AS grid_ts,
              CASE WHEN slot = oslot THEN value
                ELSE value + (nxt_v - value)
                     * (CAST(slot - oslot AS DOUBLE) / CAST(nxt - oslot AS DOUBLE))
              END AS value,
              slot = oslot AS is_observed
            FROM g
        """,
        "dq_checks": """
            SELECT 'positive_price' AS "check", CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT)
                AS n_violations,
              SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) = 0 AS passed
            FROM orders
            UNION ALL
            SELECT 'custkey_not_null', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT),
              SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) = 0
            FROM orders
            UNION ALL
            SELECT 'orderdate_not_null', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT),
              SUM(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END) = 0
            FROM orders
            UNION ALL
            SELECT 'status_known', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 0 ELSE 1 END) AS BIGINT),
              SUM(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 0 ELSE 1 END) = 0
            FROM orders
            UNION ALL
            SELECT 'fk_o_custkey_in_c_custkey',
              (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
              CAST(COUNT(*) AS BIGINT),
              COUNT(*) = 0
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL
        """,
        "edit_distance_pairs": """
            WITH pre AS (
              SELECT doc_id, substr(text, 1, 64) AS t FROM documents
            ),
            pairs AS (
              SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents WHERE doc_id < 100
            )
            SELECT p.id_a, p.id_b,
              CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist,
              CASE WHEN GREATEST(length(a.t), length(b.t)) = 0 THEN 1.0
                ELSE 1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
                     / CAST(GREATEST(length(a.t), length(b.t)) AS DOUBLE)
              END AS norm_sim
            FROM pairs p JOIN pre a ON p.id_a = a.doc_id JOIN pre b ON p.id_b = b.doc_id
        """,
        "inverted_index": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
              FROM documents
            ),
            tf AS (
              SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks WHERE length(token) > 0 GROUP BY token, doc_id
            )
            SELECT token,
              CAST(COUNT(*) AS BIGINT) AS df_docs,
              CAST(SUM(tf) AS BIGINT) AS total_tf,
              CAST(SUM(doc_id) AS BIGINT) AS posting_checksum,
              array_to_string(list_sort(list(doc_id))[1:10], ',') AS posting_sample
            FROM tf GROUP BY token HAVING COUNT(*) >= 2
        """,
        "cohort_retention": """
            WITH p AS (
              SELECT user_id,
                (epoch_ns(ts) // 1000000000) // 604800 AS period
              FROM events
            ),
            firsts AS (
              SELECT user_id, MIN(period) AS cohort_period FROM p GROUP BY user_id
            ),
            active AS (SELECT DISTINCT user_id, period FROM p)
            SELECT f.cohort_period,
              a.period - f.cohort_period AS period_offset,
              CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
            FROM active a JOIN firsts f USING (user_id)
            GROUP BY f.cohort_period, a.period - f.cohort_period
        """,
        "try_arithmetic": """
            SELECT o_orderkey,
              CASE WHEN o_custkey % 3 = 0 THEN NULL
                ELSE o_totalprice / CAST(o_custkey % 3 AS DOUBLE) END AS price_per_mod,
              CASE WHEN o_orderkey = 0 THEN CAST(9223372036854775807 AS BIGINT)
                ELSE NULL END AS overflow_add,
              CASE WHEN o_orderkey % 4 = 0 THEN 0
                WHEN o_orderkey % 4 = 1 THEN CAST(4611686018427387904 AS BIGINT)
                ELSE NULL END AS overflow_mul
            FROM orders
        """,
        "xml_roundtrip": """
            SELECT event_id,
              event_id AS xml_id,
              event_type AS xml_type,
              CAST(FLOOR(value * 1000000) AS BIGINT) AS xml_value_micro
            FROM events WHERE event_id < 1000
        """,
        "url_functions": """
            SELECT doc_id,
              source || '.example.com' AS host,
              '/docs/' || CAST(doc_id AS VARCHAR) AS path,
              lang AS lang_param,
              replace(source || ' ' || lang, ' ', '+') AS encoded
            FROM documents
        """,
        "variant_extract": """
            SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
              CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
              CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
            FROM events
            GROUP BY event_type
        """,
        "point_in_time": """
            WITH sg AS (
              SELECT user_id, ts AS sts, value AS state_value,
                ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                   ORDER BY event_id DESC) AS rn
              FROM events WHERE event_type = 'signup'
            ),
            sgd AS (SELECT user_id, sts, state_value FROM sg WHERE rn = 1),
            p AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            )
            SELECT p.event_id, p.user_id, p.ts, l.state_value
            FROM p LEFT JOIN LATERAL (
              SELECT state_value FROM sgd
              WHERE sgd.user_id = p.user_id AND sgd.sts <= p.ts
              ORDER BY sts DESC LIMIT 1
            ) l ON true
        """,
        "repeated_passages": r"""
            WITH toks AS (
              SELECT doc_id,
                string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS l
              FROM documents
              WHERE text IS NOT NULL
            ),
            grams AS (
              SELECT doc_id,
                unnest(list_transform(range(greatest(len(l) - 7, 1)),
                  i -> array_to_string(list_slice(l, i + 1, i + 8), ' '))) AS passage
              FROM toks
            )
            SELECT passage,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
              CAST(COUNT(*) AS BIGINT) AS n_occurrences,
              MIN(doc_id) AS first_doc_id
            FROM grams
            WHERE length(passage) > 0
            GROUP BY passage
            HAVING COUNT(DISTINCT doc_id) >= 2
        """,
        "bpe_vocab": _bpe_vocab_oracle(16),
        "wordpiece_vocab": _wordpiece_vocab_oracle(12, 2),
        "triangle_count": r"""
            WITH w AS (
              SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS wt
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              GROUP BY src, dst
            ),
            e AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM w WHERE wt >= 100 AND src <> dst
            )
            SELECT
              (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT a AS x FROM e UNION SELECT b FROM e)) AS n_nodes,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
              (SELECT CAST(COUNT(*) AS BIGINT)
               FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
               JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles
        """,
        "set_similarity": r"""
            WITH sh AS (
              SELECT doc_id, list_distinct(list_transform(range(greatest(len(l) - 2, 1)),
                i -> array_to_string(list_slice(l, i + 1, i + 3), ' '))) AS s
              FROM (
                SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS l
                FROM documents WHERE text IS NOT NULL
              )
              WHERE len(l) > 0
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s)) * 5
                  >= 3 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        """,
        "heavy_users": r"""
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM events WHERE user_id IS NOT NULL
            GROUP BY user_id
            HAVING COUNT(*) * 125 > (SELECT COUNT(*) FROM events WHERE user_id IS NOT NULL)
        """,
        "corpus_divergence": r"""
            WITH ta AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                FROM documents WHERE text IS NOT NULL
              ) WHERE length(token) > 0 GROUP BY token
            ),
            tb AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                FROM documents WHERE text IS NOT NULL AND doc_id % 7 <> 0
              ) WHERE length(token) > 0 GROUP BY token
            ),
            tot AS (
              SELECT CAST((SELECT SUM(c) FROM ta) AS DOUBLE) AS t_a,
                     CAST((SELECT SUM(c) FROM tb) AS DOUBLE) AS t_b,
                     CAST((SELECT COUNT(*) FROM (
                       SELECT token FROM ta UNION SELECT token FROM tb)) AS DOUBLE) AS v
            )
            SELECT a.token, a.c AS cnt_a,
              CAST(COALESCE(b.c, 0) AS BIGINT) AS cnt_b,
              CAST(a.c * CAST(floor(ln(
                (CAST(a.c AS DOUBLE) * (t_b + v))
                / (t_a * CAST(COALESCE(b.c, 0) + 1 AS DOUBLE))
              ) * 1000000.0) AS BIGINT) AS BIGINT) AS contrib_micro
            FROM ta a LEFT JOIN tb b USING (token), tot
            ORDER BY contrib_micro DESC, a.token
            LIMIT 15
        """,
        "strip_boilerplate": r"""
            WITH toks AS (
              SELECT doc_id,
                string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS l
              FROM documents
              WHERE text IS NOT NULL
            ),
            grams AS (
              SELECT doc_id, unnest(list_transform(range(greatest(len(l) - 7, 1)),
                i -> array_to_string(list_slice(l, i + 1, i + 8), ' '))) AS passage
              FROM toks
            ),
            s AS (
              SELECT passage, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
              FROM grams WHERE length(passage) > 0
              GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            top5 AS (
              SELECT passage,
                row_number() OVER (ORDER BY n_docs DESC, n_occ DESC, passage) AS rk
              FROM s ORDER BY n_docs DESC, n_occ DESC, passage LIMIT 5
            )
            SELECT doc_id,
              trim(replace(replace(replace(replace(replace(
                ' ' || trim(regexp_replace(lower(text), '\s+', ' ', 'g')) || ' ',
                ' ' || COALESCE((SELECT passage FROM top5 WHERE rk = 1), chr(1)) || ' ', ' '),
                ' ' || COALESCE((SELECT passage FROM top5 WHERE rk = 2), chr(1)) || ' ', ' '),
                ' ' || COALESCE((SELECT passage FROM top5 WHERE rk = 3), chr(1)) || ' ', ' '),
                ' ' || COALESCE((SELECT passage FROM top5 WHERE rk = 4), chr(1)) || ' ', ' '),
                ' ' || COALESCE((SELECT passage FROM top5 WHERE rk = 5), chr(1)) || ' ', ' ')
              ) AS clean_text
            FROM documents
        """,
        "repeated_passages_maximal": r"""
            WITH toks AS (
              SELECT doc_id,
                string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS l
              FROM documents
              WHERE text IS NOT NULL
            ),
            g8 AS (
              SELECT doc_id, unnest(list_transform(range(greatest(len(l) - 7, 1)),
                i -> array_to_string(list_slice(l, i + 1, i + 8), ' '))) AS passage
              FROM toks
            ),
            g16 AS (
              SELECT doc_id, unnest(list_transform(range(greatest(len(l) - 15, 1)),
                i -> array_to_string(list_slice(l, i + 1, i + 16), ' '))) AS passage
              FROM toks
            ),
            g32 AS (
              SELECT doc_id, unnest(list_transform(range(greatest(len(l) - 31, 1)),
                i -> array_to_string(list_slice(l, i + 1, i + 32), ' '))) AS passage
              FROM toks
            ),
            s8 AS (
              SELECT passage, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(COUNT(*) AS BIGINT) AS n_occurrences, MIN(doc_id) AS first_doc_id
              FROM g8 WHERE length(passage) > 0
              GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            s16 AS (
              SELECT passage, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(COUNT(*) AS BIGINT) AS n_occurrences, MIN(doc_id) AS first_doc_id
              FROM g16 WHERE length(passage) > 0
              GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            s32 AS (
              SELECT passage, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(COUNT(*) AS BIGINT) AS n_occurrences, MIN(doc_id) AS first_doc_id
              FROM g32 WHERE length(passage) > 0
              GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            supp8 AS (
              SELECT DISTINCT unnest(list_transform(range(greatest(len(l) - 7, 1)),
                i -> array_to_string(list_slice(l, i + 1, i + 8), ' '))) AS passage
              FROM (SELECT string_split(passage, ' ') AS l FROM s16)
            ),
            supp16 AS (
              SELECT DISTINCT unnest(list_transform(range(greatest(len(l) - 15, 1)),
                i -> array_to_string(list_slice(l, i + 1, i + 16), ' '))) AS passage
              FROM (SELECT string_split(passage, ' ') AS l FROM s32)
            ),
            -- adaptive extension level 64: genuine full-length grams only
            -- (docs with >= 64 tokens), mirroring the Spark-side length
            -- pre-filter. Both fixtures (sf0.001, sf0.01) have zero
            -- level-128 survivors, so the adaptive loop stops here and a
            -- static 4-level sweep is the exact oracle.
            g64 AS (
              SELECT doc_id, unnest(list_transform(range(len(l) - 63),
                i -> array_to_string(list_slice(l, i + 1, i + 64), ' '))) AS passage
              FROM toks WHERE len(l) >= 64
            ),
            s64 AS (
              SELECT passage, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(COUNT(*) AS BIGINT) AS n_occurrences, MIN(doc_id) AS first_doc_id
              FROM g64 WHERE length(passage) > 0
              GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            supp32 AS (
              SELECT DISTINCT unnest(list_transform(range(greatest(len(l) - 31, 1)),
                i -> array_to_string(list_slice(l, i + 1, i + 32), ' '))) AS passage
              FROM (SELECT string_split(passage, ' ') AS l FROM s64)
            )
            SELECT passage, CAST(8 AS INTEGER) AS n_words, n_docs, n_occurrences, first_doc_id
              FROM s8 WHERE passage NOT IN (SELECT passage FROM supp8)
            UNION ALL
            SELECT passage, CAST(16 AS INTEGER) AS n_words, n_docs, n_occurrences, first_doc_id
              FROM s16 WHERE passage NOT IN (SELECT passage FROM supp16)
            UNION ALL
            SELECT passage, CAST(32 AS INTEGER) AS n_words, n_docs, n_occurrences, first_doc_id
              FROM s32 WHERE passage NOT IN (SELECT passage FROM supp32)
            UNION ALL
            SELECT passage, CAST(64 AS INTEGER) AS n_words, n_docs, n_occurrences, first_doc_id
              FROM s64
        """,
        "shard_manifest": r"""
            WITH a AS (
              SELECT doc_id,
                ((doc_id % 1000003) * 2654435761) % 1000003 AS idh,
                CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0 THEN 0
                  ELSE len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'))
                END AS nt
              FROM documents
            )
            SELECT CAST(idh % 16 AS BIGINT) AS shard,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(nt) AS BIGINT) AS n_tokens,
              MIN(doc_id) AS min_id,
              MAX(doc_id) AS max_id,
              CAST(SUM(idh) AS BIGINT) AS id_checksum
            FROM a
            GROUP BY shard
        """,
        "pack_chunks_global": f"""
            WITH t AS (
              SELECT doc_id, doc_id % 8 AS shard,
                CAST({_N_TOKENS} AS BIGINT) AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, shard, n_tokens,
                CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
              FROM t
            ), local AS (
              SELECT doc_id, shard,
                CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS first_block,
                CASE WHEN n_tokens = 0
                  THEN CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT)
                  ELSE CAST(FLOOR((cum - 1) / 512.0) AS BIGINT) END AS last_block,
                (cum - n_tokens) % 512 AS offset_in_block
              FROM c
            ), totals AS (
              SELECT shard,
                CAST(FLOOR(CAST(SUM(n_tokens) AS BIGINT) / 512.0) AS BIGINT) + 1
                  AS shard_blocks
              FROM t GROUP BY shard
            ), offs AS (
              SELECT shard,
                CAST(COALESCE(SUM(shard_blocks) OVER (
                  ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) AS BIGINT) AS block_offset
              FROM totals
            )
            SELECT l.doc_id, l.shard,
              l.first_block + o.block_offset AS global_first_block,
              l.last_block + o.block_offset AS global_last_block,
              l.offset_in_block
            FROM local l JOIN offs o ON l.shard = o.shard
        """,
        "waiting_suppliers": """
            WITH late AS (
              SELECT l.l_orderkey, l.l_suppkey
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_orderstatus = 'F'
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
            )
            SELECT s.s_name AS s_name, CAST(COUNT(*) AS BIGINT) AS numwait
            FROM late t
            JOIN supplier s ON t.l_suppkey = s.s_suppkey
            WHERE EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = t.l_orderkey AND l2.l_suppkey <> t.l_suppkey
              )
              AND NOT EXISTS (
                SELECT 1 FROM late l3
                WHERE l3.l_orderkey = t.l_orderkey AND l3.l_suppkey <> t.l_suppkey
              )
            GROUP BY s.s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        "bpe_token_count": r"""
            SELECT doc_id,
              CASE WHEN text IS NULL THEN NULL
                ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+')) AS BIGINT)
              END AS n_bpe_tokens
            FROM documents
        """,
        "token_histogram": r"""
            SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (
              SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
              FROM documents
            )
            WHERE length(token) > 0
            GROUP BY token
            ORDER BY freq DESC, token
            LIMIT 100
        """,
        "quality_filter": f"""
            WITH base AS (
              SELECT lang, {_N_TOKENS} AS nt,
                CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE) END AS pr
              FROM documents
            )
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
            FROM base WHERE nt >= 5 AND pr <= 0.3
            GROUP BY lang
        """,
        "similarity_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id IN (0, 1, 2)
            ), e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
            ), s AS (
              SELECT q.query_id, e.vec_id,
                list_dot_product(e.ev, q.qv)
                  / (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(q.qv, q.qv)))
                AS score
              FROM e CROSS JOIN q
              WHERE e.vec_id != q.query_id
            )
            SELECT query_id, vec_id, score FROM s
            QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) <= 10
        """,
        "embedding_pair_cosine": """
            SELECT a.vec_id,
              list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
              AS cos_next
            FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        """,
        "score_confusion": _score_confusion_sql(),
        "score_accuracy": _score_accuracy_sql(),
        "lang_id": _lang_scores_sql(),
        "running_total": """
            SELECT o_custkey, o_orderkey,
              CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS VARCHAR) AS DOUBLE) AS running_total
            FROM orders
        """,
        "lag_lead": """
            SELECT o_custkey, o_orderkey,
              COALESCE(lag(o_orderdate) OVER w, TIMESTAMP '1900-01-01') AS prev_order_date,
              COALESCE(lead(o_orderdate) OVER w, TIMESTAMP '1900-01-01') AS next_order_date,
              COALESCE(date_diff('day', lag(o_orderdate) OVER w, o_orderdate), -1) AS gap_days
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "moving_avg": """
            SELECT o_custkey, o_orderkey,
              CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE)
                / COUNT(*) OVER w AS moving_avg_3
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        """,
        "sessionize": """
            WITH e AS (
              SELECT user_id, make_timestamp(epoch_ns(ts)//1000) AS ts, event_id
              FROM events
            ), marked AS (
              SELECT user_id, ts, event_id,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT user_id, ts,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
              FROM marked
            )
            SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
              MIN(ts) AS session_start, MAX(ts) AS session_end,
              CAST(COUNT(*) AS BIGINT) AS n_events
            FROM sess GROUP BY user_id, session_idx
        """,
        "dedup_keep_first_rows": f"""
            SELECT doc_id, lang, source FROM (
              SELECT doc_id, lang, source,
                row_number() OVER (PARTITION BY md5({_NORM_TEXT}) ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn = 1
        """,
        "having_big_orders": """
            SELECT l_orderkey, c_name, o_totalprice, total_qty
            FROM (
              SELECT l_orderkey, SUM(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
            )
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "promo_revenue_share": """
            WITH j AS (
              SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS ship_year, p_type,
                CAST(l_extendedprice AS DECIMAL(18,4))
                  * CAST(1.0 - l_discount AS DECIMAL(18,4)) AS rev
              FROM lineitem JOIN part ON l_partkey = p_partkey
            )
            SELECT ship_year,
              CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev END) AS VARCHAR) AS DOUBLE) AS promo_revenue,
              CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS total_revenue,
              100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev END) AS VARCHAR) AS DOUBLE)
                / CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS promo_share_pct
            FROM j GROUP BY ship_year
        """,
        "exists_late_ship": """
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY
            )
            GROUP BY o_orderpriority
        """,
        "percentiles": """
            SELECT l_returnflag,
              quantile_cont(l_quantity, 0.25) AS p25,
              quantile_cont(l_quantity, 0.5) AS p50,
              quantile_cont(l_quantity, 0.75) AS p75
            FROM lineitem GROUP BY l_returnflag
        """,
        "string_agg": """
            SELECT l_returnflag,
              string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
              CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_statuses
            FROM lineitem GROUP BY l_returnflag
        """,
        "embedding_centroids": """
            WITH x AS (
              SELECT label, unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings
            )
            SELECT label, CAST(pos - 1 AS BIGINT) AS pos,
              CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
                / 1e9 / COUNT(*) AS centroid
            FROM x GROUP BY label, pos
        """,
        "l2_normalize": """
            SELECT vec_id,
              sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS l2_norm,
              CAST(embedding[1] AS DOUBLE)
                / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS e0_normalized
            FROM embeddings
        """,
        "bigram_histogram": r"""
            WITH toks AS (
              SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents
            )
            SELECT bigram, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (
              SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                           i -> t[i] || ' ' || t[i + 1])) AS bigram
              FROM toks
            )
            GROUP BY bigram
            ORDER BY freq DESC, bigram
            LIMIT 50
        """,
        "funnel_conversion": """
            WITH e AS (
              SELECT user_id, event_type, make_timestamp(epoch_ns(ts)//1000) AS ts FROM events
            ), fv AS (
              SELECT user_id, MIN(ts) AS first_view FROM e
              WHERE event_type = 'view' GROUP BY user_id
            ), fp AS (
              SELECT e.user_id, MIN(e.ts) AS first_purchase
              FROM e JOIN fv ON e.user_id = fv.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
              GROUP BY e.user_id
            )
            SELECT fv.user_id, fv.first_view,
              COALESCE(fp.first_purchase, TIMESTAMP '1900-01-01') AS first_purchase,
              CAST(CASE WHEN fp.first_purchase IS NULL THEN 0 ELSE 1 END AS BIGINT) AS converted
            FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id
        """,
        "sql_yearly_revenue": f"""
            SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                   {_SQL_REVENUE} AS revenue
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY 1
        """,
        "merge_join": """
            SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_lines,
                   SUM(l_quantity) AS sum_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderstatus
        """,
        "union_accounts": """
            SELECT name, acctbal, kind FROM (
              SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
              UNION ALL
              SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier
            )
            ORDER BY acctbal DESC, name
            LIMIT 20
        """,
        "null_handling": """
            SELECT l_orderkey, l_linenumber,
              CAST(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 0 ELSE 1 END AS BIGINT) AS has_discount,
              COALESCE(NULLIF(l_discount, 0.0), -1.0) AS discount_or_neg1
            FROM lineitem
        """,
        "correlated_avg_qty": """
            WITH a AS (
              SELECT l_partkey AS pk, SUM(l_quantity)/COUNT(*) AS avg_qty
              FROM lineitem GROUP BY l_partkey
            )
            SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN a ON pk = l_partkey
            WHERE p_brand = 'Brand#11' AND l_quantity < 0.2 * avg_qty
        """,
        "intersect": """
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey AS nationkey FROM supplier
        """,
        "unpivot": """
            WITH w AS (
              SELECT o_orderstatus,
                MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
              FROM orders GROUP BY o_orderstatus
            )
            SELECT o_orderstatus, 'min_price' AS stat, min_price AS value FROM w
            UNION ALL
            SELECT o_orderstatus, 'max_price' AS stat, max_price AS value FROM w
        """,
        "map_functions": """
            SELECT o_orderkey, o_orderstatus AS status_v,
              CAST(2 AS BIGINT) AS map_size,
              'prio,status' AS keys_sorted
            FROM orders
        """,
        "array_functions": """
            SELECT vec_id,
              CAST(len(embedding) AS BIGINT) AS n_dims,
              CAST(list_max(embedding) AS DOUBLE) AS arr_max,
              CAST(list_min(embedding) AS DOUBLE) AS arr_min,
              ((CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE))
                + CAST(embedding[3] AS DOUBLE)) + CAST(embedding[4] AS DOUBLE) AS sum_first4,
              CAST(embedding[len(embedding)] AS DOUBLE) AS last_val
            FROM embeddings
        """,
        "regexp_functions": r"""
            SELECT c_custkey,
              CAST(regexp_extract(c_name, '(\d+)', 1) AS BIGINT) AS cust_num,
              regexp_replace(c_name, '\d', '#', 'g') AS masked,
              CAST(CASE WHEN regexp_matches(c_name, '^Customer#0*1?\d{2}$')
                   THEN 1 ELSE 0 END AS BIGINT) AS low_id
            FROM customer
        """,
        "rank_functions": """
            SELECT o_custkey, o_orderkey,
              CAST(dense_rank() OVER w AS BIGINT) AS drank,
              percent_rank() OVER w AS prank,
              CAST(ntile(4) OVER w AS BIGINT) AS quartile,
              cume_dist() OVER w AS cdist
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        """,
        "first_last_value": """
            SELECT o_custkey, o_orderkey,
              first_value(o_orderkey) OVER w AS first_ok,
              last_value(o_orderkey) OVER w AS last_ok,
              COALESCE(nth_value(o_orderkey, 2) OVER w, -1) AS second_ok
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """,
        "datetime_functions": """
            SELECT o_orderkey,
              CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
              CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
              CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
              CAST(EXTRACT(WEEK FROM o_orderdate) AS BIGINT) AS iso_week,
              CAST(EXTRACT(DOW FROM o_orderdate) + 1 AS BIGINT) AS dow,
              CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) AS plus30d
            FROM orders
        """,
        "order_count_distribution": """
            WITH per_cust AS (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
                ON c_custkey = o.o_custkey
              GROUP BY c_custkey
            )
            SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
            FROM per_cust GROUP BY c_count
        """,
        "disjunctive_filter": f"""
            SELECT {_SQL_REVENUE} AS revenue, CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
        """,
        "parts_supplier_count": """
            SELECT p_brand, p_type, p_size,
              CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM part JOIN lineitem ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#11' AND p_size IN (1,5,9,13,17,21,25,29)
            GROUP BY p_brand, p_type, p_size
        """,
        "high_balance_light_buyers": """
            WITH avg_bal AS (
              SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS ab
              FROM customer WHERE c_acctbal > 0
            ), oc AS (
              SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
            )
            SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
              CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
            FROM customer, avg_bal
            JOIN oc ON o_custkey = c_custkey
            WHERE c_acctbal > ab AND n_orders < 8
            GROUP BY c_nationkey
        """,
        "nation_value_share": """
            WITH t AS (
              SELECT CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_bal
              FROM supplier
            )
            SELECT n_name, value FROM (
              SELECT s_nationkey,
                CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS value
              FROM supplier GROUP BY s_nationkey
            ), t
            JOIN nation ON s_nationkey = n_nationkey
            WHERE value > 0.02 * total_bal
        """,
        "nation_trade_pairs": f"""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS ship_year,
              {_SQL_REVENUE} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name IN ('NATION_1','NATION_2')
              AND n2.n_name IN ('NATION_1','NATION_2')
              AND n1.n_name <> n2.n_name
            GROUP BY 1, 2, 3
        """,
        "mode_per_group": """
            SELECT source, lang AS top_lang, n FROM (
              SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
                row_number() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rn
              FROM documents GROUP BY source, lang
            ) WHERE rn = 1
        """,
        "ngram_jaccard_adjacent": f"""
            WITH sh AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  generate_series(1, greatest(len(string_split({_NORM_TEXT}, ' ')) - 2, 1)),
                  i -> array_to_string(string_split({_NORM_TEXT}, ' ')[i:i+2], ' ')
                )) AS s
              FROM documents
            )
            SELECT a.doc_id,
              CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        """,
        "near_dup_cosine_exact": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
        """,
        "near_dup_cosine_lsh": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                   TRUE AS recall_ok, TRUE AS containment_ok
            FROM p
        """,
        "ivf_topk": """
            SELECT vec_id AS query_id, TRUE AS recall_ok
            FROM embeddings WHERE vec_id IN (0, 1, 2)
        """,
        "corr_stats": """
            -- decimal sums go DECIMAL -> VARCHAR -> DOUBLE: DuckDB's direct
            -- int128 decimal->double cast is not correctly rounded (1 ulp off
            -- on ~13-digit values), while its string parse and Spark's
            -- BigDecimal cast both round to nearest.
            WITH m AS (
              SELECT l_returnflag,
                CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
                CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sz,
                CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sxy,
                CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sxx,
                CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS syy,
                CAST(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS szz
              FROM lineitem GROUP BY l_returnflag
            )
            SELECT l_returnflag,
              (n * sxy - sx * sy)
                / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price,
              sqrt((n * syy - sy * sy) / (n * (n - 1.0))) AS stddev_price,
              (n * szz - sz * sz) / (n * (n - 1.0)) AS var_discount
            FROM m
        """,
        "approx_distinct": """
            SELECT l_returnflag,
              CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
              TRUE AS approx_ok
            FROM lineitem GROUP BY l_returnflag
        """,
        "approx_percentile": """
            WITH r AS (
              SELECT l_returnflag, l_extendedprice,
                row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
                COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
              FROM lineitem
            )
            SELECT l_returnflag,
              MIN(CASE WHEN rn >= ceil(cnt * 0.5) THEN l_extendedprice END) AS p50_exact,
              MIN(CASE WHEN rn >= ceil(cnt * 0.95) THEN l_extendedprice END) AS p95_exact,
              TRUE AS p50_ok, TRUE AS p95_ok
            FROM r GROUP BY l_returnflag
        """,
        "media_metadata": """
            SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS media_bytes,
              sha256(text) AS media_sha256,
              CASE
                WHEN upper(hex(encode(text)))[1:8] = '89504E47' THEN 'png'
                WHEN upper(hex(encode(text)))[1:6] = 'FFD8FF' THEN 'jpeg'
                WHEN upper(hex(encode(text)))[1:8] = '47494638' THEN 'gif'
                WHEN upper(hex(encode(text)))[1:8] = '52494646' THEN 'riff'
                ELSE 'unknown'
              END AS media_format
            FROM documents
        """,
        "simple_filter_agg": """
            SELECT
              CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                       * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
              CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
              AND l_discount BETWEEN 0.03 AND 0.05
              AND l_quantity < 24
        """,
        "string_functions": """
            SELECT c_custkey,
              upper(lower(c_name)[1:1]) || lower(c_name)[2:] AS titled,
              lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
              translate(c_name, '#0', '-O') AS translated,
              CAST(levenshtein(c_name, 'Customer#000000000') AS BIGINT) AS edit_dist,
              split_part(c_name, '#', 2) AS num_part,
              repeat('ab', 3) AS repeated,
              reverse(split_part(c_name, '#', 1)) AS reversed_word
            FROM customer
        """,
        "math_functions": """
            SELECT l_orderkey, l_linenumber,
              abs(l_discount - 0.04) AS abs_dev,
              CAST(sign(l_discount - 0.04) AS DOUBLE) AS dev_sign,
              sqrt(l_extendedprice) AS sqrt_price,
              CAST(ceil(l_extendedprice * 1.1) AS BIGINT) AS ceil_110,
              CAST(floor(l_quantity / 7.0) AS BIGINT) AS floor_q7,
              l_orderkey % 7 AS key_mod7,
              pow(l_quantity, 2) AS qty_sq
            FROM lineitem
        """,
        "bitwise_agg": """
            SELECT l_returnflag,
              bit_and(CAST(l_linenumber AS BIGINT)) AS and_linenum,
              bit_or(CAST(l_linenumber AS BIGINT)) AS or_linenum,
              bit_xor(l_orderkey) AS xor_orderkey
            FROM lineitem GROUP BY l_returnflag
        """,
        "sentence_split": r"""
            SELECT doc_id, sentence,
              CAST(len(string_split_regex(sentence, '\s+')) AS BIGINT) AS n_tokens
            FROM (
              SELECT doc_id, trim(u.s) AS sentence
              FROM documents d,
                   LATERAL (SELECT unnest(string_split_regex(d.text, '[.!?]+')) AS s) u
            )
            WHERE length(sentence) > 0
        """,
        "higher_order_fns": """
            SELECT vec_id,
              CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
              CAST(CASE WHEN len(list_filter(embedding, x -> x < -2.0)) > 0
                   THEN 1 ELSE 0 END AS BIGINT) AS has_extreme_neg,
              CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
            FROM embeddings
        """,
        "returned_item_revenue": f"""
            SELECT c_custkey, c_name, n_name, {_SQL_REVENUE} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "market_share": """
            WITH j AS (
              SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year, n_name,
                CAST(l_extendedprice AS DECIMAL(18,4))
                  * CAST(1.0 - l_discount AS DECIMAL(18,4)) AS rev
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
            )
            SELECT o_year,
              CAST(CAST(SUM(CASE WHEN n_name = 'NATION_3' THEN rev END) AS VARCHAR) AS DOUBLE) AS nation_revenue,
              CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS total_revenue,
              CAST(CAST(SUM(CASE WHEN n_name = 'NATION_3' THEN rev END) AS VARCHAR) AS DOUBLE)
                / CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS mkt_share
            FROM j GROUP BY o_year
        """,
        "range_frame_window": """
            SELECT o_custkey, o_orderkey,
              CAST(COUNT(*) OVER w AS BIGINT) AS n_last30d,
              CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE) AS spend_last30d
            FROM orders
            WINDOW w AS (
              PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
              RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
            )
        """,
        "struct_functions": """
            SELECT o_orderkey, o_orderstatus AS status_f, 'base' AS tag,
                   o_totalprice AS amount
            FROM orders
            UNION ALL
            SELECT o_orderkey, o_orderstatus AS status_f, 'with_fee' AS tag,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(6,2)) AS DOUBLE) AS amount
            FROM orders
        """,
        "date_format": """
            SELECT o_orderkey,
              strftime(o_orderdate, '%Y-%m') AS ym,
              strftime(o_orderdate, '%Y-%m-%d') AS ymd,
              CAST(EXTRACT(DOY FROM o_orderdate) AS BIGINT) AS doy,
              date_trunc('week', o_orderdate) AS week_start
            FROM orders
        """,
        "salted_join": """
            SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(l_quantity) AS sum_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderstatus
        """,
        "map_explode": """
            SELECT o_orderkey, 'status' AS k, o_orderstatus AS v FROM orders
            UNION ALL
            SELECT o_orderkey, 'prio' AS k, o_orderpriority AS v FROM orders
        """,
        "arrays_zip": """
            SELECT vec_id, CAST(pos - 1 AS BIGINT) AS pos,
              CAST(embedding[pos] AS DOUBLE)
                * CAST(embedding[len(embedding) - pos + 1] AS DOUBLE) AS prod
            FROM (
              SELECT vec_id, embedding,
                     unnest(generate_series(1, 4)) AS pos
              FROM embeddings
            )
        """,
        "encoding_functions": """
            SELECT c_custkey,
              upper(hex(encode(c_name))) AS name_hex,
              c_name AS roundtrip,
              to_base64(encode(c_name)) AS name_b64,
              CAST(ascii(c_name) AS BIGINT) AS first_code,
              md5(c_name) AS name_md5
            FROM customer
        """,
        "top_supplier": f"""
            WITH rev AS (
              SELECT l_suppkey, {_SQL_REVENUE} AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """,
        "dedup_transitive": """
            WITH RECURSIVE p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM documents a
              JOIN documents b ON b.doc_id = a.doc_id + 1 AND b.lang = a.lang
            ), sym AS (
              SELECT id_a AS s, id_b AS d FROM p
              UNION ALL SELECT id_b, id_a FROM p
            ), reach(n, r) AS (
              SELECT s, s FROM sym
              UNION
              SELECT sym.s, reach.r FROM sym JOIN reach ON sym.d = reach.n
            )
            SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n
        """,
        "limit_offset": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 10 OFFSET 5
        """,
        "min_cost_supplier": """
            WITH eu AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
            ), eucost AS (
              SELECT l_partkey, s_name, s_acctbal, n_name,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
                  AS unit_cost
              FROM lineitem
              JOIN eu ON l_suppkey = s_suppkey
              WHERE l_partkey IN (
                SELECT p_partkey FROM part
                WHERE p_size <= 10 AND p_type = 'STANDARD'
              )
              GROUP BY l_partkey, s_name, s_acctbal, n_name
            ), m AS (
              SELECT l_partkey AS mk, MIN(unit_cost) AS min_cost
              FROM eucost GROUP BY 1
            )
            SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, unit_cost
            FROM eucost JOIN m ON l_partkey = mk AND unit_cost = min_cost
        """,
        "priority_ship_lag": """
            SELECT l_returnflag,
              CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
            GROUP BY l_returnflag
        """,
        "excess_suppliers": """
            SELECT s_name, n_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'sma%'
              )
              GROUP BY l_suppkey, l_partkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 90
            )
        """,
        "pii_redact": """
            WITH aug AS (
              SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-01' || CAST(doc_id % 100 AS VARCHAR)
                  || ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS text
              FROM documents
            )
            SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g'),
                '\\+\\d[\\d-]{6,}\\d', '[PII]', 'g'),
                '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '[PII]', 'g') AS text,
              CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
              CAST(len(regexp_extract_all(text,
                '\\+\\d[\\d-]{6,}\\d')) AS BIGINT) AS n_phone,
              CAST(len(regexp_extract_all(text,
                '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b')) AS BIGINT) AS n_ipv4
            FROM aug
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
              FROM documents
            ), ft AS (
              SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks WHERE length(token) >= 4
              GROUP BY doc_id, token
            ), d AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS df_docs
              FROM ft GROUP BY token
            ), n AS (
              SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
            ), s AS (
              SELECT doc_id, ft.token, tf, df_docs,
                row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY tf * ln(n_docs / df_docs) DESC, tf DESC, ft.token
                ) AS rank
              FROM ft JOIN d USING (token), n
            )
            SELECT doc_id, token, tf, df_docs, rank FROM s WHERE rank <= 3
        """,
        "stratified_split": """
            WITH s AS (
              SELECT doc_id, lang || '/' || source AS stratum,
                ((doc_id % 1000003) * 2654435761) % 1000003 AS h
              FROM documents
            ), r AS (
              SELECT doc_id, stratum,
                row_number() OVER (PARTITION BY stratum ORDER BY h, doc_id) AS rn,
                COUNT(*) OVER (PARTITION BY stratum) AS n
              FROM s
            )
            SELECT doc_id, stratum,
              CASE WHEN rn <= CEIL(n * 0.8) THEN 'train' ELSE 'test' END AS split
            FROM r
        """,
        "chunk_overlap": """
            WITH t AS (
              SELECT doc_id,
                string_split_regex(lower(trim(text)), '\\s+') AS toks
              FROM documents
            ), st AS (
              SELECT doc_id, toks, len(toks) AS n FROM t
            ), ex AS (
              SELECT doc_id, toks, n,
                unnest(CASE WHEN n <= 32 THEN [CAST(0 AS BIGINT)]
                       ELSE generate_series(0, n - 32, 24) END) AS s
              FROM st
            )
            SELECT doc_id,
              CAST(s // 24 AS BIGINT) AS chunk_index,
              CAST(s AS BIGINT) AS start,
              array_to_string(list_slice(toks, s + 1, s + 32), ' ') AS chunk_text,
              CAST(len(list_slice(toks, s + 1, s + 32)) AS BIGINT) AS chunk_len
            FROM ex
        """,
        "quantize_embeddings": """
            WITH sc AS (
              -- CAST to DOUBLE: DuckDB keeps FLOAT / 127.0 in FLOAT, but
              -- Spark promotes float / double-literal to double.
              SELECT vec_id, embedding,
                CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
                  / 127.0 AS scale
              FROM embeddings
            )
            SELECT vec_id, scale,
              array_to_string(
                CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> CAST(floor(x / scale + 0.5) AS INTEGER))
                END, ',') AS codes_csv,
              CAST(list_max(
                list_transform(
                  list_zip(embedding,
                    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                      ELSE list_transform(embedding,
                             x -> CAST(floor(x / scale + 0.5) AS INTEGER))
                    END),
                  p -> abs(p[1] - p[2] * scale))) AS DOUBLE) AS max_abs_err
            FROM sc
        """,
        "adaptive_quality": """
            WITH feats AS (
              SELECT doc_id,
                CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+'))
                     END AS BIGINT) AS n_tokens
              FROM documents
            ), med AS (
              SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY n_tokens)
                AS med_tokens
              FROM feats
            )
            SELECT doc_id, n_tokens, med_tokens
            FROM feats, med WHERE n_tokens >= med_tokens
        """,
        "apply_changes": """
            WITH chg AS (
              SELECT o_custkey AS k, o_orderkey AS ts,
                CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
                'upd-' || CAST(o_custkey AS VARCHAR) AS new_name,
                o_totalprice AS new_bal,
                row_number() OVER (
                  PARTITION BY o_custkey ORDER BY o_orderkey DESC
                ) AS rn
              FROM orders
            ), latest AS (
              SELECT * FROM chg WHERE rn = 1
            )
            SELECT COALESCE(c.c_custkey, l.k) AS c_custkey,
              CASE WHEN l.op IS NULL THEN c.c_name ELSE l.new_name END AS c_name,
              CASE WHEN l.op IS NULL THEN c.c_acctbal ELSE l.new_bal END AS c_acctbal
            FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.k
            WHERE l.op IS NULL OR l.op <> 'D'
        """,
        "quantized_rerank": """
            SELECT vec_id AS query_id, TRUE AS recall_ok
            FROM embeddings WHERE vec_id IN (0, 1, 2)
        """,
        "epoch_shuffle": """
            WITH h AS (
              SELECT doc_id,
                ((doc_id % 1000003 + 2 * 7919) * 2654435761) % 1000003
                  AS sort_key
              FROM documents
            )
            SELECT doc_id, sort_key,
              row_number() OVER (ORDER BY sort_key, doc_id) AS pos
            FROM h
        """,
        "resample_ffill": """
            WITH obs AS (
              SELECT user_id,
                (epoch_ns(ts) // 1000000000) // 3600 AS oslot,
                value,
                row_number() OVER (
                  PARTITION BY user_id, (epoch_ns(ts) // 1000000000) // 3600
                  ORDER BY epoch_ns(ts) // 1000000000 DESC, value DESC
                ) AS rn
              FROM events
            ), d AS (
              SELECT user_id, oslot, value,
                lead(oslot) OVER (PARTITION BY user_id ORDER BY oslot) AS nxt
              FROM obs WHERE rn = 1
            ), g AS (
              SELECT user_id, value, oslot,
                unnest(generate_series(oslot, COALESCE(nxt - 1, oslot))) AS slot
              FROM d
            )
            SELECT user_id, slot,
              make_timestamp(slot * 3600 * 1000000) AS grid_ts,
              value, slot = oslot AS is_observed
            FROM g
        """,
        "profile_table": """
            SELECT 'c_custkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(*) - COUNT(c_custkey) AS BIGINT) AS n_nulls,
              CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
              CAST(MIN(c_custkey) AS VARCHAR) AS min_str,
              CAST(MAX(c_custkey) AS VARCHAR) AS max_str
            FROM customer
            UNION ALL
            SELECT 'c_name', CAST(COUNT(*) AS BIGINT),
              CAST(COUNT(*) - COUNT(c_name) AS BIGINT),
              CAST(COUNT(DISTINCT c_name) AS BIGINT),
              MIN(c_name), MAX(c_name)
            FROM customer
            UNION ALL
            SELECT 'c_nationkey', CAST(COUNT(*) AS BIGINT),
              CAST(COUNT(*) - COUNT(c_nationkey) AS BIGINT),
              CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
              CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
            FROM customer
            UNION ALL
            SELECT 'c_mktsegment', CAST(COUNT(*) AS BIGINT),
              CAST(COUNT(*) - COUNT(c_mktsegment) AS BIGINT),
              CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT),
              MIN(c_mktsegment), MAX(c_mktsegment)
            FROM customer
        """,
        "sliding_hourly": """
            WITH t AS (
              SELECT event_type,
                make_timestamp(
                  ((epoch_ns(ts) // 1000000000) // 1800 * 1800) * 1000000
                ) AS w0
              FROM events
            ), w AS (
              SELECT event_type,
                unnest([w0, w0 - INTERVAL 30 MINUTE]) AS window_start
              FROM t
            )
            SELECT window_start,
              window_start + INTERVAL 1 HOUR AS window_end,
              event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM w GROUP BY 1, 2, 3
        """,
        "scd2_history": """
            SELECT o_custkey AS k, o_orderkey AS seq, o_totalprice AS price,
              o_orderkey AS valid_from,
              lead(o_orderkey) OVER (
                PARTITION BY o_custkey ORDER BY o_orderkey
              ) AS valid_to,
              lead(o_orderkey) OVER (
                PARTITION BY o_custkey ORDER BY o_orderkey
              ) IS NULL AS is_current
            FROM orders
        """,
        "group_percentiles": """
            SELECT o_orderpriority,
              percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
              percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90
            FROM orders GROUP BY o_orderpriority
        """,
        "dedup_incremental": """
            WITH ref AS (
              SELECT DISTINCT
                md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
              FROM documents WHERE doc_id < 300
            ), newb AS (
              SELECT doc_id, text FROM documents WHERE doc_id >= 300
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
            )
            SELECT doc_id FROM newb
            WHERE md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
              NOT IN (SELECT fp FROM ref)
        """,
        "set_ops_all": """
            WITH a AS (
              SELECT l_orderkey, l_returnflag FROM lineitem
              WHERE l_quantity >= 25
            ), b AS (
              SELECT l_orderkey, l_returnflag FROM lineitem
              WHERE l_linenumber <= 2
            ), ea AS (
              SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_except_all
              FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
              GROUP BY 1
            ), ia AS (
              SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_intersect_all
              FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
              GROUP BY 1
            )
            SELECT COALESCE(ea.l_returnflag, ia.l_returnflag) AS l_returnflag,
              CAST(COALESCE(n_except_all, 0) AS BIGINT) AS n_except_all,
              CAST(COALESCE(n_intersect_all, 0) AS BIGINT) AS n_intersect_all
            FROM ea FULL OUTER JOIN ia ON ea.l_returnflag = ia.l_returnflag
        """,
        "ewma": _ewma_oracle_sql(alpha=0.5, depth=8),
        "benford_digits": """
            WITH counts AS (
              SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS digit,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM orders GROUP BY 1
            )
            SELECT digit, n,
              CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share,
              ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9) AS benford_share
            FROM counts
        """,
        "skyline_parts": """
            SELECT a.p_brand, a.p_partkey, a.p_retailprice, a.p_size
            FROM part a
            WHERE NOT EXISTS (
              SELECT 1 FROM part b
              WHERE b.p_brand = a.p_brand
                AND b.p_retailprice <= a.p_retailprice
                AND b.p_size >= a.p_size
                AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
            )
        """,
        "chi_square": f"""
            WITH e AS (
              SELECT event_type, CAST(hour({ev_ts}) AS INTEGER) AS hour_bucket
              FROM events
            ), obs AS (
              SELECT event_type, hour_bucket, COUNT(*) AS observed
              FROM e GROUP BY 1, 2
            ), rt AS (
              SELECT event_type, SUM(observed) AS rt FROM obs GROUP BY 1
            ), ct AS (
              SELECT hour_bucket, SUM(observed) AS ct FROM obs GROUP BY 1
            ), tot AS (SELECT SUM(observed) AS n FROM obs)
            SELECT o.event_type, o.hour_bucket,
              CAST(o.observed AS BIGINT) AS observed,
              CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
              (CAST(o.observed AS DOUBLE)
                 - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(o.observed AS DOUBLE)
                 - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                AS contribution
            FROM obs o
            JOIN rt USING (event_type) JOIN ct USING (hour_bucket) CROSS JOIN tot
        """,
        "yoy_growth": """
            WITH y AS (
              SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              FROM orders GROUP BY 1
            )
            SELECT o_year, revenue,
              revenue / lag(revenue) OVER (ORDER BY o_year) - 1.0 AS yoy_growth
            FROM y
        """,
        "run_lengths": f"""
            WITH e AS (
              SELECT user_id, event_type, {ev_ts} AS mts, event_id FROM events
            ), m AS (
              SELECT user_id, event_type,
                row_number() OVER (PARTITION BY user_id ORDER BY mts, event_id)
              - row_number() OVER (PARTITION BY user_id, event_type ORDER BY mts, event_id)
                AS island
              FROM e
            ), runs AS (
              SELECT user_id, event_type, island, CAST(COUNT(*) AS BIGINT) AS run_len
              FROM m GROUP BY 1, 2, 3
            )
            SELECT event_type, run_len, CAST(COUNT(*) AS BIGINT) AS n_runs
            FROM runs GROUP BY 1, 2
        """,
        "bigram_condprob": r"""
            WITH toks AS (
              SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents
            ), pairs AS (
              SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                           i -> struct_pack(w1 := t[i], w2 := t[i + 1])),
                            recursive := true)
              FROM toks
            ), counts AS (
              SELECT w1, w2, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2
            )
            SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt,
              CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY w1) AS DOUBLE) AS p
            FROM counts
            ORDER BY cnt DESC, w1, w2
            LIMIT 50
        """,
        "outlier_zscore": """
            WITH m AS (
              SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                              * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                     AS DOUBLE) AS sxx
              FROM events GROUP BY 1
            )
            SELECT event_id, event_type, value,
              (value - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)) AS zscore
            FROM events JOIN m USING (event_type)
            WHERE sxx / n - (sx / n) * (sx / n) > 0.0
              AND ABS((value - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n))) > 3.0
        """,
        "tdigest_quantiles": """
            SELECT event_type, CAST(0.5 AS DOUBLE) AS q,
                   quantile_cont(value, 0.5) AS exact_value,
                   TRUE AS within_bound
            FROM events GROUP BY event_type
            UNION ALL
            SELECT event_type, CAST(0.9 AS DOUBLE) AS q,
                   quantile_cont(value, 0.9) AS exact_value,
                   TRUE AS within_bound
            FROM events GROUP BY event_type
        """,
        "upsert_aggregate": """
            SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
              MIN(o_totalprice) AS min_total,
              MAX(o_totalprice) AS max_total,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS avg_total
            FROM orders GROUP BY 1
        """,
        "event_paths": f"""
            WITH e AS (
              SELECT user_id, event_type, {ev_ts} AS mts, event_id FROM events
            ), p AS (
              SELECT event_type AS e1,
                lead(event_type, 1) OVER w AS e2,
                lead(event_type, 2) OVER w AS e3
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY mts, event_id)
            )
            SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
            FROM p WHERE e3 IS NOT NULL
            GROUP BY 1, 2, 3
            ORDER BY n DESC, e1, e2, e3
            LIMIT 30
        """,
        "session_window_native": f"""
            WITH e AS (
              SELECT user_id, {ev_ts} AS mts FROM events
            ), m AS (
              SELECT user_id, mts,
                CASE WHEN lag(mts) OVER (PARTITION BY user_id ORDER BY mts) IS NULL
                       OR mts - lag(mts) OVER (PARTITION BY user_id ORDER BY mts)
                          >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
              FROM e
            ), s AS (
              SELECT user_id, mts,
                SUM(brk) OVER (PARTITION BY user_id ORDER BY mts
                               ROWS UNBOUNDED PRECEDING) AS sid
              FROM m
            )
            SELECT MIN(mts) AS session_start,
                   MAX(mts) + INTERVAL 30 MINUTE AS session_end,
                   user_id,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM s GROUP BY user_id, sid
        """,
        "rolling_anomaly": f"""
            WITH e AS (
              SELECT event_id, user_id, {ev_ts} AS mts, value FROM events
            ), s AS (
              SELECT event_id, user_id, value,
                COUNT(*) OVER w AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sx,
                CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                              * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                     OVER w AS DOUBLE) AS sxx
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY mts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
            ), z AS (
              SELECT event_id, user_id, value, n,
                CASE WHEN sxx / CAST(n AS DOUBLE)
                          - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)) > 0.0
                     THEN (value - sx / CAST(n AS DOUBLE))
                          / sqrt(sxx / CAST(n AS DOUBLE)
                                 - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))
                END AS roll_z
              FROM s
            )
            SELECT event_id, user_id, value, roll_z
            FROM z
            WHERE n >= 10 AND roll_z IS NOT NULL AND ABS(roll_z) > 2.5
        """,
        "dedup_window": f"""
            WITH e AS (
              SELECT event_id, user_id, event_type, {ev_ts} AS mts,
                     epoch_us({ev_ts}) AS um
              FROM events
            ), b AS (
              SELECT event_id, user_id, event_type, mts,
                     um - (um % 3600000000) AS bucket
              FROM e
            ), r AS (
              SELECT event_id, user_id, event_type, bucket,
                row_number() OVER (PARTITION BY user_id, event_type, bucket
                                   ORDER BY mts, event_id) AS rn
              FROM b
            )
            SELECT event_id, user_id, event_type,
                   make_timestamp(bucket) AS window_start
            FROM r WHERE rn = 1
        """,
        "bfs_supply_chain": """
            WITH e0 AS (
              SELECT DISTINCT CAST(l_partkey AS BIGINT) AS s,
                              CAST(-l_suppkey AS BIGINT) - 1 AS d
              FROM lineitem
            ), e AS (
              SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0
            ), r0 AS (
              SELECT CAST(-2 AS BIGINT) AS node, CAST(0 AS INTEGER) AS hop
            ), f1 AS (
              SELECT e.d AS node, CAST(1 AS INTEGER) AS hop
              FROM r0 JOIN e ON e.s = r0.node WHERE r0.hop = 0
            ), r1 AS (
              SELECT node, MIN(hop) AS hop FROM (
                SELECT * FROM r0 UNION ALL SELECT * FROM f1
              ) GROUP BY node
            ), f2 AS (
              SELECT e.d AS node, CAST(2 AS INTEGER) AS hop
              FROM r1 JOIN e ON e.s = r1.node WHERE r1.hop = 1
            ), r2 AS (
              SELECT node, MIN(hop) AS hop FROM (
                SELECT * FROM r1 UNION ALL SELECT * FROM f2
              ) GROUP BY node
            ), f3 AS (
              SELECT e.d AS node, CAST(3 AS INTEGER) AS hop
              FROM r2 JOIN e ON e.s = r2.node WHERE r2.hop = 2
            ), r3 AS (
              SELECT node, MIN(hop) AS hop FROM (
                SELECT * FROM r2 UNION ALL SELECT * FROM f3
              ) GROUP BY node
            )
            SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(node) AS BIGINT) AS node_checksum
            FROM r3 GROUP BY hop
        """,
        "pq_ann": """
            SELECT CAST(3 AS INTEGER) AS n_queries, TRUE AS recall_ok
        """,
        "null_safe_join": """
            WITH even AS (
              SELECT NULLIF(event_type, 'view') AS k,
                     CAST(COUNT(*) AS BIGINT) AS n_even
              FROM events WHERE event_id % 2 = 0 GROUP BY 1
            ), odd AS (
              SELECT NULLIF(event_type, 'view') AS k,
                     CAST(COUNT(*) AS BIGINT) AS n_odd
              FROM events WHERE event_id % 2 = 1 GROUP BY 1
            )
            SELECT even.k, n_even, n_odd
            FROM even JOIN odd ON even.k IS NOT DISTINCT FROM odd.k
        """,
        "collation_group": """
            WITH s AS (
              SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END AS s
              FROM documents
            )
            SELECT lower(MIN(s)) AS source_norm, CAST(COUNT(*) AS BIGINT) AS n
            FROM s GROUP BY s COLLATE NOCASE
        """,
        "sliding_distinct": f"""
            WITH du AS (
              SELECT DISTINCT CAST({ev_ts} AS DATE) AS day, user_id FROM events
            ), days AS (
              SELECT DISTINCT day FROM du
            ), ex AS (
              SELECT du.day + CAST(o AS INTEGER) AS day, user_id
              FROM du CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o) offs
            )
            SELECT CAST(ex.day AS VARCHAR) AS day,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
                   TRUE AS sketch_ok
            FROM ex JOIN days ON ex.day = days.day
            GROUP BY ex.day
        """,
        "ivfpq_ann": """
            SELECT CAST(0 AS INTEGER) AS query_id, TRUE AS recall_ok
        """,
        "sql_scripting": """
            WITH cand AS (
              SELECT k, 100000.0 * pow(2.0, k) AS thr
              FROM (SELECT unnest(generate_series(0, 30)) AS k)
            ), counted AS (
              SELECT k, thr,
                (SELECT COUNT(*) FROM orders WHERE o_totalprice > cand.thr) AS c
              FROM cand
            ), conv AS (
              SELECT thr FROM counted WHERE c <= 3000 ORDER BY k LIMIT 1
            )
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_above,
                   conv.thr AS threshold
            FROM orders, conv WHERE o_totalprice > conv.thr
            GROUP BY o_orderpriority, conv.thr
        """,
        "phash_near_dup": """
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(0 AS INTEGER) AS hamming
            FROM documents a JOIN documents b
              ON a.doc_id % 100 = b.doc_id % 100 AND a.doc_id < b.doc_id
        """,
        "interval_overlap": f"""
            WITH e AS (
              SELECT user_id, event_id, event_type, epoch_us({ev_ts}) AS um
              FROM events
            ), v AS (
              SELECT user_id, event_id AS id_v, um AS vs, um + 7200000000 AS ve
              FROM e WHERE event_type = 'view'
            ), p AS (
              SELECT user_id, event_id AS id_p, um AS ps, um + 7200000000 AS pe
              FROM e WHERE event_type = 'purchase'
            )
            SELECT v.user_id, id_v, id_p
            FROM v JOIN p ON v.user_id = p.user_id
             AND v.vs < p.pe AND p.ps < v.ve
        """,
        "running_distinct": f"""
            WITH f AS (
              SELECT event_type, user_id, MIN(CAST({ev_ts} AS DATE)) AS first_day
              FROM events GROUP BY 1, 2
            ), n AS (
              SELECT event_type, first_day AS day, COUNT(*) AS n_new
              FROM f GROUP BY 1, 2
            )
            SELECT event_type, CAST(day AS VARCHAR) AS day,
              CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY day
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS cum_distinct
            FROM n
        """,
        "table_diff": """
            SELECT 'removed' AS status,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
            FROM orders WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT 'changed', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(o_orderkey) AS BIGINT)
            FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 31 = 0
            UNION ALL
            SELECT 'unchanged', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(o_orderkey) AS BIGINT)
            FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 31 <> 0
            UNION ALL
            SELECT 'added', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(o_orderkey + 10000000) AS BIGINT)
            FROM orders WHERE o_orderkey % 101 = 0
        """,
        "asof_nearest": f"""
            WITH e AS (
              SELECT user_id, event_id, event_type, epoch_us({ev_ts}) AS um
              FROM events
            ), v AS (
              SELECT user_id, event_id AS id_v, um AS um_v
              FROM e WHERE event_type = 'view'
            ), p0 AS (
              SELECT user_id, um AS um_p, MAX(event_id) AS id_p
              FROM e WHERE event_type = 'purchase' GROUP BY 1, 2
            ), j AS (
              SELECT v.user_id, id_v, um_v, id_p, um_p,
                ABS(um_v - um_p) AS d,
                row_number() OVER (
                  PARTITION BY id_v
                  ORDER BY ABS(um_v - um_p),
                           CASE WHEN um_p <= um_v THEN 0 ELSE 1 END
                ) AS rn
              FROM v JOIN p0 USING (user_id)
            ), best AS (
              SELECT id_v, CASE WHEN d <= 7200000000 THEN id_p END AS id_p
              FROM j WHERE rn = 1
            )
            SELECT v.user_id, v.id_v, best.id_p
            FROM v LEFT JOIN best ON v.id_v = best.id_v
        """,
        "arrow_udf": """
            SELECT event_id, value * 0.3 + CAST(user_id % 7 AS DOUBLE) * 0.1 AS blended
            FROM events
        """,
        "aes_roundtrip": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok,
                   TRUE AS all_ok
            FROM documents
        """,
        "balanced_buckets": """
            SELECT CAST(8 AS BIGINT) AS n_buckets,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   TRUE AS balanced_ok
            FROM events
        """,
        "feature_hashing": r"""
            WITH toks AS (
              SELECT doc_id,
                unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
              FROM documents
            )
            SELECT doc_id,
              CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 32 AS bucket,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM toks WHERE tok <> ''
            GROUP BY 1, 2
        """,
        "differential_join": """
            WITH d AS (
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
              FROM events GROUP BY 1
            )
            SELECT e.event_id, e.user_id, d.n_events
            FROM events e JOIN d USING (user_id)
        """,
        "gini": """
            WITH r AS (
              SELECT o_orderpriority,
                CAST(o_totalprice AS DECIMAL(18,2)) AS x,
                row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY CAST(o_totalprice AS DECIMAL(18,2)))
                  AS i
              FROM orders
            ), a AS (
              SELECT o_orderpriority,
                CAST(COUNT(*) AS DOUBLE) AS n,
                -- string roundtrip: DuckDB's direct DECIMAL->DOUBLE cast
                -- is 1 ulp off on 13+ digit unscaled values (surfaced by
                -- the sf0.1 scale smoke on six ~ 2e16); the string path
                -- is correctly rounded and matches Spark's BigDecimal.
                CAST(CAST(SUM(x) AS STRING) AS DOUBLE) AS sx,
                CAST(CAST(SUM(CAST(i * x AS DECIMAL(38,2))) AS STRING) AS DOUBLE) AS six
              FROM r GROUP BY 1
            )
            SELECT o_orderpriority,
              CAST(n AS BIGINT) AS n_rows,
              2.0 * six / (n * sx) - (n + 1.0) / n AS gini
            FROM a
        """,
        "token_entropy": r"""
            WITH toks AS (
              SELECT lang,
                unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
              FROM documents
            ), counts AS (
              SELECT lang, tok, COUNT(*) AS c
              FROM toks WHERE tok <> '' GROUP BY 1, 2
            ), a AS (
              SELECT lang,
                CAST(SUM(c) AS BIGINT) AS n_tokens,
                CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT))
                     AS BIGINT) AS s
              FROM counts GROUP BY 1
            )
            SELECT lang, n_tokens,
              (CAST(CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                    AS DOUBLE)
               - CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1e-6
                AS entropy_nats
            FROM a
        """,
        "boolean_aggs": """
            SELECT o_orderpriority,
              bool_and(o_totalprice > 900) AS all_above_900,
              bool_or(o_orderstatus = 'F') AS any_finished,
              CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big
            FROM orders GROUP BY 1
        """,
        "bigram_logprob": r"""
            WITH toks AS (
              SELECT doc_id,
                string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
              FROM documents
            ), pairs AS (
              SELECT doc_id,
                unnest(list_transform(generate_series(1, len(t) - 1),
                                      i -> struct_pack(w1 := t[i], w2 := t[i + 1])),
                       recursive := true)
              FROM toks
            ), p AS (
              SELECT doc_id, w1, w2 FROM pairs WHERE w1 <> '' AND w2 <> ''
            ), tf AS (
              SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
              FROM p GROUP BY 1, 2, 3
            ), corpus AS (
              SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12 FROM tf GROUP BY 1, 2
            ), c1 AS (
              SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM corpus GROUP BY 1
            ), v AS (
              SELECT COUNT(*) AS vs FROM (
                SELECT w1 AS w FROM p UNION SELECT w2 AS w FROM p
              )
            ), lp AS (
              SELECT w1, w2,
                CAST(floor(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + vs AS DOUBLE))
                           * 1000000.0) AS BIGINT) AS lp_micro
              FROM corpus JOIN c1 USING (w1) CROSS JOIN v
            )
            SELECT tf.doc_id,
              CAST(SUM(tf) AS BIGINT) AS n_bigrams,
              CAST(-SUM(tf * lp_micro) AS BIGINT) AS surprisal_micro,
              CAST(-SUM(tf * lp_micro) AS DOUBLE) / 1000000.0
                / CAST(SUM(tf) AS DOUBLE) AS mean_nll
            FROM tf JOIN lp USING (w1, w2)
            GROUP BY tf.doc_id
        """,
        "quantile_transform": """
            SELECT event_id, event_type, value,
              percent_rank() OVER (PARTITION BY event_type ORDER BY value)
                AS q_uniform
            FROM events
        """,
        "winsorize": """
            WITH b AS (
              SELECT event_type,
                quantile_cont(value, 0.05) AS p05,
                quantile_cont(value, 0.95) AS p95
              FROM events GROUP BY 1
            )
            SELECT event_id, e.event_type, value,
              LEAST(GREATEST(value, p05), p95) AS winsorized
            FROM events e JOIN b USING (event_type)
        """,
        "auto_histogram": """
            WITH s AS (
              SELECT quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr,
                     CAST(COUNT(*) AS DOUBLE) AS n,
                     MIN(value) AS vmin
              FROM events
            ), w AS (
              SELECT GREATEST(CAST(1 AS BIGINT),
                       CAST(round(2.0 * iqr / pow(n, 1.0/3.0) * 100) AS BIGINT))
                       AS wc,
                     CAST(round(vmin * 100) AS BIGINT) AS mc
              FROM s
            ), b AS (
              SELECT CAST(floor((CAST(round(value * 100) AS BIGINT) - mc) / wc)
                          AS BIGINT) AS bucket,
                     wc, mc
              FROM events CROSS JOIN w
            )
            SELECT bucket,
                   CAST(mc + bucket * wc AS BIGINT) AS lo_cents,
                   CAST(wc AS BIGINT) AS width_cents,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM b GROUP BY bucket, mc, wc
        """,
        "rank_sum_test": """
            WITH sub AS (
              SELECT event_type, value FROM events
              WHERE event_type IN ('click', 'error')
            ), vc AS (
              SELECT value AS v,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
              FROM sub GROUP BY 1
            ), r AS (
              SELECT n_a, n_b,
                CAST(COALESCE(SUM(n_a + n_b) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS DOUBLE) AS cumb,
                CAST(n_a + n_b AS DOUBLE) AS tot
              FROM vc
            ), a AS (
              SELECT CAST(SUM(n_a) AS BIGINT) AS n_a,
                     CAST(SUM(n_b) AS BIGINT) AS n_b,
                     SUM(CAST(n_a AS DOUBLE) * (cumb + (tot + 1.0) / 2.0)) AS r_a
              FROM r
            )
            SELECT n_a, n_b,
              r_a - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0 AS u_a,
              CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                - (r_a - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0)
                AS u_b
            FROM a
        """,
        "ks_test": """
            WITH sub AS (
              SELECT event_type, value FROM events
              WHERE event_type IN ('click', 'purchase')
            ), vc AS (
              SELECT value AS v,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
              FROM sub GROUP BY 1
            ), t AS (
              SELECT CAST(SUM(n_a) AS DOUBLE) AS ta, CAST(SUM(n_b) AS DOUBLE) AS tb
              FROM vc
            ), c AS (
              SELECT
                CAST(SUM(n_a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS ca,
                CAST(SUM(n_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cb
              FROM vc
            )
            SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
                   MAX(ABS(ca / ta - cb / tb)) AS ks_d
            FROM c CROSS JOIN t
            GROUP BY ta, tb
        """,
        "spearman": """
            WITH rx AS (
              SELECT l_returnflag, l_quantity AS v,
                CAST(2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY l_returnflag
                       ORDER BY l_quantity ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) + COUNT(*) + 1 AS BIGINT) AS r2x
              FROM lineitem GROUP BY l_returnflag, l_quantity
            ), ry AS (
              SELECT l_returnflag, l_extendedprice AS v,
                CAST(2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY l_returnflag
                       ORDER BY l_extendedprice ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) + COUNT(*) + 1 AS BIGINT) AS r2y
              FROM lineitem GROUP BY l_returnflag, l_extendedprice
            ), j AS (
              SELECT li.l_returnflag, r2x, r2y
              FROM lineitem li
              JOIN rx ON rx.l_returnflag = li.l_returnflag AND rx.v = li.l_quantity
              JOIN ry ON ry.l_returnflag = li.l_returnflag AND ry.v = li.l_extendedprice
            ), m AS (
              SELECT l_returnflag,
                CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(CAST(r2x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(r2y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(CAST(r2x AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(38,0))
                              AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                CAST(SUM(CAST(CAST(r2y AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0))
                              AS DECIMAL(38,0))) AS DOUBLE) AS syy,
                CAST(SUM(CAST(CAST(r2x AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0))
                              AS DECIMAL(38,0))) AS DOUBLE) AS sxy
              FROM j GROUP BY 1
            )
            SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
              (n * sxy - sx * sy)
                / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS spearman
            FROM m
        """,
        "ols_regression": """
            WITH m AS (
              SELECT l_returnflag,
                CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                              * CAST(l_extendedprice AS DECIMAL(18,2))
                              AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
                CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                              * CAST(l_quantity AS DECIMAL(18,2))
                              AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
                CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                              * CAST(l_extendedprice AS DECIMAL(18,2))
                              AS DECIMAL(38,4))) AS DOUBLE) AS syy
              FROM lineitem GROUP BY 1
            )
            SELECT l_returnflag,
              CAST(n AS BIGINT) AS n_rows,
              (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
              (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                AS intercept,
              (n * sxy - sx * sy) * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
            FROM m
        """,
        "cusum_changepoint": f"""
            WITH e AS (
              SELECT user_id, event_id, {ev_ts} AS mts,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events
            ), med AS (
              SELECT user_id, CAST(floor(quantile_cont(c, 0.5)) AS BIGINT) AS mc
              FROM e GROUP BY 1
            ), s AS (
              SELECT e.user_id, event_id, mts,
                CAST(SUM(c - mc) OVER (PARTITION BY e.user_id
                       ORDER BY mts, event_id ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS cusum
              FROM e JOIN med USING (user_id)
            ), r AS (
              SELECT user_id, event_id, cusum,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ABS(cusum) DESC, mts, event_id) AS rn
              FROM s
            )
            SELECT user_id, event_id AS changepoint_id, cusum
            FROM r WHERE rn = 1
        """,
        "ab_test_lift": """
            WITH u AS (
              SELECT user_id,
                CASE WHEN ((user_id % 1000003) * 2654435761) % 1000003 % 2 = 0
                     THEN 'A' ELSE 'B' END AS arm,
                MAX(CASE WHEN event_type = 'purchase' AND value > 200.0 THEN 1 ELSE 0 END) AS purchased
              FROM events GROUP BY 1, 2
            ), arms AS (
              SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(purchased) AS BIGINT) AS c
              FROM u GROUP BY 1
            ), w AS (
              SELECT
                MAX(CASE WHEN arm = 'A' THEN n END) AS na_l,
                MAX(CASE WHEN arm = 'A' THEN c END) AS ca_l,
                MAX(CASE WHEN arm = 'B' THEN n END) AS nb_l,
                MAX(CASE WHEN arm = 'B' THEN c END) AS cb_l
              FROM arms
            )
            SELECT na_l AS n_a, ca_l AS conv_a, nb_l AS n_b, cb_l AS conv_b,
              CAST(ca_l AS DOUBLE) / CAST(na_l AS DOUBLE)
                - CAST(cb_l AS DOUBLE) / CAST(nb_l AS DOUBLE) AS lift,
              (CAST(ca_l AS DOUBLE) / CAST(na_l AS DOUBLE)
                 - CAST(cb_l AS DOUBLE) / CAST(nb_l AS DOUBLE))
              / sqrt(
                  ((CAST(ca_l AS DOUBLE) + CAST(cb_l AS DOUBLE))
                     / (CAST(na_l AS DOUBLE) + CAST(nb_l AS DOUBLE)))
                  * (1.0 - (CAST(ca_l AS DOUBLE) + CAST(cb_l AS DOUBLE))
                       / (CAST(na_l AS DOUBLE) + CAST(nb_l AS DOUBLE)))
                  * (1.0 / CAST(na_l AS DOUBLE) + 1.0 / CAST(nb_l AS DOUBLE))
                ) AS z_stat
            FROM w
        """,
        "modern_sql_sugar": """
            SELECT l_returnflag,
                   l_linestatus,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS revenue,
                   revenue / COUNT(*) AS avg_revenue,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY ALL
        """,
        "mutual_information": """
            WITH cells AS (
              SELECT lang AS x, source AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
              FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
              GROUP BY 1, 2
            ),
            tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells),
            mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1),
            my AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1)
            SELECT c.x, c.y, c.n_xy, mx.n_x, my.n_y, tot.n,
              CAST(floor(ln(
                (CAST(c.n_xy AS DOUBLE) / CAST(mx.n_x AS DOUBLE))
                * (CAST(tot.n AS DOUBLE) / CAST(my.n_y AS DOUBLE))
              ) * 1000000) AS BIGINT) AS pmi_micro
            FROM cells c
            JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
        """,
        "theil_sen": """
            WITH pts AS (
              SELECT c.c_nationkey AS nation,
                CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1 AS BIGINT) AS x,
                CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              GROUP BY 1, 2
            ),
            sl AS (
              SELECT a.nation,
                (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
                  / (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE)) AS s
              FROM pts a JOIN pts b ON a.nation = b.nation AND a.x < b.x
            ),
            -- median as the SAME sorted-array middle-element expression the
            -- Spark operator uses (not DuckDB's native median, whose
            -- interpolation could differ in the last ulp)
            fit AS (
              SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                list_sort(list(s)) AS arr
              FROM sl GROUP BY 1
            ),
            fit2 AS (
              SELECT nation, n_pairs,
                CASE WHEN n_pairs % 2 = 1
                  THEN arr[CAST(n_pairs // 2 AS INTEGER) + 1]
                  ELSE (arr[CAST(n_pairs // 2 AS INTEGER)]
                        + arr[CAST(n_pairs // 2 AS INTEGER) + 1]) / 2.0
                END AS slope
              FROM fit
            ),
            res AS (
              SELECT p.nation, f.n_pairs, f.slope,
                CAST(p.y AS DOUBLE) - f.slope * CAST(p.x AS DOUBLE) AS r
              FROM pts p JOIN fit2 f ON p.nation = f.nation
            ),
            ri AS (
              SELECT nation, n_pairs, slope,
                CAST(COUNT(*) AS BIGINT) AS n_points,
                list_sort(list(r)) AS rs
              FROM res GROUP BY 1, 2, 3
            )
            SELECT nation, n_points, n_pairs,
              CAST(floor(slope * 1000000) AS BIGINT) AS slope_micro,
              CAST(floor(
                CASE WHEN n_points % 2 = 1
                  THEN rs[CAST(n_points // 2 AS INTEGER) + 1]
                  ELSE (rs[CAST(n_points // 2 AS INTEGER)]
                        + rs[CAST(n_points // 2 AS INTEGER) + 1]) / 2.0
                END
              ) AS BIGINT) AS intercept_cents
            FROM ri
        """,
        "weighted_reservoir": """
            WITH w AS (
              SELECT lang, doc_id,
                CAST(1 + (n_chars % 7) AS BIGINT) AS weight
              FROM documents
            ),
            e AS (
              SELECT lang, doc_id, weight,
                unnest(generate_series(1, weight)) AS c
              FROM w
            ),
            pri AS (
              SELECT lang, doc_id, weight,
                MAX(CAST(('0x' || substr(
                  md5(CAST(doc_id AS VARCHAR) || '_' || CAST(c AS VARCHAR)),
                  1, 15)) AS BIGINT)) AS priority
              FROM e GROUP BY 1, 2, 3
            ),
            r AS (
              SELECT lang, doc_id, weight, priority,
                CAST(ROW_NUMBER() OVER (
                  PARTITION BY lang ORDER BY priority DESC, doc_id
                ) AS BIGINT) AS rank
              FROM pri
            )
            SELECT lang, doc_id, weight, priority, rank FROM r WHERE rank <= 5
        """,
        "funnel_steps": """
            WITH s1 AS (
              SELECT user_id AS u, MIN(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1
            ),
            s2 AS (
              SELECT e.user_id AS u, s1.t1, MIN(e.ts) AS tp
              FROM events e JOIN s1 ON e.user_id = s1.u
              WHERE e.event_type = 'click' AND e.ts > s1.t1
                AND e.ts <= s1.t1 + INTERVAL 2592000 SECOND
              GROUP BY 1, 2
            ),
            s3 AS (
              SELECT e.user_id AS u, s2.t1, MIN(e.ts) AS tp
              FROM events e JOIN s2 ON e.user_id = s2.u
              WHERE e.event_type = 'purchase' AND e.ts > s2.tp
                AND e.ts <= s2.t1 + INTERVAL 2592000 SECOND
              GROUP BY 1, 2
            ),
            c AS (
              SELECT CAST(1 AS BIGINT) AS step_index, 'view' AS step,
                CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
              UNION ALL
              SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
              UNION ALL
              SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
            ),
            r AS (
              SELECT step_index, step, n_users,
                FIRST_VALUE(n_users) OVER (ORDER BY step_index) AS n1,
                COALESCE(LAG(n_users) OVER (ORDER BY step_index), n_users) AS np
              FROM c
            )
            SELECT step_index, step, n_users,
              CAST(1000000 * n_users // n1 AS BIGINT) AS conv_from_first_micro,
              CAST(1000000 * n_users // nullif(np, 0) AS BIGINT)
                AS conv_from_prev_micro
            FROM r WHERE n1 > 0
        """,
        "zipf_slope": f"""
            WITH tok AS (
              SELECT lang,
                unnest(string_split_regex({_NORM_TEXT}, '\\s+')) AS token
              FROM documents
            ),
            v AS (
              SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM tok WHERE length(token) > 0 GROUP BY 1, 2
            ),
            r AS (
              SELECT lang, cnt,
                ROW_NUMBER() OVER (
                  PARTITION BY lang ORDER BY cnt DESC, token
                ) AS rank
              FROM v
            ),
            q AS (
              SELECT lang,
                CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y
              FROM r WHERE rank <= 64
            ),
            s AS (
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_terms,
                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                CAST(SUM(x * x) AS BIGINT) AS sxx,
                CAST(SUM(x * y) AS BIGINT) AS sxy
              FROM q GROUP BY 1
            ),
            s2 AS (
              SELECT lang, n_terms, sx, sy,
                (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
              FROM s
            )
            SELECT lang, n_terms,
              CAST(floor(slope * 1000000) AS BIGINT) AS slope_micro,
              CAST(floor(
                (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                / CAST(n_terms AS DOUBLE)
              ) AS BIGINT) AS intercept_micro
            FROM s2
        """,
        "pmi_cooccur": f"""
            WITH t AS (
              SELECT doc_id,
                string_split_regex({_NORM_TEXT}, '\\s+') AS l
              FROM documents
            ),
            tok AS (
              SELECT doc_id, unnest(l) AS token,
                generate_subscripts(l, 1) AS pos
              FROM t
            ),
            tk AS (
              SELECT doc_id, token,
                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS p
              FROM tok WHERE length(token) > 0
            ),
            pairs AS (
              SELECT a.token AS a, b.token AS b
              FROM tk a JOIN tk b
                ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 2
            ),
            pc AS (
              SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab
              FROM pairs GROUP BY 1, 2
            ),
            np AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_pairs FROM pc),
            v AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM tk GROUP BY 1
            ),
            nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM v)
            SELECT cut.a, cut.b, cut.n_ab, va.cnt AS n_a, vb.cnt AS n_b,
              CAST(floor(ln(
                (CAST(cut.n_ab AS DOUBLE) / CAST(np.n_pairs AS DOUBLE))
                * (CAST(nt.n_tokens AS DOUBLE) / CAST(va.cnt AS DOUBLE))
                * (CAST(nt.n_tokens AS DOUBLE) / CAST(vb.cnt AS DOUBLE))
              ) * 1000000) AS BIGINT) AS pmi_micro
            FROM (SELECT * FROM pc WHERE n_ab >= 5) cut
            JOIN v va ON cut.a = va.token
            JOIN v vb ON cut.b = vb.token
            CROSS JOIN np CROSS JOIN nt
        """,
        "robust_scaler": """
            WITH q AS (
              SELECT o_orderpriority,
                quantile_cont(o_totalprice, 0.5) AS med,
                quantile_cont(o_totalprice, 0.75)
                  - quantile_cont(o_totalprice, 0.25) AS iqr
              FROM orders GROUP BY 1
            )
            SELECT o.o_orderpriority, o.o_orderkey, q.med, q.iqr,
              (CAST(o.o_totalprice AS DOUBLE) - q.med) / q.iqr AS robust_scaled
            FROM orders o JOIN q USING (o_orderpriority)
            WHERE q.iqr > 0
        """,
        "burstiness": """
            WITH g AS (
              SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY ts
                ) AS gap
              FROM events
            ),
            a AS (
              SELECT user_id,
                CAST(COUNT(*) AS BIGINT) AS n_gaps,
                CAST(SUM(gap) AS BIGINT) AS sg,
                SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS sgg
              FROM g WHERE gap IS NOT NULL GROUP BY 1
            ),
            b AS (
              SELECT user_id, n_gaps, sg,
                sqrt(greatest(
                  (CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
                   - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                  / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)),
                  0.0)) AS sigma,
                CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu
              FROM a WHERE n_gaps >= 2
            )
            SELECT user_id, n_gaps,
              CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
              CAST(floor(
                CASE WHEN sigma + mu = 0 THEN -1.0
                     ELSE (sigma - mu) / (sigma + mu) END * 1000000
              ) AS BIGINT) AS burstiness_micro
            FROM b
        """,
        "markov_transitions": """
            WITH s AS (
              SELECT user_id, event_type AS dst,
                lag(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_type
                ) AS src
              FROM events
            ),
            p AS (
              SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
              FROM s WHERE src IS NOT NULL GROUP BY 1, 2
            ),
            m AS (
              SELECT src, CAST(SUM(n) AS BIGINT) AS n_src FROM p GROUP BY 1
            )
            SELECT p.src, p.dst, p.n, m.n_src,
              CAST(1000000 * p.n // m.n_src AS BIGINT) AS prob_micro
            FROM p JOIN m USING (src)
        """,
        "script_histogram": """
            WITH c AS (
              SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(length(text)
                  - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                  AS BIGINT) AS n_letters,
                CAST(length(text)
                  - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS n_digits,
                CAST(length(text)
                  - length(regexp_replace(text, '[ \t\n\r]', '', 'g'))
                  AS BIGINT) AS n_space,
                CAST(length(text)
                  - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))
                  AS BIGINT) AS n_punct
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id, n_chars, n_letters, n_digits, n_space, n_punct,
              n_chars - n_letters - n_digits - n_space - n_punct AS n_other,
              CASE WHEN n_chars > 0
                THEN CAST(1000000 * n_letters // n_chars AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS alpha_ppm
            FROM c
        """,
        "kneser_ney": f"""
            WITH t AS (
              SELECT doc_id, string_split_regex({_NORM_TEXT}, '\\s+') AS l
              FROM documents
            ),
            tok AS (
              SELECT doc_id, unnest(l) AS token,
                generate_subscripts(l, 1) AS pos
              FROM t
            ),
            tk AS (
              SELECT doc_id, token,
                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS p
              FROM tok WHERE length(token) > 0
            ),
            bg AS (
              SELECT a.token AS w1, b.token AS w2,
                CAST(COUNT(*) AS BIGINT) AS c12
              FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.p = a.p + 1
              GROUP BY 1, 2
            ),
            en AS (
              SELECT w1, w2, c12,
                CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
                CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS n_follow,
                CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS n_context
              FROM bg
            ),
            tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM bg)
            SELECT w1, w2, c12, c1, n_follow, n_context, tt.t_types,
              CAST(floor((
                greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
                + (0.75 * CAST(n_follow AS DOUBLE) / CAST(c1 AS DOUBLE))
                  * (CAST(n_context AS DOUBLE) / CAST(tt.t_types AS DOUBLE))
              ) * 1000000) AS BIGINT) AS pkn_micro
            FROM en CROSS JOIN tt
            WHERE c12 >= 3
        """,
        "textrank_keywords": f"""
            WITH t AS (
              SELECT doc_id, string_split_regex({_NORM_TEXT}, '\\s+') AS l
              FROM documents
            ),
            tok AS (
              SELECT doc_id, unnest(l) AS token,
                generate_subscripts(l, 1) AS pos
              FROM t
            ),
            tk AS (
              SELECT doc_id, token,
                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS p
              FROM tok WHERE length(token) > 0
            ),
            pr AS (
              SELECT a.token AS a, b.token AS b, CAST(COUNT(*) AS BIGINT) AS n
              FROM tk a JOIN tk b
                ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 2
              GROUP BY 1, 2
            ),
            cn AS (SELECT * FROM pr WHERE n >= 3),
            edges AS (
              SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
                SELECT a AS src, b AS dst, n AS w FROM cn
                UNION ALL SELECT b AS src, a AS dst, n AS w FROM cn
              ) GROUP BY 1, 2
            ),
            nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
            outw AS (
              SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src
            ),
            r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
            c1 AS (
              SELECT e.dst AS node,
                CAST(SUM((CAST(r.r AS HUGEINT) * e.w) // o.out_w) AS BIGINT) AS s
              FROM edges e
              JOIN outw o ON e.src = o.src
              JOIN r0 r ON r.node = e.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT n.node,
                CAST(150000 + (CAST(850000 AS HUGEINT) * COALESCE(c.s, 0)) // 1000000
                     AS BIGINT) AS r
              FROM nodes n LEFT JOIN c1 c ON n.node = c.node
            ),
            c2 AS (
              SELECT e.dst AS node,
                CAST(SUM((CAST(r.r AS HUGEINT) * e.w) // o.out_w) AS BIGINT) AS s
              FROM edges e
              JOIN outw o ON e.src = o.src
              JOIN r1 r ON r.node = e.src
              GROUP BY e.dst
            ),
            r2 AS (
              SELECT n.node,
                CAST(150000 + (CAST(850000 AS HUGEINT) * COALESCE(c.s, 0)) // 1000000
                     AS BIGINT) AS r
              FROM nodes n LEFT JOIN c2 c ON n.node = c.node
            ),
            c3 AS (
              SELECT e.dst AS node,
                CAST(SUM((CAST(r.r AS HUGEINT) * e.w) // o.out_w) AS BIGINT) AS s
              FROM edges e
              JOIN outw o ON e.src = o.src
              JOIN r2 r ON r.node = e.src
              GROUP BY e.dst
            ),
            r3 AS (
              SELECT n.node,
                CAST(150000 + (CAST(850000 AS HUGEINT) * COALESCE(c.s, 0)) // 1000000
                     AS BIGINT) AS r
              FROM nodes n LEFT JOIN c3 c ON n.node = c.node
            )
            SELECT node AS token, r AS rank_micro
            FROM r3 ORDER BY r DESC, node LIMIT 20
        """,
    }
    _MONTHLY_PTS = """
        SELECT c.c_nationkey AS nation,
          CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1 AS BIGINT) AS t,
          CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    """
    _acf_lags = range(1, 7)
    _acf_lagcols = ",\n".join(
        f"lag(v, {l}) OVER w AS l{l}" for l in _acf_lags
    )
    _acf_aggs = ",\n".join(
        f"SUM(CAST(v AS HUGEINT) * CAST(l{l} AS HUGEINT)) AS p{l},"
        f" SUM(CASE WHEN l{l} IS NOT NULL THEN CAST(v AS HUGEINT) END) AS t{l},"
        f" SUM(CAST(l{l} AS HUGEINT)) AS h{l}, CAST(COUNT(l{l}) AS BIGINT) AS m{l}"
        for l in _acf_lags
    )
    _acf_stack = "\nUNION ALL ".join(
        f"SELECT nation, n, s, q, CAST({l} AS BIGINT) AS lag,"
        f" p{l} AS p, t{l} AS tt, h{l} AS h, m{l} AS m FROM g"
        for l in _acf_lags
    )
    oracles["autocorrelation"] = f"""
        WITH pts AS ({_MONTHLY_PTS}),
        lagged AS (
          SELECT nation, v, {_acf_lagcols}
          FROM pts WINDOW w AS (PARTITION BY nation ORDER BY t)
        ),
        g AS (
          SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(v AS HUGEINT)) AS s,
            SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS q,
            {_acf_aggs}
          FROM lagged GROUP BY 1
        ),
        stacked AS ({_acf_stack}),
        scored AS (
          SELECT nation, lag, n, m AS n_used,
            CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * p
              - CAST(n AS HUGEINT) * s * (tt + h)
              + CAST(m AS HUGEINT) * s * s AS num,
            CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * q - s * s) AS den
          FROM stacked
        )
        SELECT nation, lag, n, n_used,
          CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000.0)
               AS BIGINT) AS acf_micro
        FROM scored WHERE n_used > 0 AND den <> 0
    """
    oracles["seasonal_decompose"] = f"""
        WITH pts AS ({_MONTHLY_PTS}),
        fr AS (
          SELECT nation, t % 12 AS season, v,
            SUM(v) OVER w1 AS s1, CAST(COUNT(*) OVER w1 AS BIGINT) AS c1,
            SUM(v) OVER w2 AS s2, CAST(COUNT(*) OVER w2 AS BIGINT) AS c2
          FROM pts
          WINDOW w1 AS (PARTITION BY nation ORDER BY t
                        ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING),
                 w2 AS (PARTITION BY nation ORDER BY t
                        ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
        ),
        d AS (
          SELECT nation, season, CAST(24 * v - (s1 + s2) AS BIGINT) AS d2m
          FROM fr WHERE c1 = 12 AND c2 = 12
        ),
        agg AS (
          SELECT nation, season, CAST(COUNT(*) AS BIGINT) AS n_obs,
            CAST(SUM(d2m) AS BIGINT) AS sum_d2m
          FROM d GROUP BY 1, 2
        )
        SELECT nation, season, n_obs, sum_d2m,
          CAST(floor(CAST(sum_d2m AS DOUBLE)
                     / (24.0 * CAST(n_obs AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS seasonal_micro
        FROM agg
    """
    oracles["target_encode"] = """
        WITH r AS (
          SELECT o.o_orderkey AS id, c.c_mktsegment AS cat,
            CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        pc AS (
          SELECT cat, SUM(CAST(y AS HUGEINT)) AS s,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM r GROUP BY 1
        ),
        g AS (
          SELECT SUM(CAST(y AS HUGEINT)) AS st, CAST(COUNT(*) AS BIGINT) AS nt
          FROM r
        )
        SELECT r.id AS o_orderkey, r.cat AS c_mktsegment,
          r.y AS target_cents, pc.n AS n_cat,
          CAST(floor(
            (CASE WHEN CAST(pc.n AS DOUBLE) - 1.0 + 20.0 > 0.0
              THEN (CAST(pc.s - r.y AS DOUBLE)
                    + 20.0 * (CAST(g.st AS DOUBLE) / CAST(g.nt AS DOUBLE)))
                   / (CAST(pc.n AS DOUBLE) - 1.0 + 20.0)
              ELSE CAST(g.st AS DOUBLE) / CAST(g.nt AS DOUBLE) END)
            * 1000000.0) AS BIGINT) AS enc_micro
        FROM r JOIN pc ON r.cat = pc.cat CROSS JOIN g
    """
    oracles["woe_iv"] = """
        WITH cells AS (
          SELECT o_orderpriority AS category,
            CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pos,
            CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                 AS BIGINT) AS n_neg
          FROM orders GROUP BY 1
        ),
        t AS (
          SELECT category, n_pos, n_neg,
            CAST(SUM(n_pos) OVER () AS BIGINT) AS pos_total,
            CAST(SUM(n_neg) OVER () AS BIGINT) AS neg_total
          FROM cells
        )
        SELECT category, n_pos, n_neg, pos_total, neg_total,
          CAST(floor(
            ln((CAST(n_pos AS DOUBLE) / CAST(pos_total AS DOUBLE))
               * (CAST(neg_total AS DOUBLE) / CAST(n_neg AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS woe_micro,
          CAST(floor(
            (CAST(n_pos AS DOUBLE) / CAST(pos_total AS DOUBLE)
             - CAST(n_neg AS DOUBLE) / CAST(neg_total AS DOUBLE))
            * ln((CAST(n_pos AS DOUBLE) / CAST(pos_total AS DOUBLE))
                 * (CAST(neg_total AS DOUBLE) / CAST(n_neg AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS iv_micro
        FROM t WHERE n_pos > 0 AND n_neg > 0
    """
    oracles["adamic_adar"] = """
        WITH j AS MATERIALIZED (
          SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
            CAST(COUNT(*) AS BIGINT) AS wt
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2
        ),
        m AS MATERIALIZED (
          SELECT CAST(SUM(wt) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS np
          FROM j
        ),
        e AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM j CROSS JOIN m
          WHERE wt * np * 10 >= 11 * tot AND src <> dst
        ),
        adj AS MATERIALIZED (
          SELECT a AS z, b AS x FROM e UNION ALL SELECT b AS z, a AS x FROM e
        ),
        deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY 1),
        term AS (
          SELECT z,
            CAST(floor(1000000.0 / ln(CAST(dg AS DOUBLE))) AS BIGINT) AS tm
          FROM deg WHERE dg >= 2
        ),
        apex AS MATERIALIZED (
          SELECT adj.z, adj.x, term.tm FROM adj JOIN term USING (z)
        ),
        pairs AS (
          SELECT l.x AS a, r.x AS b, CAST(COUNT(*) AS BIGINT) AS n_common,
            CAST(SUM(l.tm) AS BIGINT) AS aa_micro
          FROM apex l JOIN apex r ON l.z = r.z AND l.x < r.x
          GROUP BY 1, 2
        )
        SELECT p.a, p.b, p.n_common, p.aa_micro
        FROM pairs p ANTI JOIN e ON p.a = e.a AND p.b = e.b
    """
    _STRONG_TRADE_E = """
        j AS MATERIALIZED (
          SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
            CAST(COUNT(*) AS BIGINT) AS wt
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2
        ),
        m AS MATERIALIZED (
          SELECT CAST(SUM(wt) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS np
          FROM j
        ),
        e AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM j CROSS JOIN m
          WHERE wt * np * 10 >= 11 * tot AND src <> dst
        )
    """
    oracles["harmonic_centrality"] = f"""
        WITH {_STRONG_TRADE_E},
        und AS MATERIALIZED (
          SELECT a AS s, b AS d FROM e UNION ALL SELECT b AS s, a AS d FROM e
        ),
        srcs AS MATERIALIZED (SELECT DISTINCT s AS source FROM und),
        h0 AS MATERIALIZED (
          SELECT source, source AS node, 0 AS hop FROM srcs
        ),
        n1 AS (
          SELECT h.source, u.d AS node, 1 AS hop
          FROM h0 h JOIN und u ON u.s = h.node
        ),
        h1 AS MATERIALIZED (
          SELECT source, node, MIN(hop) AS hop FROM (
            SELECT * FROM h0 UNION ALL SELECT * FROM n1
          ) GROUP BY 1, 2
        ),
        n2 AS (
          SELECT h.source, u.d AS node, 2 AS hop
          FROM h1 h JOIN und u ON u.s = h.node WHERE h.hop = 1
        ),
        h2 AS MATERIALIZED (
          SELECT source, node, MIN(hop) AS hop FROM (
            SELECT * FROM h1 UNION ALL SELECT * FROM n2
          ) GROUP BY 1, 2
        ),
        n3 AS (
          SELECT h.source, u.d AS node, 3 AS hop
          FROM h2 h JOIN und u ON u.s = h.node WHERE h.hop = 2
        ),
        h3 AS MATERIALIZED (
          SELECT source, node, MIN(hop) AS hop FROM (
            SELECT * FROM h2 UNION ALL SELECT * FROM n3
          ) GROUP BY 1, 2
        )
        SELECT source AS node, CAST(COUNT(*) AS BIGINT) AS n_reached,
          CAST(SUM(CAST(floor(1000000.0 / CAST(hop AS DOUBLE)) AS BIGINT))
               AS BIGINT) AS harmonic_micro
        FROM h3 WHERE hop > 0 GROUP BY 1
    """
    oracles["holt_linear"] = f"""
        WITH RECURSIVE pts AS MATERIALIZED (
          SELECT nation,
            CAST(row_number() OVER (PARTITION BY nation ORDER BY t)
                 AS BIGINT) AS i,
            CAST(v AS DOUBLE) AS x
          FROM ({_MONTHLY_PTS})
        ),
        nn AS MATERIALIZED (
          SELECT nation, MAX(i) AS n FROM pts GROUP BY 1 HAVING MAX(i) >= 2
        ),
        st AS (
          SELECT p1.nation, CAST(2 AS BIGINT) AS i,
            p2.x AS l, p2.x - p1.x AS b
          FROM pts p1
          JOIN pts p2 ON p1.nation = p2.nation AND p2.i = 2
          WHERE p1.i = 1
          UNION ALL
          SELECT s.nation, s.i + 1,
            0.5 * p.x + (1.0 - 0.5) * (s.l + s.b) AS l,
            0.2 * ((0.5 * p.x + (1.0 - 0.5) * (s.l + s.b)) - s.l)
              + (1.0 - 0.2) * s.b AS b
          FROM st s JOIN pts p ON p.nation = s.nation AND p.i = s.i + 1
        )
        SELECT st.nation, nn.n,
          CAST(floor(st.l * 1000000.0) AS BIGINT) AS level_micro,
          CAST(floor(st.b * 1000000.0) AS BIGINT) AS trend_micro,
          CAST(floor((st.l + st.b) * 1000000.0) AS BIGINT) AS forecast_micro
        FROM st JOIN nn ON st.nation = nn.nation AND st.i = nn.n
    """
    oracles["heaps_law"] = f"""
        WITH t AS (
          SELECT doc_id, string_split_regex({_NORM_TEXT}, '\\s+') AS l
          FROM documents
        ),
        tk AS (SELECT doc_id, unnest(l) AS token FROM t),
        tkf AS MATERIALIZED (
          SELECT doc_id, token FROM tk WHERE length(token) > 0
        ),
        bounds AS (
          SELECT MIN(doc_id) AS lo,
            ((MAX(doc_id) - MIN(doc_id) + 256) // 256) AS width
          FROM tkf
        ),
        pd AS (
          SELECT ((tkf.doc_id - b.lo) // b.width) AS bk,
            CAST(COUNT(*) AS BIGINT) AS n_tok
          FROM tkf CROSS JOIN bounds b GROUP BY 1
        ),
        births AS (
          SELECT ((fo.mind - b.lo) // b.width) AS bk,
            CAST(COUNT(*) AS BIGINT) AS n_new
          FROM (SELECT token, MIN(doc_id) AS mind FROM tkf GROUP BY 1) fo
          CROSS JOIN bounds b
          GROUP BY 1
        ),
        sl AS (
          SELECT pd.bk, pd.n_tok, COALESCE(births.n_new, 0) AS n_new
          FROM pd LEFT JOIN births ON pd.bk = births.bk
        ),
        curve AS (
          SELECT
            SUM(n_tok) OVER (ORDER BY bk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nc,
            SUM(n_new) OVER (ORDER BY bk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vc
          FROM sl
        ),
        pts AS (
          SELECT
            CAST(floor(ln(CAST(nc AS DOUBLE)) * 1000000.0) AS HUGEINT) AS x,
            CAST(floor(ln(CAST(vc AS DOUBLE)) * 1000000.0) AS HUGEINT) AS y
          FROM curve WHERE nc > 0 AND vc > 0
        ),
        mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
            SUM(x) AS sx, SUM(y) AS sy,
            SUM(x * y) AS sxy, SUM(x * x) AS sxx
          FROM pts
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
            CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types
          FROM tkf
        )
        SELECT n_points, n_tokens, n_types,
          CAST(floor(
            CAST(n_points * sxy - sx * sy AS DOUBLE)
            / CAST(n_points * sxx - sx * sx AS DOUBLE) * 1000000.0)
            AS BIGINT) AS beta_micro,
          CAST(floor(
            CAST(sy * sxx - sx * sxy AS DOUBLE)
            / CAST(n_points * sxx - sx * sx AS DOUBLE))
            AS BIGINT) AS lnk_micro
        FROM mom CROSS JOIN tot
    """
    oracles["simpson_diversity"] = f"""
        WITH t AS (
          SELECT source, string_split_regex({_NORM_TEXT}, '\\s+') AS l
          FROM documents
        ),
        tk AS (SELECT source, unnest(l) AS token FROM t),
        tkf AS (SELECT source, token FROM tk WHERE length(token) > 0),
        c AS (
          SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
          FROM tkf GROUP BY 1, 2
        ),
        a AS (
          SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
            CAST(COUNT(*) AS BIGINT) AS n_types,
            SUM(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1)) AS num
          FROM c GROUP BY 1 HAVING SUM(n) >= 2
        )
        SELECT source, n_tokens, n_types,
          CAST(floor(CAST(num AS DOUBLE)
            / CAST(CAST(n_tokens AS HUGEINT)
                   * (CAST(n_tokens AS HUGEINT) - 1) AS DOUBLE)
            * 1000000.0) AS BIGINT) AS simpson_micro,
          CAST(floor((1.0 - CAST(num AS DOUBLE)
            / CAST(CAST(n_tokens AS HUGEINT)
                   * (CAST(n_tokens AS HUGEINT) - 1) AS DOUBLE))
            * 1000000.0) AS BIGINT) AS gini_simpson_micro
        FROM a
    """
    oracles["sparse_cosine"] = f"""
        WITH t AS (
          SELECT doc_id, string_split_regex({_NORM_TEXT}, '\\s+') AS l
          FROM documents
        ),
        tk AS (SELECT doc_id, unnest(l) AS token FROM t),
        tkf AS (SELECT doc_id, token FROM tk WHERE length(token) > 0),
        tf AS (
          SELECT doc_id AS d, token AS tk2, CAST(COUNT(*) AS BIGINT) AS tfv
          FROM tkf GROUP BY 1, 2
        ),
        dfq AS (
          SELECT tk2, CAST(COUNT(*) AS BIGINT) AS ndoc FROM tf GROUP BY 1
        ),
        nd AS (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS ndocs FROM tf),
        tf2 AS MATERIALIZED (
          SELECT tf.d, tf.tk2, tf.tfv
          FROM tf JOIN dfq USING (tk2) CROSS JOIN nd
          WHERE dfq.ndoc * 1000000 <= 100000 * nd.ndocs
        ),
        norms AS MATERIALIZED (
          SELECT d, SUM(CAST(tfv AS HUGEINT) * CAST(tfv AS HUGEINT)) AS ss
          FROM tf2 GROUP BY 1
        ),
        pairs AS MATERIALIZED (
          SELECT a.d AS doc_a, b.d AS doc_b,
            SUM(CAST(a.tfv AS HUGEINT) * CAST(b.tfv AS HUGEINT)) AS dot
          FROM tf2 a JOIN tf2 b ON a.tk2 = b.tk2 AND a.d < b.d
          GROUP BY 1, 2
          HAVING SUM(CAST(a.tfv AS HUGEINT) * CAST(b.tfv AS HUGEINT)) >= 2
        ),
        scored AS (
          SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
            CAST(floor(CAST(dot AS DOUBLE)
              / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE)))
              * 1000000.0) AS BIGINT) AS cos_micro
          FROM pairs
          JOIN norms na ON doc_a = na.d
          JOIN norms nb ON doc_b = nb.d
        )
        SELECT doc_a, doc_b, dot, cos_micro
        FROM scored WHERE cos_micro >= 500000
    """
    oracles["welch_ttest"] = """
        WITH s AS (
          SELECT (o_orderpriority = '1-URGENT') AS is_a,
            CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        m AS (
          SELECT
            CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
            SUM(CASE WHEN is_a THEN CAST(c AS HUGEINT) END) AS sa,
            SUM(CASE WHEN NOT is_a THEN CAST(c AS HUGEINT) END) AS sb,
            SUM(CASE WHEN is_a THEN CAST(c AS HUGEINT) * CAST(c AS HUGEINT) END) AS qa,
            SUM(CASE WHEN NOT is_a THEN CAST(c AS HUGEINT) * CAST(c AS HUGEINT) END) AS qb
          FROM s
        ),
        f AS (
          SELECT n_a, n_b,
            CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
            CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
            CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd
          FROM m WHERE n_a >= 2 AND n_b >= 2
        ),
        g AS (
          SELECT n_a, n_b, na, nb,
            sad / na AS ma, sbd / nb AS mb,
            ((qad - sad * sad / na) / (na - 1.0)) / na AS sea,
            ((qbd - sbd * sbd / nb) / (nb - 1.0)) / nb AS seb
          FROM f
        )
        SELECT n_a, n_b,
          CAST(floor(ma * 10000.0) AS BIGINT) AS mean_a_micro,
          CAST(floor(mb * 10000.0) AS BIGINT) AS mean_b_micro,
          CAST(floor((ma - mb) / sqrt(sea + seb) * 1000000.0)
               AS BIGINT) AS t_micro,
          CAST(floor(((sea + seb) * (sea + seb))
            / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0))
            * 1000000.0) AS BIGINT) AS df_micro
        FROM g
    """
    oracles["readability"] = f"""
        WITH t AS (
          SELECT doc_id, string_split_regex({_NORM_TEXT}, '\\s+') AS l
          FROM documents
        ),
        tk AS (SELECT doc_id, unnest(l) AS w FROM t),
        tkf AS (SELECT doc_id, w FROM tk WHERE length(w) > 0),
        wc AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
            CAST(SUM(greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))
                 AS BIGINT) AS n_syllables
          FROM tkf GROUP BY 1
        ),
        sc AS (
          SELECT doc_id,
            greatest(CAST(1 AS BIGINT),
              CAST(len(regexp_extract_all(COALESCE(text, ''), '[.!?]+'))
                   AS BIGINT)) AS n_sentences
          FROM documents
        ),
        j AS (
          SELECT sc.doc_id, sc.n_sentences, wc.n_words, wc.n_syllables,
            CAST(wc.n_words AS DOUBLE) / CAST(sc.n_sentences AS DOUBLE) AS wps,
            CAST(wc.n_syllables AS DOUBLE) / CAST(wc.n_words AS DOUBLE) AS spw
          FROM sc JOIN wc ON sc.doc_id = wc.doc_id
        )
        SELECT doc_id, n_sentences, n_words, n_syllables,
          CAST(floor((206.835 - 1.015 * wps - 84.6 * spw) * 1000000.0)
               AS BIGINT) AS ease_micro,
          CAST(floor((0.39 * wps + 11.8 * spw - 15.59) * 1000000.0)
               AS BIGINT) AS grade_micro
        FROM j
    """
    oracles["attribution"] = """
        WITH ev AS (
          SELECT user_id AS u,
            CAST(epoch_us(ts) AS HUGEINT) * 1000000 + event_id AS k,
            event_type AS ch,
            (event_type = 'purchase') AS conv
          FROM events
        ),
        tagged AS (
          SELECT u, k, ch, conv,
            MIN(CASE WHEN conv THEN k END)
              OVER (PARTITION BY u ORDER BY k
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
              AS nxt
          FROM ev
        ),
        touches AS MATERIALIZED (
          SELECT * FROM tagged WHERE NOT conv AND nxt IS NOT NULL
        ),
        per_conv AS MATERIALIZED (
          SELECT u, nxt, CAST(COUNT(*) AS BIGINT) AS n,
            arg_min(ch, k) AS first_ch, arg_max(ch, k) AS last_ch
          FROM touches GROUP BY 1, 2
        ),
        linear AS (
          SELECT t.ch AS channel,
            CAST(SUM(1000000 // p.n) AS BIGINT) AS linear_micro,
            CAST(COUNT(*) AS BIGINT) AS n_touches
          FROM touches t
          JOIN per_conv p ON t.u = p.u AND t.nxt = p.nxt
          GROUP BY 1
        ),
        firsts AS (
          SELECT first_ch AS channel, CAST(COUNT(*) AS BIGINT) AS first_touch
          FROM per_conv GROUP BY 1
        ),
        lasts AS (
          SELECT last_ch AS channel, CAST(COUNT(*) AS BIGINT) AS last_touch
          FROM per_conv GROUP BY 1
        )
        SELECT COALESCE(l.channel, f.channel, la.channel) AS channel,
          COALESCE(f.first_touch, 0) AS first_touch,
          COALESCE(la.last_touch, 0) AS last_touch,
          COALESCE(l.linear_micro, 0) AS linear_micro,
          COALESCE(l.n_touches, 0) AS n_touches
        FROM linear l
        FULL OUTER JOIN firsts f ON l.channel = f.channel
        FULL OUTER JOIN lasts la ON l.channel = la.channel
    """
    oracles["canonical_docs"] = """
        WITH RECURSIVE p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM documents a
          JOIN documents b ON b.doc_id = a.doc_id + 1 AND b.lang = a.lang
        ), sym AS (
          SELECT id_a AS s, id_b AS d FROM p
          UNION ALL SELECT id_b, id_a FROM p
        ), reach(n, r) AS (
          SELECT s, s FROM sym
          UNION
          SELECT sym.s, reach.r FROM sym JOIN reach ON sym.d = reach.n
        ), comp AS (
          SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n
        ),
        lab AS (
          SELECT d.doc_id, d.n_chars,
            COALESCE(c.component, d.doc_id) AS cmp
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        ),
        reps AS (
          SELECT cmp,
            arg_max(doc_id,
              CAST(n_chars AS HUGEINT) * 10000000000 + (9999999999 - doc_id))
              AS canonical_id,
            CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM lab GROUP BY 1
        )
        SELECT lab.doc_id,
          CAST(reps.canonical_id AS BIGINT) AS canonical_id,
          reps.cluster_size,
          lab.doc_id = reps.canonical_id AS is_canonical
        FROM lab JOIN reps ON lab.cmp = reps.cmp
    """
    oracles["ngram_novelty"] = f"""
        WITH t AS (
          SELECT doc_id, string_split_regex({_NORM_TEXT}, '\\s+') AS l
          FROM documents
        ),
        tok AS (
          SELECT doc_id, unnest(l) AS token, generate_subscripts(l, 1) AS pos
          FROM t
        ),
        tk AS (
          SELECT doc_id, token,
            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS p
          FROM tok WHERE length(token) > 0
        ),
        grams AS MATERIALIZED (
          SELECT DISTINCT a.doc_id,
            a.token || ' ' || b.token || ' ' || c.token AS g
          FROM tk a
          JOIN tk b ON b.doc_id = a.doc_id AND b.p = a.p + 1
          JOIN tk c ON c.doc_id = a.doc_id AND c.p = a.p + 2
        ),
        dfq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS dfn FROM grams GROUP BY 1)
        SELECT grams.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN dfn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          CAST(floor(
            CAST(SUM(CASE WHEN dfn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS BIGINT) AS novelty_micro
        FROM grams JOIN dfq USING (g)
        GROUP BY 1
    """
    oracles["hierarchy_rollup"] = """
        WITH RECURSIVE cv AS MATERIALIZED (
          SELECT o.o_custkey,
            CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS v,
            ANY_VALUE(c.c_nationkey) AS nk
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1
        ),
        vals AS MATERIALIZED (
          SELECT 'c' || o_custkey AS node, v AS value FROM cv
          UNION ALL
          SELECT 'n' || n_nationkey, CAST(0 AS BIGINT) FROM nation
          UNION ALL
          SELECT 'r' || r_regionkey, CAST(0 AS BIGINT) FROM region
        ),
        edges AS MATERIALIZED (
          SELECT 'c' || o_custkey AS child, 'n' || nk AS parent FROM cv
          UNION ALL
          SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation
        ),
        -- descendant closure within 2 levels: (ancestor, node, depth)
        closure(anc, nd, depth) AS (
          SELECT node, node, 0 FROM vals
          UNION ALL
          SELECT e.parent, cl.nd, cl.depth + 1
          FROM closure cl JOIN edges e ON e.child = cl.anc
          WHERE cl.depth < 2
        )
        SELECT v0.node, v0.value AS own_value,
          CAST(SUM(v1.value) AS BIGINT) AS subtree_value,
          CAST(COUNT(*) - 1 AS BIGINT) AS n_descendants
        FROM (
          SELECT DISTINCT anc, nd FROM closure
        ) cl
        JOIN vals v0 ON v0.node = cl.anc
        JOIN vals v1 ON v1.node = cl.nd
        GROUP BY 1, 2
    """
    oracles["cohort_ltv"] = """
        WITH r AS (
          SELECT o_custkey AS cust,
            CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                 AS BIGINT) AS m,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ),
        coh AS MATERIALIZED (
          SELECT cust, MIN(m) AS cm FROM r GROUP BY 1
        ),
        sizes AS (
          SELECT cm AS cohort_month, CAST(COUNT(*) AS BIGINT) AS n_customers
          FROM coh GROUP BY 1
        ),
        aged AS (
          SELECT coh.cm AS cohort_month, r.m - coh.cm AS age_months,
            SUM(CAST(r.cents AS HUGEINT)) AS rev
          FROM r JOIN coh ON r.cust = coh.cust
          GROUP BY 1, 2
        ),
        curve AS (
          SELECT cohort_month, age_months,
            CAST(rev AS BIGINT) AS rev_cents,
            SUM(rev) OVER (PARTITION BY cohort_month ORDER BY age_months
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM aged
        )
        SELECT c.cohort_month, c.age_months, s.n_customers,
          c.rev_cents, CAST(c.cum AS BIGINT) AS cum_rev_cents,
          CAST((CAST(c.cum AS HUGEINT) * 1000000)
               // (CAST(s.n_customers AS HUGEINT) * 100) AS BIGINT)
            AS ltv_micro
        FROM curve c JOIN sizes s ON c.cohort_month = s.cohort_month
    """
    oracles["anova_f"] = """
        WITH r AS (
          SELECT o_orderpriority AS g,
            CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders WHERE o_orderpriority IS NOT NULL
        ),
        grand AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(c AS HUGEINT)) AS s,
            SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS q
          FROM r
        ),
        pg AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
            SUM(CAST(c AS HUGEINT)) AS sg
          FROM r GROUP BY 1
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
            CAST(SUM(CAST(floor(
              CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
              / (CAST(ng AS DOUBLE) * CAST(q AS DOUBLE))
              * 1000000000000.0) AS BIGINT)) AS BIGINT) AS a
          FROM pg CROSS JOIN grand
        ),
        fin AS (
          SELECT agg.k, grand.n, grand.s, grand.q, agg.a,
            CAST(floor(
              CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(q AS DOUBLE))
              * 1000000000000.0) AS BIGINT) AS b2
          FROM agg CROSS JOIN grand
          WHERE agg.k >= 2 AND grand.n > agg.k AND grand.q > 0
        )
        SELECT k AS n_groups, n AS n_rows,
          CAST(a - b2 AS BIGINT) AS ssb_pico,
          CAST(floor(
            (CAST(a - b2 AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
            / ((1000000000000.0 - CAST(a AS DOUBLE))
               / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS f_micro,
          CAST(floor(
            CAST(a - b2 AS DOUBLE) / (1000000000000.0 - CAST(b2 AS DOUBLE))
            * 1000000.0) AS BIGINT) AS eta2_micro
        FROM fin
    """
    oracles["kendall_tau"] = """
        WITH ser AS MATERIALIZED (
          SELECT c.c_mktsegment AS segment,
            CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
                 AS BIGINT) AS m,
            CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS rev,
            CAST(COUNT(*) AS BIGINT) AS cnt
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ),
        pairs AS (
          -- sign is invariant under the op's positive cents scaling
          SELECT a.segment,
            sign(b.rev - a.rev) AS sx, sign(b.cnt - a.cnt) AS sy
          FROM ser a JOIN ser b
            ON b.segment = a.segment AND a.m < b.m
        ),
        agg AS (
          SELECT segment,
            CAST(SUM(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS concordant,
            CAST(SUM(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT)
              AS discordant,
            CAST(SUM(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS ties_x,
            CAST(SUM(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS ties_y
          FROM pairs GROUP BY 1
        ),
        np AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n
               FROM ser GROUP BY 1)
        SELECT agg.segment, np.n, concordant, discordant, ties_x, ties_y,
          CAST(floor(
            (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
            / sqrt(
              (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)
               + CAST(ties_x AS DOUBLE))
              * (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)
                 + CAST(ties_y AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS tau_micro
        FROM agg JOIN np USING (segment)
        WHERE CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)
                + CAST(ties_x AS DOUBLE) > 0
          AND CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)
                + CAST(ties_y AS DOUBLE) > 0
    """
    oracles["rolling_corr"] = """
        WITH ser AS MATERIALIZED (
          SELECT l_returnflag AS flag,
            CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
                 AS BIGINT) AS m,
            CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS rev,
            CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          FROM lineitem GROUP BY 1, 2
        ),
        q AS (
          -- the op quantizes round(x*100): both series scale by 100
          SELECT flag, m,
            CAST(rev AS HUGEINT) * 100 AS x,
            CAST(qty AS HUGEINT) * 100 AS y
          FROM ser
        ),
        w AS (
          SELECT flag, m,
            ROW_NUMBER() OVER (PARTITION BY flag ORDER BY m) AS rn,
            SUM(x) OVER winf AS sx, SUM(y) OVER winf AS sy,
            SUM(x * x) OVER winf AS sxx, SUM(y * y) OVER winf AS syy,
            SUM(x * y) OVER winf AS sxy
          FROM q
          WINDOW winf AS (PARTITION BY flag ORDER BY m
                          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        )
        SELECT flag, m, CAST(6 AS BIGINT) AS n,
          CAST(floor(
            (6.0 * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt(
              (6.0 * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (6.0 * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS corr_micro
        FROM w
        WHERE rn >= 6
          AND 6.0 * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
          AND 6.0 * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
    """
    oracles["hhi_concentration"] = """
        WITH r AS (
          SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
            CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
                 AS BIGINT) AS c
          FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        ),
        pm AS (
          SELECT nationkey, suppkey, SUM(CAST(c AS HUGEINT)) AS v
          FROM r GROUP BY 1, 2
        ),
        wt AS (
          SELECT nationkey, v,
            SUM(v) OVER (PARTITION BY nationkey) AS t
          FROM pm
        )
        SELECT nationkey,
          CAST(COUNT(*) AS BIGINT) AS n_members,
          CAST(MAX(floor(
            CAST(v AS DOUBLE) / CAST(t AS DOUBLE) * 1000000.0))
            AS BIGINT) AS top_share_ppm,
          CAST(SUM(CAST(floor(
            (CAST(v AS DOUBLE) / CAST(t AS DOUBLE))
            * (CAST(v AS DOUBLE) / CAST(t AS DOUBLE))
            * 1000000000000.0) AS BIGINT)) AS BIGINT) AS hhi_pico
        FROM wt WHERE t > 0
        GROUP BY 1
    """
    oracles["sssp_trade"] = """
        WITH RECURSIVE e AS MATERIALIZED (
          SELECT CAST(s.s_nationkey AS BIGINT) AS src,
            CAST(c.c_nationkey AS BIGINT) AS dst,
            CAST(100 - COUNT(DISTINCT
              year(l.l_shipdate) * 12 + month(l.l_shipdate)) AS BIGINT) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2
        ),
        paths(node, d, depth) AS (
          SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
          UNION
          SELECT e.dst, p.d + e.w, p.depth + 1
          FROM paths p JOIN e ON e.src = p.node
          WHERE p.depth < 3
        )
        SELECT node, CAST(MIN(d) AS BIGINT) AS dist
        FROM paths GROUP BY 1
    """
    oracles["kaplan_meier"] = """
        WITH h AS (SELECT MAX(o_orderdate) AS hz FROM orders),
        base AS (
          SELECT c.c_mktsegment AS segment, o.o_orderdate,
            LEAD(o.o_orderdate) OVER (
              PARTITION BY o.o_custkey
              ORDER BY o.o_orderdate, o.o_orderkey) AS nxt
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        r AS (
          SELECT segment,
            CAST(datediff('day', o_orderdate,
              COALESCE(nxt, (SELECT hz FROM h))) AS BIGINT) AS t,
            (nxt IS NOT NULL) AS e
          FROM base
        ),
        per_t AS (
          SELECT segment, t,
            CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
            CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS c
          FROM r GROUP BY 1, 2
        ),
        staged AS (
          SELECT segment, t, d, c,
            CAST(SUM(d + c) OVER (PARTITION BY segment)
              - COALESCE(SUM(d + c) OVER (
                  PARTITION BY segment ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n
          FROM per_t
        ),
        lf AS (
          SELECT segment, t, d, c, n,
            CAST(CASE WHEN d < n THEN floor(
              ln(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0)
            ELSE -1000000000000 END AS BIGINT) AS lfm
          FROM staged
        ),
        cum AS (
          SELECT segment, t, d, c, n,
            SUM(lfm) OVER (PARTITION BY segment ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
          FROM lf
        )
        SELECT segment, t, n AS n_risk, d AS n_events, c AS n_censored,
          CAST(floor(exp(CAST(cm AS DOUBLE) / 1000000.0) * 1000000.0)
            AS BIGINT) AS surv_micro
        FROM cum
    """
    oracles["containment_docs"] = r"""
        WITH sh AS (
          SELECT doc_id, list_distinct(list_transform(
            range(greatest(len(l) - 2, 1)),
            i -> array_to_string(list_slice(l, i + 1, i + 3), ' '))) AS s
          FROM (
            SELECT doc_id,
              string_split_regex(
                trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                '\s+') AS l
            FROM documents WHERE text IS NOT NULL
          )
          WHERE len(l) > 0
        )
        ,
        -- inverted-index form of the brute force (exact: a qualifying
        -- pair has inter >= 0.6|A| >= 1 shared shingle, so the posting
        -- join loses nothing)
        post AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(COUNT(*) AS BIGINT) AS inter
          FROM post a JOIN post b ON a.g = b.g AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
          CAST(inter AS DOUBLE) / CAST(len(sa.s) AS DOUBLE) AS containment
        FROM pairs JOIN sh sa ON sa.doc_id = id_a
        WHERE inter * 5 >= 3 * len(sa.s)
    """
    oracles["diff_in_diff"] = """
        WITH r AS (
          SELECT (c.c_mktsegment = 'BUILDING') AS tr,
            (o.o_orderdate >= DATE '1998-07-01') AS po,
            CAST(round(o.o_totalprice * 100) AS BIGINT) AS c
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        m AS (
          SELECT
            CAST(SUM(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT)
              AS n_t_pre,
            CAST(SUM(CASE WHEN tr AND po THEN 1 ELSE 0 END) AS BIGINT)
              AS n_t_post,
            CAST(SUM(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END)
              AS BIGINT) AS n_c_pre,
            CAST(SUM(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END) AS BIGINT)
              AS n_c_post,
            SUM(CASE WHEN tr AND NOT po THEN CAST(c AS HUGEINT) END)
              AS s_t_pre,
            SUM(CASE WHEN tr AND po THEN CAST(c AS HUGEINT) END) AS s_t_post,
            SUM(CASE WHEN NOT tr AND NOT po THEN CAST(c AS HUGEINT) END)
              AS s_c_pre,
            SUM(CASE WHEN NOT tr AND po THEN CAST(c AS HUGEINT) END)
              AS s_c_post,
            SUM(CASE WHEN tr AND NOT po
              THEN CAST(c AS HUGEINT) * CAST(c AS HUGEINT) END) AS q_t_pre,
            SUM(CASE WHEN tr AND po
              THEN CAST(c AS HUGEINT) * CAST(c AS HUGEINT) END) AS q_t_post,
            SUM(CASE WHEN NOT tr AND NOT po
              THEN CAST(c AS HUGEINT) * CAST(c AS HUGEINT) END) AS q_c_pre,
            SUM(CASE WHEN NOT tr AND po
              THEN CAST(c AS HUGEINT) * CAST(c AS HUGEINT) END) AS q_c_post
          FROM r
        )
        SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
          CAST(floor((
            (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
             - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
            - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
               - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE))
          ) * 10000.0) AS BIGINT) AS did_micro,
          CAST(floor(sqrt(
            ((CAST(q_t_post AS DOUBLE)
              - CAST(s_t_post AS DOUBLE) * CAST(s_t_post AS DOUBLE)
                / CAST(n_t_post AS DOUBLE))
             / (CAST(n_t_post AS DOUBLE) - 1.0)) / CAST(n_t_post AS DOUBLE)
            + ((CAST(q_t_pre AS DOUBLE)
              - CAST(s_t_pre AS DOUBLE) * CAST(s_t_pre AS DOUBLE)
                / CAST(n_t_pre AS DOUBLE))
             / (CAST(n_t_pre AS DOUBLE) - 1.0)) / CAST(n_t_pre AS DOUBLE)
            + ((CAST(q_c_post AS DOUBLE)
              - CAST(s_c_post AS DOUBLE) * CAST(s_c_post AS DOUBLE)
                / CAST(n_c_post AS DOUBLE))
             / (CAST(n_c_post AS DOUBLE) - 1.0)) / CAST(n_c_post AS DOUBLE)
            + ((CAST(q_c_pre AS DOUBLE)
              - CAST(s_c_pre AS DOUBLE) * CAST(s_c_pre AS DOUBLE)
                / CAST(n_c_pre AS DOUBLE))
             / (CAST(n_c_pre AS DOUBLE) - 1.0)) / CAST(n_c_pre AS DOUBLE)
          ) * 10000.0) AS BIGINT) AS se_micro,
          CAST(floor((
            (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
             - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
            - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
               - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE))
          ) / sqrt(
            ((CAST(q_t_post AS DOUBLE)
              - CAST(s_t_post AS DOUBLE) * CAST(s_t_post AS DOUBLE)
                / CAST(n_t_post AS DOUBLE))
             / (CAST(n_t_post AS DOUBLE) - 1.0)) / CAST(n_t_post AS DOUBLE)
            + ((CAST(q_t_pre AS DOUBLE)
              - CAST(s_t_pre AS DOUBLE) * CAST(s_t_pre AS DOUBLE)
                / CAST(n_t_pre AS DOUBLE))
             / (CAST(n_t_pre AS DOUBLE) - 1.0)) / CAST(n_t_pre AS DOUBLE)
            + ((CAST(q_c_post AS DOUBLE)
              - CAST(s_c_post AS DOUBLE) * CAST(s_c_post AS DOUBLE)
                / CAST(n_c_post AS DOUBLE))
             / (CAST(n_c_post AS DOUBLE) - 1.0)) / CAST(n_c_post AS DOUBLE)
            + ((CAST(q_c_pre AS DOUBLE)
              - CAST(s_c_pre AS DOUBLE) * CAST(s_c_pre AS DOUBLE)
                / CAST(n_c_pre AS DOUBLE))
             / (CAST(n_c_pre AS DOUBLE) - 1.0)) / CAST(n_c_pre AS DOUBLE)
          ) * 1000000.0) AS BIGINT) AS t_micro
        FROM m
        WHERE n_t_pre >= 2 AND n_t_post >= 2 AND n_c_pre >= 2
          AND n_c_post >= 2
    """
    oracles["grouped_ols"] = """
        WITH r AS (
          SELECT p_brand AS g,
            CAST(round(p_size * 100) AS BIGINT) AS x,
            CAST(round(p_retailprice * 100) AS BIGINT) AS y
          FROM part
        ),
        m AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
            SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
            SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
            SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
          FROM r GROUP BY 1
        ),
        f AS (
          SELECT g, n,
            CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
            CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
            CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
            CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
            CAST(n AS DOUBLE) AS nd
          FROM m
        )
        SELECT g AS p_brand, n,
          CAST(floor(cov / vx * 1000000.0) AS BIGINT) AS slope_micro,
          CAST(floor((syd - cov / vx * sxd) / nd * 10000.0) AS BIGINT)
            AS intercept_micro,
          CAST(floor((cov * cov) / (vx * vy) * 1000000.0) AS BIGINT)
            AS r2_micro
        FROM f WHERE n >= 2 AND vx > 0 AND vy > 0
    """
    oracles["mann_kendall"] = """
        WITH ser AS MATERIALIZED (
          SELECT o_orderpriority AS priority,
            CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                 AS BIGINT) AS m,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS rev
          FROM orders GROUP BY 1, 2
        ),
        s AS (
          SELECT a.priority,
            CAST(SUM(sign(b.rev - a.rev)) AS BIGINT) AS s_stat
          FROM ser a JOIN ser b
            ON b.priority = a.priority AND a.m < b.m
          GROUP BY 1
        ),
        np AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n
               FROM ser GROUP BY 1),
        ties AS (
          SELECT priority,
            CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
          FROM (SELECT priority, rev, CAST(COUNT(*) AS BIGINT) AS t
                FROM ser GROUP BY 1, 2)
          GROUP BY 1
        ),
        j AS (
          SELECT s.priority, np.n, s.s_stat,
            CAST(np.n * (np.n - 1) * (2 * np.n + 5) - ties.tt AS BIGINT)
              AS var18
          FROM s JOIN np USING (priority) JOIN ties USING (priority)
        )
        SELECT priority, n, s_stat, var18,
          CAST(floor(CASE
            WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            ELSE 0.0 END * 1000000.0) AS BIGINT) AS z_micro
        FROM j WHERE n >= 2 AND var18 > 0
    """
    oracles["oov_rate"] = r"""
        WITH tokf AS MATERIALIZED (
          SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split_regex(
              trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
              '\s+')) AS tok
            FROM documents WHERE text IS NOT NULL
          ) WHERE length(tok) > 0
        ),
        vocab AS MATERIALIZED (
          SELECT tok AS token FROM (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
            FROM tokf GROUP BY 1
          ) ORDER BY freq DESC, tok LIMIT 300
        )
        SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_oov,
          CAST(floor(
            CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
              AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS BIGINT)
            AS oov_micro
        FROM tokf LEFT JOIN vocab v ON tokf.tok = v.token
        GROUP BY 1
    """
    oracles["recursive_cte_sql"] = _RECURSIVE_CLOSURE_SQL
    _URGENT_POP = """
        lab AS MATERIALIZED (
          SELECT c.c_custkey, c.c_acctbal AS v,
            (c.c_custkey IN (
              SELECT o_custkey FROM orders
              WHERE o_orderpriority = '1-URGENT')) AS y
          FROM customer c
        )
    """
    oracles["auc_balance"] = f"""
        WITH {_URGENT_POP},
        vc AS (
          SELECT v,
            CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
            CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
          FROM lab WHERE v IS NOT NULL GROUP BY 1
        ),
        ranked AS (
          SELECT np, nn,
            CAST(np AS DOUBLE) * (
              CAST(COALESCE(SUM(np + nn) OVER (
                ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS DOUBLE)
              + (CAST(np + nn AS DOUBLE) + 1.0) / 2.0
            ) AS rp
          FROM vc
        ),
        agg AS (
          SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
            CAST(SUM(nn) AS BIGINT) AS n_neg,
            SUM(rp) AS r_pos
          FROM ranked
        )
        SELECT n_pos, n_neg,
          CAST(floor(
            (r_pos - CAST(n_pos AS DOUBLE)
              * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
            / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
            * 1000000.0) AS BIGINT) AS auc_micro
        FROM agg WHERE n_pos > 0 AND n_neg > 0
    """
    oracles["calibration_bins"] = f"""
        WITH {_URGENT_POP},
        mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM lab),
        scored AS (
          SELECT (lab.v - mm.mn) / (mm.mx - mm.mn) AS s, lab.y
          FROM lab CROSS JOIN mm
          WHERE lab.v IS NOT NULL AND lab.y IS NOT NULL
        ),
        binned AS (
          SELECT
            CAST(greatest(0, least(9,
              CAST(floor(s * 10.0) AS INT))) AS BIGINT) AS bin,
            CAST(floor(s * 1000000.0) AS BIGINT) AS smicro,
            CASE WHEN y THEN 1 ELSE 0 END AS p
          FROM scored
        )
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(floor(CAST(SUM(smicro) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mean_pred_micro,
          CAST(floor(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            * 1000000.0) AS BIGINT) AS frac_pos_micro
        FROM binned GROUP BY 1
    """
    oracles["cuped_spend"] = """
        WITH units AS MATERIALIZED (
          SELECT user_id,
            CASE WHEN ((user_id % 1000003) * 2654435761) % 1000003 % 2 = 0
                 THEN 'A' ELSE 'B' END AS arm,
            CAST(SUM(CASE WHEN event_type = 'purchase'
                  AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post,
            CAST(SUM(CASE WHEN event_type = 'purchase'
                  AND ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS pre
          FROM events GROUP BY 1, 2
        ),
        m AS (
          SELECT
            CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_a,
            CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_b,
            SUM(CASE WHEN arm = 'A'
              THEN CAST(round(pre * 100) AS HUGEINT) END) AS sx_a,
            SUM(CASE WHEN arm = 'B'
              THEN CAST(round(pre * 100) AS HUGEINT) END) AS sx_b,
            SUM(CASE WHEN arm = 'A'
              THEN CAST(round(post * 100) AS HUGEINT) END) AS sy_a,
            SUM(CASE WHEN arm = 'B'
              THEN CAST(round(post * 100) AS HUGEINT) END) AS sy_b,
            SUM(CASE WHEN arm = 'A'
              THEN CAST(round(pre * 100) AS HUGEINT)
                 * CAST(round(pre * 100) AS HUGEINT) END) AS sxx_a,
            SUM(CASE WHEN arm = 'B'
              THEN CAST(round(pre * 100) AS HUGEINT)
                 * CAST(round(pre * 100) AS HUGEINT) END) AS sxx_b,
            SUM(CASE WHEN arm = 'A'
              THEN CAST(round(post * 100) AS HUGEINT)
                 * CAST(round(post * 100) AS HUGEINT) END) AS syy_a,
            SUM(CASE WHEN arm = 'B'
              THEN CAST(round(post * 100) AS HUGEINT)
                 * CAST(round(post * 100) AS HUGEINT) END) AS syy_b,
            SUM(CASE WHEN arm = 'A'
              THEN CAST(round(pre * 100) AS HUGEINT)
                 * CAST(round(post * 100) AS HUGEINT) END) AS sxy_a,
            SUM(CASE WHEN arm = 'B'
              THEN CAST(round(pre * 100) AS HUGEINT)
                 * CAST(round(post * 100) AS HUGEINT) END) AS sxy_b
          FROM units
        ),
        d AS (
          SELECT n_a, n_b,
            CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
            CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn,
            CAST(sx_a AS DOUBLE) + CAST(sx_b AS DOUBLE) AS sx,
            CAST(sy_a AS DOUBLE) + CAST(sy_b AS DOUBLE) AS sy,
            CAST(sxx_a AS DOUBLE) + CAST(sxx_b AS DOUBLE) AS sxx,
            CAST(sxy_a AS DOUBLE) + CAST(sxy_b AS DOUBLE) AS sxy,
            CAST(sx_a AS DOUBLE) AS sxa, CAST(sx_b AS DOUBLE) AS sxb,
            CAST(sy_a AS DOUBLE) AS sya, CAST(sy_b AS DOUBLE) AS syb,
            CAST(sxx_a AS DOUBLE) AS sxxa, CAST(sxx_b AS DOUBLE) AS sxxb,
            CAST(syy_a AS DOUBLE) AS syya, CAST(syy_b AS DOUBLE) AS syyb,
            CAST(sxy_a AS DOUBLE) AS sxya, CAST(sxy_b AS DOUBLE) AS sxyb
          FROM m WHERE n_a >= 2 AND n_b >= 2
        ),
        t AS (
          SELECT *,
            nn * sxx - sx * sx AS vxp,
            (nn * sxy - sx * sy) / (nn * sxx - sx * sx) AS theta,
            sx / nn AS xbar
          FROM d
        ),
        f AS (
          SELECT *,
            sya / na - syb / nb AS diff,
            (sya / na - theta * (sxa / na - xbar))
              - (syb / nb - theta * (sxb / nb - xbar)) AS diff_adj,
            ((syya - sya * sya / na) / (na - 1.0)
              + theta * theta * ((sxxa - sxa * sxa / na) / (na - 1.0))
              - 2.0 * theta * ((sxya - sxa * sya / na) / (na - 1.0)))
              AS s2a,
            ((syyb - syb * syb / nb) / (nb - 1.0)
              + theta * theta * ((sxxb - sxb * sxb / nb) / (nb - 1.0))
              - 2.0 * theta * ((sxyb - sxb * syb / nb) / (nb - 1.0)))
              AS s2b
          FROM t
        )
        SELECT n_a, n_b,
          CAST(floor(theta * 1000000.0) AS BIGINT) AS theta_micro,
          CAST(floor(diff * 10000.0) AS BIGINT) AS diff_micro,
          CAST(floor(diff_adj * 10000.0) AS BIGINT) AS diff_adj_micro,
          CAST(floor(sqrt(s2a / na + s2b / nb) * 10000.0) AS BIGINT)
            AS se_adj_micro
        FROM f WHERE vxp > 0
    """
    oracles["holt_winters"] = """
        WITH RECURSIVE ser AS MATERIALIZED (
          SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
            CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
                 AS BIGINT) AS m,
            CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS rev
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ),
        pts AS MATERIALIZED (
          SELECT nation,
            CAST(row_number() OVER (PARTITION BY nation ORDER BY m)
                 AS BIGINT) AS i,
            CAST(rev AS DOUBLE) AS x
          FROM ser
        ),
        arrs AS MATERIALIZED (
          SELECT nation, list(x ORDER BY i) AS xs,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM pts GROUP BY 1 HAVING COUNT(*) >= 24
        ),
        ini AS (
          SELECT nation, n,
            list_reduce(xs[1:12], (a, b) -> a + b) / 12.0 AS l0,
            (list_reduce(xs[13:24], (a, b) -> a + b) / 12.0
              - list_reduce(xs[1:12], (a, b) -> a + b) / 12.0) / 12.0 AS b0,
            xs
          FROM arrs
        ),
        st AS (
          SELECT nation, CAST(12 AS BIGINT) AS i, l0 AS l, b0 AS b,
            list_transform(range(1, 13), j -> xs[j] - l0) AS s
          FROM ini
          UNION ALL
          SELECT st.nation, st.i + 1,
            0.5 * (p.x - st.s[CAST(st.i % 12 + 1 AS INT)])
              + 0.5 * (st.l + st.b),
            0.25 * ((0.5 * (p.x - st.s[CAST(st.i % 12 + 1 AS INT)])
                     + 0.5 * (st.l + st.b)) - st.l)
              + 0.75 * st.b,
            list_transform(range(1, 13), j -> CASE
              WHEN j = CAST(st.i % 12 + 1 AS INT)
              THEN 0.25 * (p.x
                  - (0.5 * (p.x - st.s[CAST(st.i % 12 + 1 AS INT)])
                     + 0.5 * (st.l + st.b)))
                + 0.75 * st.s[CAST(st.i % 12 + 1 AS INT)]
              ELSE st.s[j] END)
          FROM st JOIN pts p
            ON p.nation = st.nation AND p.i = st.i + 1
        )
        SELECT st.nation, arrs.n,
          CAST(floor(st.l * 1000000.0) AS BIGINT) AS level_micro,
          CAST(floor(st.b * 1000000.0) AS BIGINT) AS trend_micro,
          CAST(floor(st.s[CAST(arrs.n % 12 + 1 AS INT)] * 1000000.0)
            AS BIGINT) AS season_next_micro,
          CAST(floor((st.l + st.b
              + st.s[CAST(arrs.n % 12 + 1 AS INT)]) * 1000000.0)
            AS BIGINT) AS forecast_micro
        FROM st JOIN arrs ON st.nation = arrs.nation AND st.i = arrs.n
    """
    oracles["survival_summary"] = """
        WITH h AS (SELECT MAX(o_orderdate) AS hz FROM orders),
        base AS (
          SELECT c.c_mktsegment AS segment, o.o_orderdate,
            LEAD(o.o_orderdate) OVER (
              PARTITION BY o.o_custkey
              ORDER BY o.o_orderdate, o.o_orderkey) AS nxt
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        r AS (
          SELECT segment,
            CAST(datediff('day', o_orderdate,
              COALESCE(nxt, (SELECT hz FROM h))) AS BIGINT) AS t,
            (nxt IS NOT NULL) AS e
          FROM base
        ),
        per_t AS (
          SELECT segment, t,
            CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
            CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS c
          FROM r GROUP BY 1, 2
        ),
        staged AS (
          SELECT segment, t, d, c,
            CAST(SUM(d + c) OVER (PARTITION BY segment)
              - COALESCE(SUM(d + c) OVER (
                  PARTITION BY segment ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n
          FROM per_t
        ),
        lf AS (
          SELECT segment, t,
            CAST(CASE WHEN d < n THEN floor(
              ln(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0)
            ELSE -1000000000000 END AS BIGINT) AS lfm
          FROM staged
        ),
        km AS (
          SELECT segment, t,
            CAST(floor(exp(CAST(SUM(lfm) OVER (
              PARTITION BY segment ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT) AS sm
          FROM lf
        ),
        seg AS (
          SELECT segment, t, sm,
            LEAD(t) OVER (PARTITION BY segment ORDER BY t) AS nt,
            ROW_NUMBER() OVER (PARTITION BY segment ORDER BY t) AS rn
          FROM km
        )
        SELECT segment,
          CAST(MAX(t) AS BIGINT) AS horizon,
          CAST(COALESCE(MIN(CASE WHEN sm <= 500000 THEN t END), -1)
            AS BIGINT) AS median_t,
          CAST(SUM(
            CASE WHEN rn = 1 THEN t * 1000000 ELSE 0 END
            + CASE WHEN nt IS NOT NULL THEN sm * (nt - t) ELSE 0 END)
            AS BIGINT) AS rmst_micro
        FROM seg GROUP BY 1
    """
    oracles["corr_matrix"] = """
        WITH r AS (
          SELECT CAST(round(l_quantity * 100) AS BIGINT) AS v0,
            CAST(round(l_extendedprice * 100) AS BIGINT) AS v1,
            CAST(round(l_discount * 100) AS BIGINT) AS v2,
            CAST(round(l_tax * 100) AS BIGINT) AS v3
          FROM lineitem
        ),
        m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(v0 AS HUGEINT)) AS s0, SUM(CAST(v1 AS HUGEINT)) AS s1,
            SUM(CAST(v2 AS HUGEINT)) AS s2, SUM(CAST(v3 AS HUGEINT)) AS s3,
            SUM(CAST(v0 AS HUGEINT) * CAST(v0 AS HUGEINT)) AS q0,
            SUM(CAST(v1 AS HUGEINT) * CAST(v1 AS HUGEINT)) AS q1,
            SUM(CAST(v2 AS HUGEINT) * CAST(v2 AS HUGEINT)) AS q2,
            SUM(CAST(v3 AS HUGEINT) * CAST(v3 AS HUGEINT)) AS q3,
            SUM(CAST(v0 AS HUGEINT) * CAST(v1 AS HUGEINT)) AS c01,
            SUM(CAST(v0 AS HUGEINT) * CAST(v2 AS HUGEINT)) AS c02,
            SUM(CAST(v0 AS HUGEINT) * CAST(v3 AS HUGEINT)) AS c03,
            SUM(CAST(v1 AS HUGEINT) * CAST(v2 AS HUGEINT)) AS c12,
            SUM(CAST(v1 AS HUGEINT) * CAST(v3 AS HUGEINT)) AS c13,
            SUM(CAST(v2 AS HUGEINT) * CAST(v3 AS HUGEINT)) AS c23
          FROM r
        ),
        pairs(col_x, col_y, sx, qx, sy, qy, cxy) AS (
          SELECT 'l_quantity', 'l_extendedprice', s0, q0, s1, q1, c01 FROM m
          UNION ALL
          SELECT 'l_quantity', 'l_discount', s0, q0, s2, q2, c02 FROM m
          UNION ALL
          SELECT 'l_quantity', 'l_tax', s0, q0, s3, q3, c03 FROM m
          UNION ALL
          SELECT 'l_extendedprice', 'l_discount', s1, q1, s2, q2, c12 FROM m
          UNION ALL
          SELECT 'l_extendedprice', 'l_tax', s1, q1, s3, q3, c13 FROM m
          UNION ALL
          SELECT 'l_discount', 'l_tax', s2, q2, s3, q3, c23 FROM m
        )
        SELECT col_x, col_y, m.n,
          CAST(floor(
            (CAST(m.n AS DOUBLE) * CAST(cxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt(
              (CAST(m.n AS DOUBLE) * CAST(qx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(m.n AS DOUBLE) * CAST(qy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS corr_micro
        FROM pairs CROSS JOIN m
        WHERE CAST(m.n AS DOUBLE) * CAST(qx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
          AND CAST(m.n AS DOUBLE) * CAST(qy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
    """
    oracles["cramers_v"] = """
        WITH cells AS (
          SELECT event_type AS x, CAST(hour(ts) AS INT) AS y,
            CAST(COUNT(*) AS BIGINT) AS o
          FROM events
          WHERE event_type IS NOT NULL AND ts IS NOT NULL
          GROUP BY 1, 2
        ),
        staged AS (
          SELECT o,
            CAST(SUM(o) OVER (PARTITION BY x) AS BIGINT) AS rx,
            CAST(SUM(o) OVER (PARTITION BY y) AS BIGINT) AS cy,
            CAST(SUM(o) OVER () AS BIGINT) AS n,
            x, y
          FROM cells
        ),
        agg AS (
          SELECT MAX(n) AS n,
            CAST(COUNT(DISTINCT x) AS BIGINT) AS n_rows_x,
            CAST(COUNT(DISTINCT y) AS BIGINT) AS n_cols_y,
            CAST(SUM(CAST(floor(
              (CAST(o AS DOUBLE)
                - CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)
                  / CAST(n AS DOUBLE))
              * (CAST(o AS DOUBLE)
                - CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)
                  / CAST(n AS DOUBLE))
              / (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)
                 / CAST(n AS DOUBLE))
              * 1000000.0) AS BIGINT)) AS BIGINT) AS chi2_micro
          FROM staged
        )
        SELECT n, n_rows_x, n_cols_y, chi2_micro,
          CAST(floor(sqrt(
            CAST(chi2_micro AS DOUBLE) / 1000000.0
            / (CAST(n AS DOUBLE)
               * (CAST(least(n_rows_x, n_cols_y) AS DOUBLE) - 1.0)))
            * 1000000.0) AS BIGINT) AS v_micro
        FROM agg
        WHERE n_rows_x >= 2 AND n_cols_y >= 2
    """
    oracles["assortativity"] = """
        WITH e0 AS (
          SELECT DISTINCT -CAST(l_suppkey AS BIGINT) - 1 AS s,
            CAST(l_partkey AS BIGINT) AS d
          FROM lineitem
          WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
        ),
        und AS MATERIALIZED (
          SELECT s, d FROM e0 UNION SELECT d, s FROM e0
        ),
        deg AS MATERIALIZED (
          SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS dg
          FROM und GROUP BY 1
        ),
        pairs AS (
          SELECT dx.dg AS x, dy.dg AS y
          FROM und
          JOIN deg dx ON dx.node = und.s
          JOIN deg dy ON dy.node = und.d
        ),
        m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS np,
            SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
            SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
            SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
            SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
          FROM pairs
        ),
        c AS (
          SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS n_nodes,
            CAST(COUNT(*) / 2 AS BIGINT) AS n_edges
          FROM und
        )
        SELECT c.n_nodes, c.n_edges,
          CAST(floor(
            (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt(
              (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS r_micro
        FROM m CROSS JOIN c
        WHERE CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
          AND CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
    """
    oracles["levene_bf"] = """
        WITH r0 AS (
          SELECT l_returnflag AS g,
            CAST(round(l_extendedprice * 100) AS BIGINT) AS c0
          FROM lineitem WHERE l_returnflag IS NOT NULL
        ),
        med AS MATERIALIZED (
          SELECT g, quantile_cont(c0, 0.5) AS m FROM r0 GROUP BY 1
        ),
        r AS (
          SELECT r0.g,
            CAST(round(abs(CAST(c0 AS DOUBLE) - m) * 100) AS BIGINT) AS c
          FROM r0 JOIN med USING (g)
        ),
        grand AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(c AS HUGEINT)) AS s,
            SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS q
          FROM r
        ),
        pg AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
            SUM(CAST(c AS HUGEINT)) AS sg
          FROM r GROUP BY 1
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
            CAST(SUM(CAST(floor(
              CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
              / (CAST(ng AS DOUBLE) * CAST(q AS DOUBLE))
              * 1000000000000.0) AS BIGINT)) AS BIGINT) AS a
          FROM pg CROSS JOIN grand
        ),
        fin AS (
          SELECT agg.k, grand.n, grand.s, grand.q, agg.a,
            CAST(floor(
              CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(q AS DOUBLE))
              * 1000000000000.0) AS BIGINT) AS b2
          FROM agg CROSS JOIN grand
          WHERE agg.k >= 2 AND grand.n > agg.k AND grand.q > 0
        )
        SELECT k AS n_groups, n AS n_rows,
          CAST(a - b2 AS BIGINT) AS ssb_pico,
          CAST(floor(
            (CAST(a - b2 AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
            / ((1000000000000.0 - CAST(a AS DOUBLE))
               / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS f_micro,
          CAST(floor(
            CAST(a - b2 AS DOUBLE) / (1000000000000.0 - CAST(b2 AS DOUBLE))
            * 1000000.0) AS BIGINT) AS eta2_micro
        FROM fin
    """
    oracles["jaccard_neighbors"] = """
        WITH j AS MATERIALIZED (
          SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
            CAST(COUNT(*) AS BIGINT) AS wt
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2
        ),
        m AS MATERIALIZED (
          SELECT CAST(SUM(wt) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS np
          FROM j
        ),
        e AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM j CROSS JOIN m
          WHERE wt * np * 10 >= 11 * tot AND src <> dst
        ),
        adj AS MATERIALIZED (
          SELECT a AS z, b AS x FROM e UNION ALL SELECT b AS z, a AS x FROM e
        ),
        deg AS MATERIALIZED (
          SELECT z, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY 1
        ),
        apex AS MATERIALIZED (
          SELECT adj.z, adj.x FROM adj
          JOIN deg ON deg.z = adj.z AND deg.dg >= 2
        ),
        pairs AS (
          SELECT l.x AS a, r.x AS b, CAST(COUNT(*) AS BIGINT) AS n_common
          FROM apex l JOIN apex r ON l.z = r.z AND l.x < r.x
          GROUP BY 1, 2
        ),
        nonadj AS (
          SELECT p.a, p.b, p.n_common FROM pairs p
          ANTI JOIN e ON p.a = e.a AND p.b = e.b
        )
        SELECT n.a, n.b, n.n_common,
          da.dg AS deg_a, db.dg AS deg_b,
          CAST((n.n_common * 1000000) // (da.dg + db.dg - n.n_common)
            AS BIGINT) AS jaccard_micro
        FROM nonadj n
        JOIN deg da ON da.z = n.a
        JOIN deg db ON db.z = n.b
    """
    # Capped twin: the IDENTICAL query with the max_degree=12 apex cut —
    # only apex eligibility changes; true degrees still feed the
    # denominator (exactly what graph.jaccard_neighbors(max_degree=12)
    # computes).
    oracles["jaccard_capped"] = oracles["jaccard_neighbors"].replace(
        "deg.dg >= 2", "deg.dg >= 2 AND deg.dg <= 12"
    )
    oracles["cohens_d"] = """
        WITH s AS (
          SELECT (o_orderpriority = '1-URGENT') AS is_a,
            CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        m AS (
          SELECT
            CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
            SUM(CASE WHEN is_a THEN CAST(c AS HUGEINT) END) AS sa,
            SUM(CASE WHEN NOT is_a THEN CAST(c AS HUGEINT) END) AS sb,
            SUM(CASE WHEN is_a THEN CAST(c AS HUGEINT) * CAST(c AS HUGEINT) END) AS qa,
            SUM(CASE WHEN NOT is_a THEN CAST(c AS HUGEINT) * CAST(c AS HUGEINT) END) AS qb
          FROM s
        ),
        f AS (
          SELECT n_a, n_b,
            CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
            CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
            CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd
          FROM m WHERE n_a >= 2 AND n_b >= 2
        ),
        g AS (
          SELECT n_a, n_b,
            sad / na - sbd / nb AS diff,
            sqrt(((qad - sad * sad / na) + (qbd - sbd * sbd / nb))
                 / (na + nb - 2.0)) AS sp
          FROM f
        )
        SELECT n_a, n_b,
          CAST(floor(diff * 10000.0) AS BIGINT) AS diff_micro,
          CAST(floor(sp * 10000.0) AS BIGINT) AS pooled_sd_micro,
          CAST(floor(diff / sp * 1000000.0) AS BIGINT) AS d_micro
        FROM g
    """
    oracles["weighted_median"] = """
        WITH s AS (
          SELECT o_orderpriority AS g,
            CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
            CAST(round(l_quantity) AS BIGINT) AS w
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        cells AS (
          SELECT g, v, CAST(SUM(w) AS BIGINT) AS cw
          FROM s WHERE w > 0 GROUP BY 1, 2
        ),
        c AS (
          SELECT g, v,
            SUM(cw) OVER (PARTITION BY g ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cw) OVER (PARTITION BY g) AS tot
          FROM cells
        )
        SELECT g AS o_orderpriority,
          CAST(MIN(tot) AS BIGINT) AS total_weight,
          CAST(MIN(v) AS BIGINT) AS wmedian_cents
        FROM c WHERE cum * 2 >= tot GROUP BY 1
    """
    oracles["jackknife_nations"] = """
        WITH per AS (
          SELECT c_nationkey AS g, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS HUGEINT)) AS s
          FROM customer GROUP BY 1
        ),
        t AS (
          SELECT g, n, s,
            SUM(n) OVER () AS nn, SUM(s) OVER () AS ss
          FROM per
        )
        SELECT g AS nation, n,
          CAST(floor(CAST(ss - s AS DOUBLE) / CAST(nn - n AS DOUBLE)
               * 10000.0) AS BIGINT) AS loo_mean_micro,
          CAST(floor((CAST(ss - s AS DOUBLE) / CAST(nn - n AS DOUBLE)
               - CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
               * 10000.0) AS BIGINT) AS delta_micro
        FROM t WHERE nn > n
    """
    oracles["bootstrap_mean"] = """
        WITH r AS (
          SELECT o_orderkey AS id,
            CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders
        ),
        x AS (
          SELECT r.id, r.c, t.resample FROM r
          CROSS JOIN (SELECT UNNEST(range(0, 64)) AS resample) t
        ),
        u AS (
          SELECT resample, c,
            (((id * 64 + resample) % 1000003) * 2654435761) % 1000003 AS uu
          FROM x
        ),
        mm AS (
          SELECT resample, c,
            CASE WHEN uu < 367880 THEN 0
                 WHEN uu < 735761 THEN 1
                 WHEN uu < 919701 THEN 2
                 WHEN uu < 981014 THEN 3
                 ELSE 4 END AS m
          FROM u
        ),
        per AS (
          SELECT resample,
            CAST(SUM(m) AS BIGINT) AS n_eff,
            SUM(CAST(m * c AS HUGEINT)) AS s
          FROM mm GROUP BY 1 HAVING SUM(m) > 0
        )
        SELECT CAST(resample AS BIGINT) AS resample, n_eff,
          CAST(floor(CAST(s AS DOUBLE) / CAST(n_eff AS DOUBLE) * 10000.0)
               AS BIGINT) AS mean_micro
        FROM per
    """
    oracles["control_chart"] = """
        WITH r AS (
          SELECT c_mktsegment AS g, c_custkey AS t,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
          FROM customer JOIN orders ON o_custkey = c_custkey
          GROUP BY 1, 2
        ),
        m AS (
          SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
            SUM(CAST(c AS HUGEINT)) AS s,
            SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS q
          FROM r GROUP BY 1
        )
        SELECT r.g AS segment, r.t AS custkey, r.c AS value_cents,
          CAST(CASE WHEN m.n * CAST(r.c AS HUGEINT) - m.s > 0
               THEN 1 ELSE -1 END AS BIGINT) AS side
        FROM r JOIN m ON r.g = m.g
        WHERE (m.n * CAST(r.c AS HUGEINT) - m.s)
              * (m.n * CAST(r.c AS HUGEINT) - m.s)
              > 9 * (m.n * m.q - m.s * m.s)
    """
    oracles["lorenz_customers"] = """
        WITH per AS (
          SELECT o_custkey AS k,
            CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                 AS HUGEINT)) AS BIGINT) AS tot
          FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
        ),
        tiled AS (
          SELECT tot, NTILE(10) OVER (ORDER BY tot, k) AS bucket FROM per
        ),
        agg AS (
          SELECT CAST(bucket AS BIGINT) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS n_keys,
            SUM(CAST(tot AS HUGEINT)) AS b
          FROM tiled GROUP BY 1
        ),
        c AS (
          SELECT bucket, n_keys, b,
            SUM(b) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(b) OVER () AS alltot
          FROM agg
        )
        SELECT bucket, n_keys, CAST(b AS BIGINT) AS bucket_cents,
          CAST((cum * 1000000) // alltot AS BIGINT) AS cum_share_micro
        FROM c
    """
    oracles["hits_trade"] = """
        WITH j AS MATERIALIZED (
          SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
            CAST(COUNT(*) AS BIGINT) AS wt
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2
        ),
        m AS MATERIALIZED (
          SELECT CAST(SUM(wt) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS np
          FROM j
        ),
        e AS MATERIALIZED (
          SELECT DISTINCT CAST(src AS BIGINT) AS s, CAST(dst AS BIGINT) AS d
          FROM j CROSS JOIN m
          WHERE wt * np * 10 >= 11 * tot
        ),
        n AS (SELECT s AS node FROM e UNION SELECT d FROM e),
        a1 AS (
          SELECT d AS node, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY 1
        ),
        h1 AS (
          SELECT e.s AS node, CAST(SUM(a1.a) AS BIGINT) AS h
          FROM e JOIN a1 ON a1.node = e.d GROUP BY 1
        ),
        a2 AS (
          SELECT e.d AS node, CAST(SUM(h1.h) AS BIGINT) AS a
          FROM e JOIN h1 ON h1.node = e.s GROUP BY 1
        ),
        h2 AS (
          SELECT e.s AS node, CAST(SUM(a2.a) AS BIGINT) AS h
          FROM e JOIN a2 ON a2.node = e.d GROUP BY 1
        )
        SELECT n.node,
          CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub,
          CAST(COALESCE(a2.a, 0) AS BIGINT) AS authority
        FROM n
        LEFT JOIN h2 ON h2.node = n.node
        LEFT JOIN a2 ON a2.node = n.node
    """
    oracles["grouping_sets_sql"] = _GROUPING_SETS_SQL

    # k_truss: unrolled fixpoint rounds. Extra rounds past the fixpoint
    # are NO-OPS (the truss is the unique maximal subgraph with every
    # edge support >= k-2), so the unroll depth only needs to be an
    # upper bound on rounds-to-fixpoint; the Spark operator raises at 20
    # rounds, and the fixtures converge in <= 3. Every round CTE is
    # MATERIALIZED: each references its predecessor three times, and
    # inlining would re-expand the base rollup 3^rounds times.
    _truss_rounds = 6
    _truss_cte = ["""
        WITH j AS MATERIALIZED (
          SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
            CAST(COUNT(*) AS BIGINT) AS wt
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2
        ),
        m AS MATERIALIZED (
          SELECT CAST(SUM(wt) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS np
          FROM j
        ),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM j CROSS JOIN m
          WHERE wt * np * 10 >= 11 * tot AND src <> dst
        )"""]
    for _i in range(_truss_rounds):
        _truss_cte.append(f""",
        tri{_i} AS MATERIALIZED (
          SELECT x.a AS u, x.b AS p, y.b AS q
          FROM e{_i} x
          JOIN e{_i} y ON y.a = x.a AND y.b > x.b
          JOIN e{_i} z ON z.a = x.b AND z.b = y.b
        ),
        sup{_i} AS MATERIALIZED (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS s FROM (
            SELECT u AS a, p AS b FROM tri{_i}
            UNION ALL SELECT u AS a, q AS b FROM tri{_i}
            UNION ALL SELECT p AS a, q AS b FROM tri{_i}
          ) t GROUP BY 1, 2
        ),
        e{_i + 1} AS MATERIALIZED (
          SELECT e.a, e.b FROM e{_i} e
          JOIN sup{_i} s ON s.a = e.a AND s.b = e.b
          WHERE s.s >= 2
        )""")
    _truss_cte.append(f"""
        SELECT e.a, e.b, s.s AS support
        FROM e{_truss_rounds} e
        JOIN sup{_truss_rounds - 1} s ON s.a = e.a AND s.b = e.b
    """)
    oracles["k_truss_trade"] = "".join(_truss_cte)
    oracles["reciprocity_trade"] = """
        WITH j AS MATERIALIZED (
          SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
            CAST(COUNT(*) AS BIGINT) AS wt
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2
        ),
        m AS MATERIALIZED (
          SELECT CAST(SUM(wt) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS np
          FROM j
        ),
        e AS MATERIALIZED (
          SELECT DISTINCT CAST(src AS BIGINT) AS s, CAST(dst AS BIGINT) AS d
          FROM j CROSS JOIN m
          WHERE wt * np * 10 >= 11 * tot AND src <> dst
        ),
        r AS (
          SELECT e.s, e.d FROM e
          SEMI JOIN e r ON r.s = e.d AND r.d = e.s
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_reciprocal,
          CAST((SELECT CAST(COUNT(*) AS HUGEINT) FROM r) * 1000000
               // (SELECT COUNT(*) FROM e) AS BIGINT) AS reciprocity_micro
    """
    oracles["exact_quantiles"] = """
        WITH cells AS (
          SELECT o_orderpriority AS g,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM orders GROUP BY 1, 2
        ),
        marked AS (
          SELECT g, v,
            SUM(c) OVER (PARTITION BY g ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(c) OVER (PARTITION BY g) AS n
          FROM cells
        ),
        x AS (
          SELECT g, v, cum, n, q FROM marked
          CROSS JOIN (SELECT UNNEST([250000, 500000, 750000, 950000]) AS q) t
        )
        SELECT g AS priority, CAST(q AS BIGINT) AS q_ppm,
          CAST(MIN(n) AS BIGINT) AS n,
          CAST(MIN(v) AS BIGINT) AS value_cents
        FROM x WHERE cum >= (q * n + 999999) // 1000000
        GROUP BY 1, 2
    """
    oracles["mase_monthly"] = """
        WITH pts AS (
          SELECT c.c_nationkey AS nation,
            CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
                 AS BIGINT) AS t,
            CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS v
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ),
        series AS (
          SELECT nation, t, v AS a,
            LAG(v) OVER (PARTITION BY nation ORDER BY t) AS f
          FROM pts
        ),
        flt AS (SELECT nation, t, a, f FROM series WHERE f IS NOT NULL),
        lagged AS (
          SELECT nation,
            abs(a - f) AS err,
            abs(a - LAG(a, 12) OVER (PARTITION BY nation ORDER BY t, a, f)) AS nerr
          FROM flt
        ),
        agg AS (
          SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(err) AS BIGINT) AS se,
            CAST(SUM(nerr) AS BIGINT) AS sn,
            CAST(COUNT(nerr) AS BIGINT) AS cn
          FROM lagged GROUP BY 1
        )
        SELECT nation, n,
          CAST(CAST(se AS HUGEINT) * 1000000 // n AS BIGINT)
            AS mae_cents_micro,
          CAST(CAST(sn AS HUGEINT) * 1000000 // cn AS BIGINT)
            AS naive_mae_cents_micro,
          CAST(CAST(se AS HUGEINT) * cn * 1000000
               // (CAST(sn AS HUGEINT) * n) AS BIGINT) AS mase_micro
        FROM agg WHERE cn > 0 AND sn > 0
    """
    oracles["twa_value"] = """
        WITH r AS (
          SELECT user_id AS g, CAST(epoch_us(ts) AS BIGINT) AS t,
            CAST(round(value * 100) AS BIGINT) AS v
          FROM events
        ),
        gapped AS (
          SELECT g, v,
            LEAD(t) OVER (PARTITION BY g ORDER BY t, v) - t AS gap
          FROM r
        ),
        agg AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(gap) AS BIGINT) AS span_micros,
            SUM(CAST(v AS HUGEINT) * CAST(gap AS HUGEINT)) AS ws
          FROM gapped GROUP BY 1
        )
        SELECT g AS user_id, n, span_micros,
          CAST((ws * 1000000) // CAST(span_micros AS HUGEINT) AS BIGINT)
            AS twa_cents_micro
        FROM agg WHERE span_micros > 0
    """
    oracles["psi_drift"] = """
        WITH rows_ AS (
          SELECT (o_orderdate < TIMESTAMP '1998-01-01') AS ref,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v
          FROM orders
        ),
        cells AS (
          SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM rows_
          WHERE ref GROUP BY 1
        ),
        marked AS (
          SELECT v,
            SUM(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(c) OVER () AS n
          FROM cells
        ),
        edges AS (
          SELECT q, MIN(v) AS edge FROM marked
          CROSS JOIN (SELECT UNNEST([100000,200000,300000,400000,500000,
                                     600000,700000,800000,900000]) AS q) t
          WHERE cum >= (q * n + 999999) // 1000000
          GROUP BY 1
        ),
        binned AS (
          SELECT r.ref,
            1 + (SELECT COUNT(*) FROM edges e WHERE e.edge < r.v) AS bin
          FROM rows_ r
        ),
        counts AS (
          SELECT bin,
            CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS rc,
            CAST(SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
          FROM binned GROUP BY 1
        ),
        filled AS (
          SELECT b.bin, COALESCE(rc, 0) AS ref_n, COALESCE(cc, 0) AS cur_n
          FROM (SELECT UNNEST(range(1, 11)) AS bin) b
          LEFT JOIN counts c ON c.bin = b.bin
        ),
        tot AS (
          SELECT bin, ref_n, cur_n,
            SUM(ref_n) OVER () + 10 AS np, SUM(cur_n) OVER () + 10 AS nq
          FROM filled
        )
        SELECT CAST(bin AS BIGINT) AS bin,
          CAST(ref_n AS BIGINT) AS ref_n, CAST(cur_n AS BIGINT) AS cur_n,
          CAST(floor(
            (CAST(ref_n + 1 AS DOUBLE) / CAST(np AS DOUBLE)
             - CAST(cur_n + 1 AS DOUBLE) / CAST(nq AS DOUBLE))
            * ln((CAST(ref_n + 1 AS DOUBLE) * CAST(nq AS DOUBLE))
                 / (CAST(cur_n + 1 AS DOUBLE) * CAST(np AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS psi_term_micro
        FROM tot
    """
    oracles["trimmed_mean"] = """
        WITH cells AS (
          SELECT o_orderpriority AS g,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM orders GROUP BY 1, 2
        ),
        marked AS (
          SELECT g, v, c,
            SUM(c) OVER (PARTITION BY g ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(c) OVER (PARTITION BY g) AS n
          FROM cells
        ),
        kept AS (
          SELECT g, v, n,
            GREATEST(0, LEAST(cum, n - (n * 100000) // 1000000)
              - GREATEST(cum - c + 1, (n * 100000) // 1000000 + 1) + 1) AS k
          FROM marked
        ),
        agg AS (
          SELECT g, CAST(MIN(n) AS BIGINT) AS n,
            CAST(SUM(k) AS BIGINT) AS n_kept,
            SUM(CAST(v AS HUGEINT) * CAST(k AS HUGEINT)) AS s
          FROM kept GROUP BY 1
        )
        SELECT g AS priority, n, n_kept,
          CAST(floor(CAST(s AS DOUBLE) / CAST(n_kept AS DOUBLE) * 10000.0)
               AS BIGINT) AS tmean_micro
        FROM agg WHERE n_kept > 0
    """
    # minhash_provable: the FULL MinHash-LSH pipeline replayed in SQL —
    # md5-prefix shingle hashes, the same 16 affine transforms, raw
    # min-tuple band keys, then a posting-join exact-Jaccard verify
    # (list_intersect at this slice size would be fine, but the posting
    # join is the scale-honest form).
    oracles["minhash_provable"] = """
        WITH d AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
          FROM documents WHERE doc_id < 1500
        ),
        sh AS MATERIALIZED (
          SELECT doc_id, UNNEST(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
          FROM d
        ),
        h AS MATERIALIZED (
          SELECT DISTINCT doc_id,
            CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
              % 2147483647 AS hv
          FROM sh
        ),
        sig AS MATERIALIZED (
          SELECT doc_id,
            MIN((506952114 * hv + 40503) % 2147483647) AS m0,
            MIN((1520856342 * hv + 81006) % 2147483647) AS m1,
            MIN((387276923 * hv + 121509) % 2147483647) AS m2,
            MIN((1401181151 * hv + 162012) % 2147483647) AS m3,
            MIN((267601732 * hv + 202515) % 2147483647) AS m4,
            MIN((1281505960 * hv + 243018) % 2147483647) AS m5,
            MIN((147926541 * hv + 283521) % 2147483647) AS m6,
            MIN((1161830769 * hv + 324024) % 2147483647) AS m7,
            MIN((28251350 * hv + 364527) % 2147483647) AS m8,
            MIN((1042155578 * hv + 405030) % 2147483647) AS m9,
            MIN((2056059806 * hv + 445533) % 2147483647) AS m10,
            MIN((922480387 * hv + 486036) % 2147483647) AS m11,
            MIN((1936384615 * hv + 526539) % 2147483647) AS m12,
            MIN((802805196 * hv + 567042) % 2147483647) AS m13,
            MIN((1816709424 * hv + 607545) % 2147483647) AS m14,
            MIN((683130005 * hv + 648048) % 2147483647) AS m15
          FROM h GROUP BY doc_id
        ),
        bandkeys AS MATERIALIZED (
          SELECT doc_id, 0 AS band, CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR) || ',' || CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR) AS bh FROM sig
          UNION ALL SELECT doc_id, 1 AS band, CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR) || ',' || CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR) AS bh FROM sig
          UNION ALL SELECT doc_id, 2 AS band, CAST(m8 AS VARCHAR) || ',' || CAST(m9 AS VARCHAR) || ',' || CAST(m10 AS VARCHAR) || ',' || CAST(m11 AS VARCHAR) AS bh FROM sig
          UNION ALL SELECT doc_id, 3 AS band, CAST(m12 AS VARCHAR) || ',' || CAST(m13 AS VARCHAR) || ',' || CAST(m14 AS VARCHAR) || ',' || CAST(m15 AS VARCHAR) AS bh FROM sig
        ),
        cand AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bandkeys a
          JOIN bandkeys b ON b.band = a.band AND b.bh = a.bh
            AND a.doc_id < b.doc_id
        ),
        cnt AS MATERIALIZED (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nh FROM h GROUP BY 1
        ),
        common AS (
          SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS nc
          FROM cand c
          JOIN h x ON x.doc_id = c.id_a
          JOIN h y ON y.doc_id = c.id_b AND y.hv = x.hv
          GROUP BY 1, 2
        )
        SELECT cm.id_a, cm.id_b,
          CAST(cm.nc AS DOUBLE)
            / CAST(na.nh + nb.nh - cm.nc AS DOUBLE) AS jaccard
        FROM common cm
        JOIN cnt na ON na.doc_id = cm.id_a
        JOIN cnt nb ON nb.doc_id = cm.id_b
        WHERE CAST(cm.nc AS DOUBLE)
            / CAST(na.nh + nb.nh - cm.nc AS DOUBLE) >= 0.5
    """
    # minhash_near_dup (VERDICT r11 order #3): the same md5-family
    # replay as minhash_provable, but UNBOUNDED scope and the gate's
    # 32-hash/8-band configuration. Generated from the engine's own
    # affine constants (operators.dedup._P/_A_MULT/_B_MULT) so the SQL
    # stays in lock-step with minhash_lsh_candidates by construction
    # instead of by hand-copied literals.
    _mh_P, _mh_A, _mh_B = dd._P, dd._A_MULT, dd._B_MULT
    _mh_mins = ",\n            ".join(
        f"MIN(({(2 * j + 1) * _mh_A % _mh_P} * hv + {(j + 1) * _mh_B % _mh_P})"
        f" % {_mh_P}) AS m{j}"
        for j in range(32)
    )
    _mh_bands = "\n          UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bh FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(m{j} AS VARCHAR)" for j in range(b * 4, b * 4 + 4)
            ),
        )
        for b in range(8)
    )
    oracles["minhash_near_dup"] = f"""
        WITH d AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
          FROM documents
        ),
        sh AS MATERIALIZED (
          SELECT doc_id, UNNEST(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
          FROM d
        ),
        h AS MATERIALIZED (
          SELECT DISTINCT doc_id,
            CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
              % {_mh_P} AS hv
          FROM sh
        ),
        sig AS MATERIALIZED (
          SELECT doc_id,
            {_mh_mins}
          FROM h GROUP BY doc_id
        ),
        bandkeys AS MATERIALIZED (
          {_mh_bands}
        ),
        cand AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bandkeys a
          JOIN bandkeys b ON b.band = a.band AND b.bh = a.bh
            AND a.doc_id < b.doc_id
        ),
        cnt AS MATERIALIZED (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nh FROM h GROUP BY 1
        ),
        common AS (
          SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS nc
          FROM cand c
          JOIN h x ON x.doc_id = c.id_a
          JOIN h y ON y.doc_id = c.id_b AND y.hv = x.hv
          GROUP BY 1, 2
        )
        SELECT cm.id_a, cm.id_b,
          CAST(cm.nc AS DOUBLE)
            / CAST(na.nh + nb.nh - cm.nc AS DOUBLE) AS jaccard
        FROM common cm
        JOIN cnt na ON na.doc_id = cm.id_a
        JOIN cnt nb ON nb.doc_id = cm.id_b
        WHERE CAST(cm.nc AS DOUBLE)
            / CAST(na.nh + nb.nh - cm.nc AS DOUBLE) >= 0.5
    """
    # near_dup_against (round 12): the md5-family cross-corpus replay —
    # parity-tagged union (new = odd tid, base = even), the same 16
    # affine transforms as minhash_provable, raw min-tuple band keys,
    # CROSS-parity collisions only, posting-join exact-Jaccard verify.
    # Generated from the engine's own constants like minhash_near_dup.
    _nda_mins = ",\n            ".join(
        f"MIN(({(2 * j + 1) * _mh_A % _mh_P} * hv + {(j + 1) * _mh_B % _mh_P})"
        f" % {_mh_P}) AS m{j}"
        for j in range(16)
    )
    _nda_bands = "\n          UNION ALL ".join(
        "SELECT tid, {b} AS band, {key} AS bh FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(m{j} AS VARCHAR)" for j in range(b * 4, b * 4 + 4)
            ),
        )
        for b in range(4)
    )
    oracles["near_dup_against"] = f"""
        WITH d AS (
          SELECT doc_id * 2 + CASE WHEN doc_id >= 400 THEN 1 ELSE 0 END
              AS tid,
            string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
          FROM documents
        ),
        sh AS MATERIALIZED (
          SELECT tid, UNNEST(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
          FROM d
        ),
        h AS MATERIALIZED (
          SELECT DISTINCT tid,
            CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
              % {_mh_P} AS hv
          FROM sh
        ),
        sig AS MATERIALIZED (
          SELECT tid,
            {_nda_mins}
          FROM h GROUP BY tid
        ),
        bandkeys AS MATERIALIZED (
          {_nda_bands}
        ),
        cand AS MATERIALIZED (
          SELECT DISTINCT
            CASE WHEN a.tid % 2 = 1 THEN a.tid ELSE b.tid END AS tn,
            CASE WHEN a.tid % 2 = 0 THEN a.tid ELSE b.tid END AS tb
          FROM bandkeys a
          JOIN bandkeys b ON b.band = a.band AND b.bh = a.bh
            AND a.tid < b.tid AND (a.tid % 2) <> (b.tid % 2)
        ),
        cnt AS MATERIALIZED (
          SELECT tid, CAST(COUNT(*) AS BIGINT) AS nh FROM h GROUP BY 1
        ),
        common AS (
          SELECT c.tn, c.tb, CAST(COUNT(*) AS BIGINT) AS nc
          FROM cand c
          JOIN h x ON x.tid = c.tn
          JOIN h y ON y.tid = c.tb AND y.hv = x.hv
          GROUP BY 1, 2
        )
        SELECT CAST(cm.tn // 2 AS BIGINT) AS new_id,
          CAST(cm.tb // 2 AS BIGINT) AS base_id,
          CAST(cm.nc AS DOUBLE)
            / CAST(na.nh + nb.nh - cm.nc AS DOUBLE) AS jaccard
        FROM common cm
        JOIN cnt na ON na.tid = cm.tn
        JOIN cnt nb ON nb.tid = cm.tb
        WHERE CAST(cm.nc AS DOUBLE)
            / CAST(na.nh + nb.nh - cm.nc AS DOUBLE) >= 0.8
    """
    oracles["knn_label_noise"] = """
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
          FROM embeddings WHERE vec_id < 400
        ),
        scored AS (
          SELECT a.vec_id AS id, a.label AS label,
            b.vec_id AS neighbor, b.label AS nlbl,
            CASE WHEN sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                 ELSE list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v))) END AS cos
          FROM e a JOIN e b ON a.vec_id <> b.vec_id
        ),
        top AS (
          SELECT id, label, nlbl FROM (
            SELECT id, label, nlbl,
              ROW_NUMBER() OVER (PARTITION BY id
                ORDER BY cos DESC, neighbor) AS rn
            FROM scored
          ) t WHERE rn <= 5
        ),
        votes AS (
          SELECT id, label, nlbl, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM top GROUP BY 1, 2, 3
        ),
        decided AS (
          SELECT id, label, nlbl, cnt,
            CAST(SUM(cnt) OVER (PARTITION BY id) AS BIGINT) AS n_top,
            ROW_NUMBER() OVER (PARTITION BY id
              ORDER BY cnt DESC, nlbl) AS mr,
            CAST(SUM(CASE WHEN nlbl = label THEN cnt ELSE 0 END)
                 OVER (PARTITION BY id) AS BIGINT) AS n_agree
          FROM votes
        )
        SELECT id, label, nlbl AS knn_label, n_top, n_agree
        FROM decided WHERE mr = 1 AND nlbl <> label
    """
    oracles["vector_dq"] = """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
          CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null,
          CAST(SUM(CASE WHEN embedding IS NOT NULL AND len(embedding) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
          CAST(SUM(CASE WHEN embedding IS NOT NULL AND len(embedding) <> 64
               THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
          CAST(SUM(CASE WHEN embedding IS NOT NULL AND
               len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
          CAST(SUM(CASE WHEN embedding IS NOT NULL AND
               len(list_filter(embedding, x -> x IS NULL)) > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_null_comp,
          -- forall(x = 0.0): every element non-NULL and zero (mirrors
          -- the Spark forall + coalesce(false) semantics exactly)
          CAST(SUM(CASE WHEN embedding IS NOT NULL AND len(embedding) > 0
               AND len(list_filter(embedding, x -> x IS NULL OR x <> 0)) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_allzero
        FROM embeddings
    """
    oracles["negative_samples"] = """
        WITH cat AS (
          SELECT iid,
            CAST(ROW_NUMBER() OVER (ORDER BY iid) - 1 AS BIGINT) AS rnk
          FROM (SELECT DISTINCT p_partkey AS iid FROM part) t
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cat),
        pos AS (
          SELECT DISTINCT l_suppkey AS u, l_partkey AS i FROM lineitem
        ),
        ex AS (
          SELECT u, i, CAST(j AS BIGINT) AS j FROM pos
          CROSS JOIN (SELECT UNNEST([1, 2]) AS j) t
        ),
        h AS (
          SELECT u, i, j,
            ((((u % 1000003) * 2654435761
               + (i % 1000003) * 7919 + j * 104729) % 1000003)
             * 2654435761) % 1000003 AS h2
          FROM ex
        ),
        cand AS (
          SELECT u, i, j, h2 % nn.n AS rnk FROM h CROSS JOIN nn
        ),
        withitem AS (
          SELECT c.u, c.i, c.j, cat.iid AS neg
          FROM cand c JOIN cat ON cat.rnk = c.rnk
        )
        SELECT w.u AS "user", w.i AS item, w.j AS j, w.neg AS neg_item
        FROM withitem w
        ANTI JOIN pos p ON p.u = w.u AND p.i = w.neg
    """
    oracles["robust_means"] = """
        WITH r AS (
          SELECT o_orderpriority AS g,
            CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders
        ),
        rp AS (SELECT g, c FROM r WHERE c > 0),
        m AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(c AS HUGEINT)) AS s,
            SUM(CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT))
              AS lnsum,
            SUM(1000000000000 // c) AS invsum
          FROM rp GROUP BY 1
        )
        SELECT g AS o_orderpriority, n,
          CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 10000.0)
            AS BIGINT) AS amean_micro,
          CAST(floor(exp(CAST(lnsum AS DOUBLE)
            / (CAST(n AS DOUBLE) * 1000000.0)) * 10000.0)
            AS BIGINT) AS gmean_micro,
          CAST(floor(CAST(n AS DOUBLE) * 1e12
            / CAST(invsum AS DOUBLE) * 10000.0) AS BIGINT) AS hmean_micro
        FROM m
    """
    oracles["ks_drift"] = """
        WITH gv AS (
          SELECT l_returnflag AS g, l_quantity AS v,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM lineitem
          WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
          GROUP BY 1, 2
        ),
        pool AS (
          SELECT v, CAST(SUM(c) AS BIGINT) AS pc FROM gv GROUP BY 1
        ),
        pool_cum AS (
          SELECT v, pc,
            CAST(SUM(pc) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS pcum,
            CAST(SUM(pc) OVER () AS BIGINT) AS npool
          FROM pool
        ),
        staged AS (
          SELECT gv.g, gv.c,
            CAST(SUM(gv.c) OVER (PARTITION BY gv.g ORDER BY gv.v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS gcum,
            CAST(SUM(gv.c) OVER (PARTITION BY gv.g) AS BIGINT) AS ng,
            p.pc, p.pcum, p.npool
          FROM gv JOIN pool_cum p ON gv.v = p.v
        )
        SELECT g AS l_returnflag, CAST(MAX(ng) AS BIGINT) AS n,
          MAX(greatest(
            abs(CAST(gcum AS DOUBLE) / CAST(ng AS DOUBLE)
              - CAST(pcum AS DOUBLE) / CAST(npool AS DOUBLE)),
            abs(CAST(gcum - c AS DOUBLE) / CAST(ng AS DOUBLE)
              - CAST(pcum - pc AS DOUBLE) / CAST(npool AS DOUBLE))
          )) AS ks_d
        FROM staged GROUP BY 1
    """
    oracles["wilson_ci"] = """
        WITH agg AS (
          SELECT event_type,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS successes
          FROM events GROUP BY 1
        )
        SELECT event_type, n, successes,
          CAST(floor(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
            * 1000000.0) AS BIGINT) AS p_micro,
          CAST(floor((
            (CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
              + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
            / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
            - 1.96 * sqrt(
                CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
                * (1.0 - CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                / CAST(n AS DOUBLE)
                + 1.96 * 1.96
                  / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
          ) * 1000000.0) AS BIGINT) AS lo_micro,
          CAST(floor((
            (CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
              + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
            / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
            + 1.96 * sqrt(
                CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
                * (1.0 - CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                / CAST(n AS DOUBLE)
                + 1.96 * 1.96
                  / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
          ) * 1000000.0) AS BIGINT) AS hi_micro
        FROM agg
    """
    oracles["dup_cluster_sizes"] = r"""
        WITH clusters AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM documents
          GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        )
        SELECT cluster_size,
          CAST(COUNT(*) AS BIGINT) AS n_clusters,
          CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
        FROM clusters GROUP BY 1
    """
    _tag_values = ", ".join(f"('{k}', {v})" for k, v in sorted(_TAG_TERMS.items()))
    oracles["dictionary_tag"] = f"""
        WITH t AS (
          SELECT doc_id, string_split_regex({_NORM_TEXT}, '\\s+') AS l
          FROM documents
        ),
        tk AS (
          SELECT doc_id, unnest(l) AS token FROM t
        ),
        tkf AS (SELECT doc_id, token FROM tk WHERE length(token) > 0),
        d(term, w) AS (VALUES {_tag_values}),
        agg AS (
          SELECT tkf.doc_id,
            CAST(COUNT(*) AS BIGINT) AS n_tokens,
            CAST(SUM(CASE WHEN d.w IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hits,
            CAST(COUNT(DISTINCT CASE WHEN d.w IS NOT NULL THEN tkf.token END)
                 AS BIGINT) AS n_terms,
            CAST(SUM(COALESCE(d.w, 0)) AS BIGINT) AS score
          FROM tkf LEFT JOIN d ON tkf.token = d.term
          GROUP BY 1
        )
        SELECT doc.doc_id,
          COALESCE(agg.n_tokens, 0) AS n_tokens,
          COALESCE(agg.n_hits, 0) AS n_hits,
          COALESCE(agg.n_terms, 0) AS n_terms,
          COALESCE(agg.score, 0) AS score
        FROM documents doc LEFT JOIN agg ON doc.doc_id = agg.doc_id
    """
    oracles["hybrid_rrf"] = f"""
        WITH bm AS ({oracles["bm25_search"]}),
        bmr AS (
          SELECT doc_id,
            CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank_0
          FROM bm
        ),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
        cosl AS (
          SELECT vec_id AS doc_id,
            list_dot_product(v, qv)
              / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos
          FROM ev CROSS JOIN q
          ORDER BY cos DESC, doc_id LIMIT 20
        ),
        annr AS (
          SELECT doc_id,
            CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS rank_1
          FROM cosl
        ),
        f AS (
          SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id, b.rank_0, a.rank_1,
            COALESCE(1.0 / (60.0 + CAST(b.rank_0 AS DOUBLE)), 0.0)
              + COALESCE(1.0 / (60.0 + CAST(a.rank_1 AS DOUBLE)), 0.0) AS rrf_score
          FROM bmr b FULL OUTER JOIN annr a ON b.doc_id = a.doc_id
        )
        SELECT doc_id, rank_0, rank_1, rrf_score FROM f
        ORDER BY rrf_score DESC, doc_id LIMIT 10
    """
    oracles["perplexity_buckets"] = f"""
        WITH base AS ({oracles["bigram_logprob"]}),
        th AS (
          SELECT
            percentile_cont(CAST(1 AS DOUBLE)/3) WITHIN GROUP (ORDER BY mean_nll) AS t1,
            percentile_cont(CAST(2 AS DOUBLE)/3) WITHIN GROUP (ORDER BY mean_nll) AS t2
          FROM base
        )
        SELECT b.doc_id, b.n_bigrams, b.surprisal_micro, b.mean_nll,
          CASE WHEN b.mean_nll <= t.t1 THEN 'head'
               WHEN b.mean_nll <= t.t2 THEN 'middle'
               ELSE 'tail' END AS ppl_bucket
        FROM base b CROSS JOIN th t
    """
    # --- round-10 additions ---
    oracles["span_corruption"] = r"""
        WITH base AS (
          SELECT doc_id AS id,
            CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END
                 AS BIGINT) AS nt
          FROM documents
        ),
        p AS (
          SELECT id, nt,
            GREATEST(CAST(1 AS BIGINT), (nt * 3) // 20) AS noise
          FROM base WHERE nt * 3 >= 20
        ),
        s AS (
          SELECT id, nt, noise,
            GREATEST(CAST(1 AS BIGINT), noise // 3) AS spans
          FROM p
        ),
        w AS (SELECT id, nt, noise, spans, nt // spans AS w FROM s),
        ex AS (
          SELECT id, noise, spans, w,
            CAST(UNNEST(range(1, spans + 1)) AS BIGINT) AS j
          FROM w
        ),
        ln AS (
          SELECT id, w, j,
            LEAST(w, noise // spans
                  + CASE WHEN j <= noise % spans THEN 1 ELSE 0 END) AS len
          FROM ex
        ),
        h AS (
          SELECT id, w, j, len,
            ((id % 1000003) * 2654435761 + j * 104729) % 1000003 AS h1
          FROM ln
        )
        SELECT id AS doc_id, j AS span_id,
          CAST((j - 1) * w + ((h1 * 2654435761) % 1000003) % (w - len + 1)
               AS BIGINT) AS span_start,
          CAST(len AS BIGINT) AS span_len
        FROM h
    """
    oracles["nearest_centroid"] = """
        WITH n0 AS (
          SELECT vec_id AS vid, label AS lbl,
            CAST(embedding AS DOUBLE[]) AS v,
            sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[]))) AS nrm
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        q AS (
          SELECT vid, lbl,
            list_transform(v, x -> CAST(FLOOR(x / nrm * 1000000) AS BIGINT))
              AS qv
          FROM n0 WHERE nrm > 0
        ),
        ex AS (
          SELECT vid, lbl, UNNEST(qv) AS qvv,
            generate_subscripts(qv, 1) AS pos
          FROM q
        ),
        cent AS (
          SELECT lbl AS c, pos, SUM(CAST(qvv AS HUGEINT)) AS s
          FROM ex GROUP BY 1, 2
        ),
        nc AS (SELECT lbl AS c, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1),
        dots AS (
          SELECT ex.vid, ex.lbl, cent.c,
            SUM(CAST(ex.qvv AS HUGEINT) * cent.s) AS dot
          FROM ex JOIN cent ON ex.pos = cent.pos
          GROUP BY 1, 2, 3
        ),
        sc AS (
          SELECT d.vid, d.lbl, d.c, (d.dot * 1000000) // nc.n AS score
          FROM dots d JOIN nc ON d.c = nc.c
        ),
        pick AS (
          SELECT vid, lbl, c,
            ROW_NUMBER() OVER (PARTITION BY vid ORDER BY score DESC, c ASC)
              AS rn
          FROM sc
        )
        SELECT lbl AS label, c AS pred, CAST(COUNT(*) AS BIGINT) AS n
        FROM pick WHERE rn = 1 GROUP BY 1, 2
    """
    oracles["tokenizer_fertility"] = r"""
        WITH base AS (
          SELECT lang,
            CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nw,
            CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+')) AS BIGINT) AS ns
          FROM documents
          WHERE text IS NOT NULL AND length(trim(text)) > 0
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(nw) AS BIGINT) AS n_words,
          CAST(SUM(ns) AS BIGINT) AS n_subwords,
          CAST((SUM(ns) * 1000000) // SUM(nw) AS BIGINT) AS fertility_micro
        FROM base GROUP BY lang
    """
    # MMR unrolled: 5 greedy rounds as MATERIALIZED CTEs (every round
    # references its predecessor more than once — the k_truss
    # MATERIALIZED discipline prevents the 3^rounds inlining blowup).
    _mmr_cos = (
        "CASE WHEN sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(s.v, s.v)) = 0 THEN 0.0"
        " ELSE list_dot_product(c.v, s.v)"
        " / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(s.v, s.v))) END"
    )
    _mmr_rounds = []
    for _r in range(2, 6):
        _prev = f"s{_r - 1}"
        _mmr_rounds.append(f"""
        p{_r} AS MATERIALIZED (
          SELECT c.cid, c.v, c.rel, {_r} AS rank
          FROM c
          WHERE c.cid NOT IN (SELECT cid FROM {_prev})
          ORDER BY (0.5 * c.rel - 0.5 * (
            SELECT MAX({_mmr_cos}) FROM {_prev} s)) DESC, c.cid
          LIMIT 1
        ),
        s{_r} AS MATERIALIZED (
          SELECT * FROM {_prev} UNION ALL SELECT cid, v, rel, rank FROM p{_r}
        )""")
    oracles["mmr_rerank"] = f"""
        WITH qv AS MATERIALIZED (
          SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
          WHERE vec_id = 0
        ),
        c AS MATERIALIZED (
          SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS v,
            CASE WHEN sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(q, q)) = 0 THEN 0.0
                 ELSE list_dot_product(CAST(e.embedding AS DOUBLE[]), q)
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(q, q))) END AS rel
          FROM embeddings e, qv
          WHERE e.vec_id <> 0
          ORDER BY rel DESC, cid LIMIT 20
        ),
        s1 AS MATERIALIZED (
          SELECT cid, v, rel, 1 AS rank FROM c ORDER BY rel DESC, cid LIMIT 1
        ),{",".join(_mmr_rounds)}
        SELECT CAST(0 AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
          cid AS vec_id,
          CAST(FLOOR(rel * 1000000) AS BIGINT) AS rel_micro
        FROM s5
    """
    oracles["simhash_provable"] = r"""
        WITH d AS (
          SELECT doc_id AS id,
            list_filter(string_split(
              trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              t -> length(t) > 0) AS toks
          FROM documents WHERE doc_id < 1500
        ),
        tk AS MATERIALIZED (SELECT id, UNNEST(toks) AS t FROM d),
        h AS MATERIALIZED (
          SELECT id,
            CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
          FROM tk
        ),
        pb AS MATERIALIZED (
          SELECT id, bb.b AS b,
            SUM(CASE WHEN ((h >> bb.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
          FROM h CROSS JOIN (SELECT UNNEST(range(0, 60)) AS b) bb
          GROUP BY 1, 2
        ),
        sig AS MATERIALIZED (
          SELECT id,
            CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                     ELSE 0 END) AS BIGINT) AS sig
          FROM pb GROUP BY id
        ),
        bk AS MATERIALIZED (
          SELECT id, sig, kk.k AS k,
            (sig >> (kk.k * 15)) & 32767 AS key
          FROM sig CROSS JOIN (SELECT UNNEST(range(0, 4)) AS k) kk
        ),
        cand AS MATERIALIZED (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
            a.sig AS sa, b.sig AS sb
          FROM bk a JOIN bk b
            ON a.k = b.k AND a.key = b.key AND a.id < b.id
        )
        SELECT id_a, id_b,
          CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 8
    """
    # kmeans_provable: 2 Lloyd rounds unrolled (assign -> update twice,
    # then a final assign for reporting), every CTE MATERIALIZED.
    _km_rounds = []
    for _r in (1, 2):
        _cp = f"c{_r - 1}"
        _km_rounds.append(f"""
        d{_r} AS MATERIALIZED (
          SELECT e.id, c.cid,
            SUM(CAST(e.qv - c.c AS HUGEINT) * (e.qv - c.c)) AS d
          FROM ex e JOIN {_cp} c ON e.pos = c.pos GROUP BY 1, 2
        ),
        a{_r} AS MATERIALIZED (
          SELECT id, cid, d FROM (
            SELECT id, cid, d,
              ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
            FROM d{_r}
          ) WHERE rn = 1
        ),
        c{_r} AS MATERIALIZED (
          SELECT a.cid, e.pos,
            CAST(CAST(SUM(e.qv) AS HUGEINT) // COUNT(*) AS BIGINT) AS c
          FROM a{_r} a JOIN ex e ON e.id = a.id GROUP BY 1, 2
        )""")
    oracles["kmeans_provable"] = f"""
        WITH q AS MATERIALIZED (
          SELECT vec_id AS id,
            list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv
          FROM embeddings WHERE vec_id < 400 AND embedding IS NOT NULL
        ),
        ex AS MATERIALIZED (
          SELECT id, UNNEST(qv) AS qv,
            generate_subscripts(qv, 1) AS pos
          FROM q
        ),
        seed AS MATERIALIZED (
          SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS BIGINT)
            AS cid
          FROM (SELECT id FROM q ORDER BY id LIMIT 4)
        ),
        c0 AS MATERIALIZED (
          SELECT s.cid, e.pos, e.qv AS c
          FROM seed s JOIN ex e ON e.id = s.id
        ),{",".join(_km_rounds)},
        df AS MATERIALIZED (
          SELECT e.id, c.cid,
            SUM(CAST(e.qv - c.c AS HUGEINT) * (e.qv - c.c)) AS d
          FROM ex e JOIN c2 c ON e.pos = c.pos GROUP BY 1, 2
        ),
        af AS MATERIALIZED (
          SELECT id, cid, d FROM (
            SELECT id, cid, d,
              ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
            FROM df
          ) WHERE rn = 1
        )
        SELECT cid AS centroid_id, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(d) AS BIGINT) AS inertia
        FROM af GROUP BY cid
    """
    # pca_provable: 8 power-iteration rounds unrolled, MATERIALIZED.
    _pi_rounds = []
    for _r in range(1, 9):
        _vp = f"v{_r - 1}"
        _pi_rounds.append(f"""
        w{_r} AS MATERIALIZED (
          SELECT cov.i AS pos, SUM(cov.cv * v.v) AS w
          FROM cov JOIN {_vp} v ON cov.j = v.pos GROUP BY 1
        ),
        n{_r} AS MATERIALIZED (
          SELECT sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nr FROM w{_r}
        ),
        v{_r} AS MATERIALIZED (
          SELECT pos,
            CAST(FLOOR(CAST(w AS DOUBLE) / nr * 1000000) AS HUGEINT) AS v
          FROM w{_r}, n{_r}
        )""")
    oracles["pca_provable"] = f"""
        WITH q AS MATERIALIZED (
          SELECT vec_id AS id,
            list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS qv
          FROM embeddings WHERE vec_id < 500 AND embedding IS NOT NULL
        ),
        ex AS MATERIALIZED (
          SELECT id, UNNEST(qv) AS x,
            CAST(generate_subscripts(qv, 1) - 1 AS BIGINT) AS pos
          FROM q
        ),
        m AS MATERIALIZED (
          SELECT pos, CAST(CAST(SUM(x) AS HUGEINT) // COUNT(*) AS BIGINT)
            AS m
          FROM ex GROUP BY pos
        ),
        cx AS MATERIALIZED (
          SELECT e.id, e.pos, e.x - m.m AS x
          FROM ex e JOIN m ON e.pos = m.pos
        ),
        cov AS MATERIALIZED (
          SELECT a.pos AS i, b.pos AS j,
            SUM(CAST(a.x AS HUGEINT) * b.x) AS cv
          FROM cx a JOIN cx b ON a.id = b.id GROUP BY 1, 2
        ),
        v0 AS MATERIALIZED (
          SELECT DISTINCT j AS pos, CAST(1000000 AS HUGEINT) AS v FROM cov
        ),{",".join(_pi_rounds)}
        SELECT CAST(pos AS BIGINT) AS pos, CAST(v AS BIGINT)
          AS component_micro
        FROM v8
    """
    # interpolate_provable: integer segment interpolation; DuckDB //
    # truncates toward zero exactly like Spark DIV (verified incl.
    # negatives), epoch_us mirrors unix_micros under the UTC session.
    oracles["interpolate_provable"] = """
        WITH obs AS (
          SELECT user_id, epoch_us(ts) AS t,
            CAST(FLOOR(value * 1000000) AS BIGINT) AS vm
          FROM events WHERE event_type = 'view'
        ),
        ded AS MATERIALIZED (
          SELECT user_id, t, MAX(vm) AS vm FROM obs GROUP BY 1, 2
        ),
        seg AS (
          SELECT user_id, t AS t0, vm AS v0,
            LEAD(t) OVER (PARTITION BY user_id ORDER BY t) AS t1,
            LEAD(vm) OVER (PARTITION BY user_id ORDER BY t) AS v1
          FROM ded
        ),
        q AS MATERIALIZED (
          SELECT user_id, ts AS query_ts, epoch_us(ts) AS qt
          FROM events WHERE event_type = 'click'
        ),
        btw AS (
          SELECT q.user_id, q.query_ts,
            CAST(CAST(s.v0 AS HUGEINT)
              + ((CAST(s.v1 AS HUGEINT) - s.v0) * (q.qt - s.t0))
                // (s.t1 - s.t0) AS BIGINT) AS value_micro
          FROM q JOIN seg s ON q.user_id = s.user_id
            AND q.qt >= s.t0 AND q.qt < s.t1
          WHERE s.t1 IS NOT NULL
        ),
        lastp AS (
          SELECT d.user_id, d.t, d.vm
          FROM ded d
          JOIN (SELECT user_id, MAX(t) AS t FROM ded GROUP BY 1) m
            ON d.user_id = m.user_id AND d.t = m.t
        )
        SELECT * FROM btw
        UNION ALL
        SELECT q.user_id, q.query_ts, l.vm AS value_micro
        FROM q JOIN lastp l ON q.user_id = l.user_id AND q.qt = l.t
    """
    # pack_bestfit: the SAME greedy best-fit-decreasing loop as the
    # Spark applyInPandas path, replayed as a per-shard recursive CTE
    # (one recursion step = one item; state = that shard's bin loads).
    # Tie rule matches: list_max picks the fullest eligible load,
    # list_position its FIRST (lowest-id) bin.
    oracles["pack_bestfit"] = f"""
        WITH RECURSIVE it AS MATERIALIZED (
          SELECT doc_id, doc_id % 4 AS shard,
            CAST({_N_TOKENS} AS BIGINT) AS sz,
            ROW_NUMBER() OVER (
              PARTITION BY doc_id % 4
              ORDER BY CAST({_N_TOKENS} AS BIGINT) DESC, doc_id
            ) AS rn
          FROM documents
        ),
        cnt AS MATERIALIZED (
          SELECT shard, COUNT(*) AS m FROM it GROUP BY 1
        ),
        step AS (
          SELECT shard, 0 AS i,
            CAST([] AS BIGINT[]) AS loads, CAST([] AS BIGINT[]) AS asg
          FROM cnt
          UNION ALL
          SELECT s.shard, s.i + 1,
            CASE WHEN p.pos IS NULL THEN list_append(s.loads, it.sz)
              ELSE list_transform(range(1, len(s.loads) + 1),
                j -> CASE WHEN j = p.pos THEN s.loads[j] + it.sz
                     ELSE s.loads[j] END)
            END,
            list_append(s.asg,
              CASE WHEN p.pos IS NULL THEN len(s.loads) + 1 ELSE p.pos END)
          FROM step s
          JOIN it ON it.shard = s.shard AND it.rn = s.i + 1
          CROSS JOIN LATERAL (
            SELECT list_position(s.loads,
              list_max(list_filter(s.loads, l -> l + it.sz <= 256))) AS pos
          ) p
        ),
        fin AS (
          SELECT s.shard, s.asg FROM step s JOIN cnt c USING (shard)
          WHERE s.i = c.m
        ),
        ax AS (
          SELECT shard, unnest(asg) AS bin,
            generate_subscripts(asg, 1) AS rn
          FROM fin
        )
        SELECT it.doc_id, CAST(it.shard AS BIGINT) AS shard,
          CAST(ax.bin AS BIGINT) AS bin
        FROM ax JOIN it ON it.shard = ax.shard AND it.rn = ax.rn
    """
    # contamination_lm: eval bigrams priced under the train-slice
    # add-one bigram LM; one unified ln covers seen/unseen.
    oracles["contamination_lm"] = r"""
        WITH tr AS MATERIALIZED (
          SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
        ),
        ev AS MATERIALIZED (
          SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        ),
        tp AS MATERIALIZED (
          SELECT doc_id, w1, w2 FROM (
            SELECT doc_id,
              unnest(list_transform(generate_series(1, len(t) - 1),
                i -> struct_pack(w1 := t[i], w2 := t[i + 1])),
                recursive := true)
            FROM (
              SELECT doc_id,
                string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
              FROM tr
            )
          ) WHERE w1 <> '' AND w2 <> ''
        ),
        corpus AS MATERIALIZED (
          SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM tp GROUP BY 1, 2
        ),
        c1 AS MATERIALIZED (
          SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM corpus GROUP BY 1
        ),
        v AS (
          SELECT COUNT(*) AS vs FROM (
            SELECT w1 AS w FROM tp UNION SELECT w2 AS w FROM tp
          )
        ),
        ep AS (
          SELECT doc_id, w1, w2 FROM (
            SELECT doc_id,
              unnest(list_transform(generate_series(1, len(t) - 1),
                i -> struct_pack(w1 := t[i], w2 := t[i + 1])),
                recursive := true)
            FROM (
              SELECT doc_id,
                string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
              FROM ev
            )
          ) WHERE w1 <> '' AND w2 <> ''
        ),
        etf AS MATERIALIZED (
          SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
          FROM ep GROUP BY 1, 2, 3
        ),
        scored AS (
          SELECT etf.doc_id, etf.tf,
            COALESCE(corpus.c12, 0) AS c12,
            CAST(floor(ln(CAST(COALESCE(corpus.c12, 0) + 1 AS DOUBLE)
                          / CAST(COALESCE(c1.c1, 0) + vs AS DOUBLE))
                       * 1000000.0) AS BIGINT) AS lp_micro
          FROM etf
          LEFT JOIN corpus ON etf.w1 = corpus.w1 AND etf.w2 = corpus.w2
          LEFT JOIN c1 ON etf.w1 = c1.w1
          CROSS JOIN v
        )
        SELECT doc_id,
          CAST(SUM(tf) AS BIGINT) AS n_bigrams,
          CAST(SUM(CASE WHEN c12 > 0 THEN tf ELSE 0 END) AS BIGINT) AS n_seen,
          CAST(-SUM(tf * lp_micro) AS BIGINT) AS xent_micro,
          CAST(CAST(-SUM(tf * lp_micro) AS HUGEINT) // SUM(tf) AS BIGINT)
            AS mean_xent_micro
        FROM scored GROUP BY doc_id
    """
    # quality_calibration: md5 hashed-BoW integer scores, Knuth-mixer
    # weights, per-domain ntile bins (semantics verified identical).
    oracles["quality_calibration"] = r"""
        WITH tb AS MATERIALIZED (
          SELECT doc_id,
            CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket
          FROM (
            SELECT doc_id,
              unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
            FROM documents
          ) WHERE tok <> ''
        ),
        bc AS (
          SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
          FROM tb GROUP BY 1, 2
        ),
        sc AS MATERIALIZED (
          SELECT doc_id,
            CAST(SUM(n * ((((bucket + 1) * 2654435761) % 1000003) % 17 - 8))
              AS BIGINT) AS score
          FROM bc GROUP BY 1
        ),
        lab AS (
          SELECT doc_id, source AS domain,
            CASE WHEN CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
                 >= 60 THEN 1 ELSE 0 END AS pos
          FROM documents
        ),
        b AS (
          SELECT lab.domain,
            ntile(10) OVER (PARTITION BY lab.domain ORDER BY sc.score, sc.doc_id)
              AS bin,
            sc.score, lab.pos
          FROM sc JOIN lab ON sc.doc_id = lab.doc_id
        )
        SELECT domain, CAST(bin AS BIGINT) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(pos) AS BIGINT) AS n_pos,
          CAST(MIN(score) AS BIGINT) AS min_score,
          CAST(MAX(score) AS BIGINT) AS max_score
        FROM b GROUP BY 1, 2
    """
    # curriculum_schedule: exact-binary-fraction alphas (64ths), pow
    # micro-quantized at birth, integer-// shares.
    oracles["curriculum_schedule"] = """
        WITH c AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1
        ),
        s AS (SELECT unnest(range(0, 17)) AS step),
        w AS (
          SELECT step, lang, n,
            CAST(64 - 3 * step AS BIGINT) AS alpha_64,
            CAST(FLOOR(POW(CAST(n AS DOUBLE),
                           CAST(64 - 3 * step AS DOUBLE) / 64.0)
                       * 1000000.0) AS BIGINT) AS w_micro
          FROM c CROSS JOIN s
        )
        SELECT CAST(step AS BIGINT) AS step, lang, n, alpha_64, w_micro,
          CAST((CAST(w_micro AS HUGEINT) * 1000000)
               // SUM(w_micro) OVER (PARTITION BY step) AS BIGINT)
            AS share_ppm
        FROM w
    """
    # dedup_keep_best: keep-best semantics replayed with a window
    # (the Spark path is a partial-agg struct max — same total order).
    oracles["dedup_keep_best"] = f"""
        WITH all_docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 500000, text FROM documents
        ),
        scored AS (
          SELECT doc_id,
            CAST(((doc_id % 1000003) * 2654435761) % 1000003 AS BIGINT)
              AS score,
            md5({_NORM_TEXT}) AS fingerprint
          FROM all_docs
        ),
        r AS (
          SELECT fingerprint, doc_id, score,
            ROW_NUMBER() OVER (
              PARTITION BY fingerprint ORDER BY score DESC, doc_id
            ) AS rn,
            COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
          FROM scored
        )
        SELECT fingerprint, doc_id, score, CAST(n_copies AS BIGINT) AS n_copies
        FROM r WHERE rn = 1
    """
    oracles["packing_efficiency"] = f"""
        WITH agg AS (
          SELECT doc_id % 8 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM({_N_TOKENS}) AS BIGINT) AS total_tokens
          FROM documents GROUP BY 1
        )
        SELECT CAST(shard AS BIGINT) AS shard, n_docs, total_tokens,
          CASE WHEN total_tokens <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(FLOOR((total_tokens - 1) / 256) + 1 AS BIGINT)
          END AS n_blocks,
          CASE WHEN total_tokens <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((CAST(total_tokens AS HUGEINT) * 1000000)
                 // (256 * (CAST(FLOOR((total_tokens - 1) / 256) AS HUGEINT) + 1))
                 AS BIGINT)
          END AS fill_ppm
        FROM agg
    """
    # rouge_overlap: set-based ROUGE-2 of every-3rd-token-dropped
    # 'generations' vs their reference docs; all-integer micro cells.
    oracles["rouge_overlap"] = r"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS l
          FROM documents
        ),
        gtoks AS MATERIALIZED (
          SELECT doc_id,
            list_select(l, list_filter(range(1, len(l) + 1), i -> i % 3 != 0)) AS l
          FROM toks
        ),
        rg AS MATERIALIZED (
          SELECT doc_id, g FROM (
            SELECT doc_id,
              unnest(list_distinct(list_transform(
                generate_series(1, greatest(len(l) - 1, 1)),
                i -> array_to_string(l[i:i+1], ' ')))) AS g
            FROM toks
          ) WHERE length(g) > 0
        ),
        gg AS MATERIALIZED (
          SELECT doc_id, g FROM (
            SELECT doc_id,
              unnest(list_distinct(list_transform(
                generate_series(1, greatest(len(l) - 1, 1)),
                i -> array_to_string(l[i:i+1], ' ')))) AS g
            FROM gtoks
          ) WHERE length(g) > 0
        ),
        nr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ref FROM rg GROUP BY 1),
        ng AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_gen FROM gg GROUP BY 1),
        m AS (
          SELECT rg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_match
          FROM rg JOIN gg ON rg.doc_id = gg.doc_id AND rg.g = gg.g
          GROUP BY 1
        )
        SELECT nr.doc_id, nr.n_ref, ng.n_gen,
          COALESCE(m.n_match, 0) AS n_match,
          CAST((CAST(COALESCE(m.n_match, 0) AS HUGEINT) * 1000000)
               // nr.n_ref AS BIGINT) AS recall_micro,
          CAST((CAST(COALESCE(m.n_match, 0) AS HUGEINT) * 1000000)
               // ng.n_gen AS BIGINT) AS precision_micro,
          CAST((CAST(COALESCE(m.n_match, 0) AS HUGEINT) * 2000000)
               // (nr.n_ref + ng.n_gen) AS BIGINT) AS f1_micro
        FROM nr JOIN ng ON nr.doc_id = ng.doc_id
        LEFT JOIN m ON nr.doc_id = m.doc_id
    """
    # pass_at_k: unbiased pass@3 over (order -> line items); the k!
    # cancels, so the estimator is a ratio of falling factorials —
    # numerator crosses zero exactly when n-c < 3. All-integer.
    oracles["pass_at_k"] = """
        WITH per AS (
          SELECT l_orderkey,
            CAST(COUNT(*) AS BIGINT) AS n_samples,
            CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_correct
          FROM lineitem GROUP BY 1
        )
        SELECT n_samples, n_correct,
          CAST(COUNT(*) AS BIGINT) AS n_problems,
          CAST(1000000 - (CAST(1000000 AS HUGEINT)
              * (n_samples - n_correct)
              * (n_samples - n_correct - 1)
              * (n_samples - n_correct - 2))
            // (CAST(n_samples AS HUGEINT)
              * (n_samples - 1) * (n_samples - 2)) AS BIGINT)
            AS pass_at_k_micro
        FROM per WHERE n_samples >= 3 GROUP BY 1, 2
    """
    # self_consistency: majority-vote accuracy; the struct-min argmax
    # is replayed as arg_min over the encoded key -votes*8 + answer
    # (answers live in [0,7), so the encoding is order-isomorphic).
    oracles["self_consistency"] = """
        WITH base AS (
          SELECT user_id AS problem_id,
            (((user_id % 1000003) * 2654435761) % 1000003) % 7 AS gold,
            (((event_id % 1000003) * 2654435761) % 1000003) AS s,
            ((((event_id + 13) % 1000003) * 2654435761) % 1000003) % 7 AS alt
          FROM events
        ),
        samp AS (
          SELECT problem_id, gold,
            CASE WHEN s % 3 < 2 THEN gold ELSE alt END AS answer
          FROM base
        ),
        counts AS (
          SELECT problem_id, answer, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM samp GROUP BY 1, 2
        ),
        top AS (
          SELECT problem_id,
            arg_min(answer, (-cnt) * 8 + answer) AS majority,
            MAX(cnt) AS votes,
            CAST(SUM(cnt) AS BIGINT) AS n_votes
          FROM counts GROUP BY 1
        ),
        gold AS (SELECT problem_id, MIN(gold) AS gold FROM samp GROUP BY 1),
        per AS (
          SELECT t.votes, t.n_votes,
            CASE WHEN t.majority = g.gold THEN 1 ELSE 0 END AS ok
          FROM top t JOIN gold g USING (problem_id)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_problems,
          CAST(SUM(ok) AS BIGINT) AS n_majority_correct,
          CAST((CAST(SUM(ok) AS HUGEINT) * 1000000) // COUNT(*)
               AS BIGINT) AS accuracy_micro,
          CAST(SUM((CAST(votes AS HUGEINT) * 1000000) // n_votes)
               // COUNT(*) AS BIGINT) AS mean_vote_share_micro
        FROM per
    """
    # bleu_clipped: corpus clipped n-gram precision (n = 1, 2) of
    # every-4th-token-dropped 'generations' vs their references —
    # MULTISET counts (no list_distinct), credit clipped per (doc, n,
    # gram) at the reference count.
    oracles["bleu_clipped"] = r"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS l
          FROM documents
        ),
        gtoks AS MATERIALIZED (
          SELECT doc_id,
            list_select(l, list_filter(range(1, len(l) + 1), i -> i % 4 != 0)) AS l
          FROM toks
        ),
        rg AS MATERIALIZED (
          SELECT doc_id, n, g FROM (
            SELECT doc_id, 1 AS n,
              unnest(list_transform(generate_series(1, greatest(len(l), 1)),
                i -> array_to_string(l[i:i], ' '))) AS g
            FROM toks
            UNION ALL
            SELECT doc_id, 2 AS n,
              unnest(list_transform(generate_series(1, greatest(len(l) - 1, 1)),
                i -> array_to_string(l[i:i+1], ' '))) AS g
            FROM toks
          ) WHERE length(g) > 0
        ),
        gg AS MATERIALIZED (
          SELECT doc_id, n, g FROM (
            SELECT doc_id, 1 AS n,
              unnest(list_transform(generate_series(1, greatest(len(l), 1)),
                i -> array_to_string(l[i:i], ' '))) AS g
            FROM gtoks
            UNION ALL
            SELECT doc_id, 2 AS n,
              unnest(list_transform(generate_series(1, greatest(len(l) - 1, 1)),
                i -> array_to_string(l[i:i+1], ' '))) AS g
            FROM gtoks
          ) WHERE length(g) > 0
        ),
        rc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
               FROM rg GROUP BY 1, 2, 3),
        gc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
               FROM gg GROUP BY 1, 2, 3),
        clip AS (
          SELECT gc.n, CAST(SUM(LEAST(gc.c, rc.c)) AS BIGINT) AS total_clipped
          FROM gc JOIN rc
            ON gc.doc_id = rc.doc_id AND gc.n = rc.n AND gc.g = rc.g
          GROUP BY 1
        ),
        rt AS (SELECT n, CAST(SUM(c) AS BIGINT) AS total_ref FROM rc GROUP BY 1),
        gt AS (SELECT n, CAST(SUM(c) AS BIGINT) AS total_gen FROM gc GROUP BY 1)
        SELECT CAST(COALESCE(rt.n, gt.n) AS INT) AS n,
          COALESCE(rt.total_ref, 0) AS total_ref,
          COALESCE(gt.total_gen, 0) AS total_gen,
          COALESCE(clip.total_clipped, 0) AS total_clipped,
          COALESCE(CAST((CAST(COALESCE(clip.total_clipped, 0) AS HUGEINT)
               * 1000000) // NULLIF(gt.total_gen, 0) AS BIGINT), 0)
            AS precision_micro
        FROM rt FULL OUTER JOIN gt ON rt.n = gt.n
        LEFT JOIN clip ON COALESCE(rt.n, gt.n) = clip.n
    """
    # fleiss_kappa: chance-corrected agreement of 5 deterministic
    # synthetic raters per document; kappa as an exact integer
    # num/den pair plus truncated micro ratio (HUGEINT // truncates
    # toward zero, matching Spark's DECIMAL DIV).
    oracles["fleiss_kappa"] = """
        WITH rated AS (
          SELECT d.doc_id AS item_id, r.rater,
            CASE WHEN (((d.doc_id * 5 + r.rater) % 1000003) * 2654435761)
                     % 1000003 % 4 < 3
              THEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 4
              ELSE ((((d.doc_id * 5 + r.rater + 101) % 1000003) * 2654435761)
                   % 1000003) % 4
            END AS category
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 5)) AS rater) r
        ),
        nij AS (
          SELECT item_id, category, CAST(COUNT(*) AS BIGINT) AS c
          FROM rated GROUP BY 1, 2
        ),
        tot AS (
          SELECT CAST(SUM(c * c) AS BIGINT) AS s_sq,
            CAST(SUM(c) AS BIGINT) AS t,
            CAST(COUNT(DISTINCT item_id) AS BIGINT) AS n_items
          FROM nij
        ),
        col2 AS (
          SELECT CAST(SUM(cj * cj) AS BIGINT) AS c_sq FROM (
            SELECT CAST(SUM(c) AS BIGINT) AS cj FROM nij GROUP BY category
          )
        )
        SELECT n_items,
          CAST(t // n_items AS BIGINT) AS n_raters,
          t AS total_ratings, s_sq, c_sq,
          CAST((((CAST(s_sq AS HUGEINT) - t) * t
                 - (t // n_items - 1) * CAST(c_sq AS HUGEINT)) * 1000000)
               // NULLIF((t // n_items - 1)
                 * (CAST(t AS HUGEINT) * t - c_sq), 0) AS BIGINT)
            AS kappa_micro
        FROM tot CROSS JOIN col2
    """
    # kcenter_select: greedy farthest-point over micro-quantized
    # integers, 7 unrolled rounds; per-round pick replayed as
    # ORDER BY dmin DESC, id ASC LIMIT 1 (== max(struct(dmin, -id))).
    _kc_rounds = []
    for _r in range(2, 9):
        _prev = f"s{_r - 1}"
        _kc_rounds.append(f"""
        d{_r} AS MATERIALIZED (
          SELECT id, MIN(dd) AS dmin FROM (
            SELECT e.id, s.id AS sid,
              SUM(CAST(e.qv - s.c AS HUGEINT) * (e.qv - s.c)) AS dd
            FROM ex e JOIN {_prev} s ON e.pos = s.pos
            WHERE e.id NOT IN (SELECT DISTINCT id FROM {_prev})
            GROUP BY 1, 2
          ) GROUP BY id
        ),
        p{_r} AS MATERIALIZED (
          SELECT id, CAST(dmin AS BIGINT) AS dmin
          FROM d{_r} ORDER BY dmin DESC, id ASC LIMIT 1
        ),
        s{_r} AS MATERIALIZED (
          SELECT * FROM {_prev}
          UNION ALL
          SELECT CAST({_r} AS BIGINT) AS rank, e.id, e.pos, e.qv AS c,
            p.dmin
          FROM ex e JOIN p{_r} p ON e.id = p.id
        )""")
    oracles["kcenter_select"] = f"""
        WITH q AS MATERIALIZED (
          SELECT vec_id AS id,
            list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv
          FROM embeddings WHERE vec_id < 500 AND embedding IS NOT NULL
        ),
        ex AS MATERIALIZED (
          SELECT id, UNNEST(qv) AS qv,
            generate_subscripts(qv, 1) AS pos
          FROM q
        ),
        s1 AS MATERIALIZED (
          SELECT CAST(1 AS BIGINT) AS rank, e.id, e.pos, e.qv AS c,
            CAST(NULL AS BIGINT) AS dmin
          FROM ex e WHERE e.id = (SELECT MIN(id) FROM q)
        ),{",".join(_kc_rounds)}
        SELECT DISTINCT rank, id AS vec_id, dmin FROM s8
    """
    # bradley_terry: Hunter-MM over the bounded directed pair table,
    # 4 unrolled rounds, term-wise truncating division at scale^2.
    _bt_rounds = []
    for _r in range(1, 5):
        _prev = f"r{_r - 1}"
        _bt_rounds.append(f"""
        d{_r} AS MATERIALIZED (
          SELECT dir.i AS p,
            SUM((CAST(n AS HUGEINT) * 1000000000000) // (ri.r + rj.r)) AS d
          FROM dir
          JOIN {_prev} ri ON dir.i = ri.p
          JOIN {_prev} rj ON dir.j = rj.p
          GROUP BY 1
        ),
        r{_r} AS MATERIALIZED (
          SELECT b.p,
            GREATEST(COALESCE((CAST(b.wins + 1 AS HUGEINT) * 1000000000000)
                     // NULLIF(d.d, 0), 1), 1) AS r
          FROM base b JOIN d{_r} d ON b.p = d.p
        )""")
    oracles["bradley_terry"] = f"""
        WITH src AS MATERIALIZED (
          SELECT l_suppkey % 20 AS i, l_partkey % 20 AS j,
            ((((l_orderkey * 8 + l_linenumber) % 1000003) * 2654435761)
             % 1000003) % 2 = 0 AS win
          FROM lineitem WHERE l_suppkey % 20 <> l_partkey % 20
        ),
        m AS MATERIALIZED (
          SELECT CAST(CASE WHEN win THEN i ELSE j END AS BIGINT) AS w,
            CAST(CASE WHEN win THEN j ELSE i END AS BIGINT) AS l
          FROM src
        ),
        pairs AS MATERIALIZED (
          SELECT LEAST(w, l) AS a, GREATEST(w, l) AS b,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM m GROUP BY 1, 2
        ),
        dir AS MATERIALIZED (
          SELECT a AS i, b AS j, n FROM pairs
          UNION ALL
          SELECT b AS i, a AS j, n FROM pairs
        ),
        wins AS (SELECT w AS p, CAST(COUNT(*) AS BIGINT) AS wins
                 FROM m GROUP BY 1),
        base AS MATERIALIZED (
          SELECT pl.p, COALESCE(wins.wins, 0) AS wins
          FROM (SELECT DISTINCT i AS p FROM dir) pl
          LEFT JOIN wins ON pl.p = wins.p
        ),
        r0 AS MATERIALIZED (
          SELECT p, CAST(1000000 AS HUGEINT) AS r FROM base
        ),{",".join(_bt_rounds)}
        SELECT b.p AS player, b.wins, nm.n_matches,
          CAST(r4.r AS BIGINT) AS rating_micro
        FROM base b
        JOIN (SELECT i AS p, CAST(SUM(n) AS BIGINT) AS n_matches
              FROM dir GROUP BY 1) nm ON b.p = nm.p
        JOIN r4 ON b.p = r4.p
    """
    # cliffs_delta: all-pairs dominance from the distinct-value
    # aggregate (the mann_whitney shape); signed micro ratio truncates
    # toward zero in both engines.
    oracles["cliffs_delta"] = """
        WITH vc AS (
          SELECT l_quantity AS v,
            CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_b
          FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1
        ),
        c AS (
          SELECT n_a, n_b,
            COALESCE(SUM(n_b) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM vc
        ),
        agg AS (
          SELECT CAST(SUM(n_a) AS BIGINT) AS n_a,
            CAST(SUM(n_b) AS BIGINT) AS n_b,
            CAST(SUM(n_a * cb) AS BIGINT) AS n_gt,
            CAST(SUM(n_a * n_b) AS BIGINT) AS n_ties
          FROM c
        )
        SELECT n_a, n_b, n_gt,
          CAST(n_a * n_b - n_gt - n_ties AS BIGINT) AS n_lt,
          n_ties,
          CAST((CAST(n_gt AS HUGEINT) - (n_a * n_b - n_gt - n_ties))
               * 1000000 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
            AS delta_micro
        FROM agg
    """
    # good_turing: count-of-counts + Turing discounts; N_{r+1} by
    # self-join on r+1 (frequency gaps make lead() wrong).
    oracles["good_turing"] = r"""
        WITH lists AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS l
          FROM documents
        ),
        toks AS (
          SELECT unnest(list_transform(
            generate_series(1, greatest(len(l) - 2, 1)),
            i -> array_to_string(l[i:i+2], ' '))) AS tok
          FROM lists
        ),
        freq AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS r
          FROM toks WHERE length(tok) > 0 GROUP BY 1
        ),
        cc AS (
          SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
          FROM freq WHERE r <= 11 GROUP BY 1
        )
        SELECT l.r, l.n_r,
          COALESCE(n.n_r, 0) AS n_r_next,
          CAST((l.r + 1) * CAST(COALESCE(n.n_r, 0) AS HUGEINT) * 1000000
               // l.n_r AS BIGINT) AS r_star_micro
        FROM cc l LEFT JOIN cc n ON n.r = l.r + 1
        WHERE l.r <= 10
    """
    # retrieval_mrr / ndcg_eval: the shared deterministic ranking
    # fixture — every events user queries 10 candidate docs with
    # Knuth-mixed scores (and graded relevance for NDCG).
    _rank_fixture = """
        users AS (SELECT DISTINCT user_id FROM events),
        cand AS (
          SELECT user_id, d.d,
            ((((user_id * 16 + d.d) % 1000003) * 2654435761) % 1000003)
              AS s,
            ((((user_id * 16 + d.d + 3) % 1000003) * 2654435761)
              % 1000003) % 4 AS rel
          FROM users CROSS JOIN (SELECT unnest(range(0, 10)) AS d) d
        ),
        ranked AS (
          SELECT user_id AS query_id, CAST(d AS BIGINT) AS doc_id, rel,
            CAST(ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY s DESC, d ASC) AS BIGINT) AS rank
          FROM cand
        )"""
    oracles["retrieval_mrr"] = f"""
        WITH {_rank_fixture},
        gold AS (
          SELECT user_id AS query_id,
            CAST(((((user_id + 7) % 1000003) * 2654435761) % 1000003)
                 % 10 AS BIGINT) AS doc_id
          FROM users
        ),
        topk AS (SELECT * FROM ranked WHERE rank <= 5),
        hits AS (
          SELECT t.query_id, MIN(rank) AS first,
            CAST(COUNT(*) AS BIGINT) AS hits
          FROM topk t
          JOIN gold g ON t.query_id = g.query_id AND t.doc_id = g.doc_id
          GROUP BY 1
        ),
        gn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS g
               FROM gold GROUP BY 1),
        per AS (
          SELECT COALESCE(h.hits, 0) AS h, COALESCE(gn.g, 0) AS g,
            COALESCE(CAST(1000000 AS HUGEINT) // h.first, 0) AS rr
          FROM (SELECT query_id FROM ranked UNION
                SELECT query_id FROM gold) q
          LEFT JOIN hits h ON q.query_id = h.query_id
          LEFT JOIN gn ON q.query_id = gn.query_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
          CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hit_queries,
          CAST(SUM(rr) // COUNT(*) AS BIGINT) AS mrr_micro,
          CAST(SUM(h) AS BIGINT) AS n_hits,
          CAST(SUM(g) AS BIGINT) AS n_gold,
          CAST(CAST(SUM(h) AS HUGEINT) * 1000000 // NULLIF(SUM(g), 0)
               AS BIGINT) AS recall_at_k_micro
        FROM per
    """
    import math as _math

    _ndcg_case_rank = (
        "CASE rank "
        + " ".join(
            f"WHEN {i} THEN CAST({int(_math.floor(1e12 / _math.log2(i + 1)))}"
            " AS HUGEINT)"
            for i in range(1, 9)
        )
        + " END"
    )
    _ndcg_case_pos = _ndcg_case_rank.replace("CASE rank", "CASE pos")
    oracles["ndcg_eval"] = f"""
        WITH {_rank_fixture},
        top AS (SELECT * FROM ranked WHERE rank <= 8),
        dcg AS (
          SELECT query_id,
            SUM(CAST(rel AS HUGEINT) * ({_ndcg_case_rank})) AS dcg
          FROM top GROUP BY 1
        ),
        ip AS (
          SELECT query_id, rel,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rel DESC, rank ASC) AS pos
          FROM top
        ),
        idcg AS (
          SELECT query_id,
            SUM(CAST(rel AS HUGEINT) * ({_ndcg_case_pos})) AS idcg
          FROM ip GROUP BY 1
        ),
        per AS (
          SELECT d.dcg, i.idcg, (d.dcg * 1000000) // i.idcg AS nd
          FROM dcg d JOIN idcg i ON d.query_id = i.query_id
          WHERE i.idcg > 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
          CAST(SUM(dcg) AS BIGINT) AS sum_dcg,
          CAST(SUM(idcg) AS BIGINT) AS sum_idcg,
          CAST(SUM(nd) // COUNT(*) AS BIGINT) AS mean_ndcg_micro
        FROM per
    """
    # mcnemar_test: continuity-corrected paired comparison of two
    # deterministic synthetic classifiers; discordant cells only.
    oracles["mcnemar_test"] = """
        WITH scored AS (
          SELECT
            (((doc_id % 1000003) * 2654435761) % 1000003) % 5 < 3
              AS a,
            ((((doc_id + 29) % 1000003) * 2654435761) % 1000003) % 5 < 3
              AS b
          FROM documents
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
            CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
              AS n_both_right,
            CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
              AS n_only_a,
            CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
              AS n_only_b,
            CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_both_wrong
          FROM scored
        )
        SELECT n_items, n_both_right, n_only_a, n_only_b, n_both_wrong,
          CAST((ABS(CAST(n_only_a AS HUGEINT) - n_only_b) - 1)
               * (ABS(CAST(n_only_a AS HUGEINT) - n_only_b) - 1)
               * 1000000 // NULLIF(n_only_a + n_only_b, 0) AS BIGINT)
            AS chi2_micro
        FROM agg
    """
    # chao1_vocab: bias-corrected Chao1 richness over word trigram
    # types (same gram construction as good_turing).
    oracles["chao1_vocab"] = r"""
        WITH lists AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS l
          FROM documents
        ),
        toks AS (
          SELECT unnest(list_transform(
            generate_series(1, greatest(len(l) - 2, 1)),
            i -> array_to_string(l[i:i+2], ' '))) AS tok
          FROM lists
        ),
        freq AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS r
          FROM toks WHERE length(tok) > 0 GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
          CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(CAST(COUNT(*) AS HUGEINT) * 1000000
               + CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS HUGEINT)
               * (SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) - 1) * 1000000
               // (2 * (SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) + 1))
               AS BIGINT) AS chao1_micro
        FROM freq
    """
    # k_anonymity: equivalence-class audit under the (nation, segment)
    # quasi-identifier pair; exposure mass = rows in classes < k.
    oracles["k_anonymity"] = """
        WITH classes AS (
          SELECT c_nationkey, c_mktsegment,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM customer GROUP BY 1, 2
        )
        SELECT CAST(5 AS BIGINT) AS k,
          CAST(SUM(n) AS BIGINT) AS n_rows,
          CAST(COUNT(*) AS BIGINT) AS n_classes,
          CAST(MIN(n) AS BIGINT) AS min_class_size,
          CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating_classes,
          CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
            AS n_violating_rows
        FROM classes
    """
    # ablation_arms: bit i of the Knuth bucket selects arm i; the
    # co-keyed self-join yields the 8x8 overlap matrix.
    oracles["ablation_arms"] = """
        WITH m AS (
          SELECT doc_id,
            ((doc_id % 1000003) * 2654435761) % 1000003 AS mm
          FROM documents
        ),
        ex AS (
          SELECT DISTINCT doc_id, i.i FROM m
          CROSS JOIN (SELECT unnest(range(0, 8)) AS i) i
          WHERE ((mm >> i.i) & 1) = 1
        )
        SELECT CAST(a.i AS BIGINT) AS arm_i, CAST(b.i AS BIGINT) AS arm_j,
          CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM ex a JOIN ex b ON a.doc_id = b.doc_id
        GROUP BY 1, 2
    """
    # dawid_skene: hard-EM consensus labeling, 2 unrolled rounds; the
    # struct-min argmaxes replay as arg_min over -w*8 + label (labels
    # in [0,8), order-isomorphic).
    oracles["dawid_skene"] = """
        WITH rated AS MATERIALIZED (
          SELECT d.doc_id AS it, r.rater AS r,
            CASE WHEN (((d.doc_id * 5 + r.rater) % 1000003) * 2654435761)
                     % 1000003 % 10 < r.rater + 4
              THEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 4
              ELSE ((((d.doc_id * 5 + r.rater + 101) % 1000003)
                   * 2654435761) % 1000003) % 4
            END AS l
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 5)) AS rater) r
        ),
        c0 AS MATERIALIZED (
          SELECT it, arg_min(l, (-n) * 8 + l) AS c FROM (
            SELECT it, l, CAST(COUNT(*) AS BIGINT) AS n
            FROM rated GROUP BY 1, 2
          ) GROUP BY it
        ),
        a1 AS MATERIALIZED (
          SELECT v.r,
            CAST((CAST(SUM(CASE WHEN v.l = c.c THEN 1 ELSE 0 END)
                 AS HUGEINT) * 1000000) // COUNT(*) AS BIGINT) AS acc
          FROM rated v JOIN c0 c ON v.it = c.it GROUP BY 1
        ),
        c1 AS MATERIALIZED (
          SELECT it, arg_min(l, (-w) * 8 + l) AS c FROM (
            SELECT v.it, v.l, CAST(SUM(a.acc) AS BIGINT) AS w
            FROM rated v JOIN a1 a ON v.r = a.r GROUP BY 1, 2
          ) GROUP BY it
        ),
        a2 AS MATERIALIZED (
          SELECT v.r,
            CAST((CAST(SUM(CASE WHEN v.l = c.c THEN 1 ELSE 0 END)
                 AS HUGEINT) * 1000000) // COUNT(*) AS BIGINT) AS acc
          FROM rated v JOIN c1 c ON v.it = c.it GROUP BY 1
        ),
        c2 AS MATERIALIZED (
          SELECT it, arg_min(l, (-w) * 8 + l) AS c FROM (
            SELECT v.it, v.l, CAST(SUM(a.acc) AS BIGINT) AS w
            FROM rated v JOIN a2 a ON v.r = a.r GROUP BY 1, 2
          ) GROUP BY it
        )
        SELECT v.r AS rater, CAST(COUNT(*) AS BIGINT) AS n_votes,
          CAST(SUM(CASE WHEN v.l = c.c THEN 1 ELSE 0 END) AS BIGINT)
            AS n_agree,
          CAST((CAST(SUM(CASE WHEN v.l = c.c THEN 1 ELSE 0 END)
               AS HUGEINT) * 1000000) // COUNT(*) AS BIGINT)
            AS accuracy_micro
        FROM rated v JOIN c2 c ON v.it = c.it GROUP BY 1
    """
    # lsh_plan: the S-curve table from the SAME chain-multiply SQL
    # builder the Spark side uses — identical IEEE op sequence.
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import (
        lsh_candidate_prob_sql,
    )

    _lsh_parts = []
    for _r in (2, 4, 8):
        for _b in (4, 8, 16, 32):
            _p = lsh_candidate_prob_sql("CAST(s_64 AS DOUBLE) / 64.0", _r, _b)
            _lsh_parts.append(
                f"SELECT CAST({_r} AS BIGINT) AS r, CAST({_b} AS BIGINT) AS b,"
                f" CAST(s_64 AS BIGINT) AS s_64,"
                f" CAST(FLOOR({_p} * 1000000) AS BIGINT) AS prob_micro"
                " FROM grid"
            )
    oracles["lsh_plan"] = (
        "WITH grid AS (SELECT unnest(range(1, 64)) AS s_64) "
        + " UNION ALL ".join(_lsh_parts)
    )
    # fim_split: PSM reorder at two Knuth-mixed character offsets;
    # pure 1-based substr arithmetic, identical clamps in both engines.
    oracles["fim_split"] = """
        WITH cuts AS (
          SELECT doc_id, text,
            CAST(length(text) AS BIGINT) AS n_chars,
            CAST(1 + (((doc_id % 1000003) * 2654435761) % 1000003)
                 % greatest(length(text) - 1, 1) AS BIGINT) AS a
          FROM documents
        ),
        spans AS (
          SELECT doc_id, text, n_chars, a,
            CAST(a + 1 + ((((doc_id + 31) % 1000003) * 2654435761)
                 % 1000003) % greatest(n_chars - a, 1) AS BIGINT) AS b
          FROM cuts
        )
        SELECT doc_id, n_chars, a AS cut_a, b AS cut_b,
          substr(text, 1, CAST(a - 1 AS INT)) AS prefix,
          substr(text, CAST(a AS INT), CAST(b - a AS INT)) AS middle,
          substr(text, CAST(b AS INT)) AS suffix,
          substr(text, 1, CAST(a - 1 AS INT))
            || substr(text, CAST(b AS INT))
            || substr(text, CAST(a AS INT), CAST(b - a AS INT)) AS psm_text
        FROM spans
    """
    # ---- round-12 additions ----
    # krippendorff_alpha: ragged-participation raters; per-item micro
    # truncation then one final DIV, exactly the operator's two
    # truncation points (HUGEINT // truncates toward zero = DECIMAL DIV).
    oracles["krippendorff_alpha"] = """
        WITH rated AS MATERIALIZED (
          SELECT d.doc_id AS it, r.rater AS r,
            CASE WHEN (((d.doc_id * 5 + r.rater) % 1000003) * 2654435761)
                     % 1000003 % 4 < 3
              THEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 4
              ELSE ((((d.doc_id * 5 + r.rater + 101) % 1000003)
                   * 2654435761) % 1000003) % 4
            END AS l
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 5)) AS rater) r
          WHERE ((((d.doc_id * 11 + r.rater * 3) % 1000003) * 2654435761)
                 % 1000003) % 10 < 6 + (r.rater % 3)
        ),
        nuc AS (SELECT it, l, CAST(COUNT(*) AS BIGINT) AS c
                FROM rated GROUP BY 1, 2),
        per AS MATERIALIZED (
          SELECT it, CAST(SUM(c) AS BIGINT) AS m,
            CAST(SUM(c * c) AS BIGINT) AS s2
          FROM nuc GROUP BY 1 HAVING SUM(c) >= 2
        ),
        multi AS (SELECT nuc.* FROM nuc JOIN per ON nuc.it = per.it),
        cat AS (SELECT l, CAST(SUM(c) AS BIGINT) AS cj FROM multi GROUP BY 1),
        ctot AS (SELECT CAST(SUM(cj * cj) AS BIGINT) AS c_sq,
                 CAST(SUM(cj) AS BIGINT) AS n FROM cat),
        obs AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
            SUM((CAST(m AS HUGEINT) * m - s2) * 1000000 // (m - 1))
              AS do_scaled
          FROM per
        )
        SELECT n_items, n AS n_ratings,
          CAST(do_scaled AS BIGINT) AS do_scaled,
          CAST(CAST(n AS HUGEINT) * n - c_sq AS BIGINT) AS de_num,
          CAST(n - 1 AS BIGINT) AS de_den,
          CAST(1000000 - (do_scaled * (n - 1))
               // NULLIF(CAST(n AS HUGEINT) * n - c_sq, 0) AS BIGINT)
            AS alpha_micro
        FROM obs CROSS JOIN ctot
    """
    oracles["cochran_q"] = """
        WITH cells AS MATERIALIZED (
          SELECT d.doc_id AS it, v.variant AS tr,
            CASE WHEN ((((d.doc_id * 7 + v.variant * 13) % 1000003)
                 * 2654435761) % 1000003) % 10 < 5 + v.variant
              THEN 1 ELSE 0 END AS x
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 4)) AS variant) v
        ),
        rows_ AS (
          SELECT it, CAST(SUM(x) AS BIGINT) AS ri,
            CAST(COUNT(*) AS BIGINT) AS ki
          FROM cells GROUP BY 1
        ),
        rt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(ri * ri) AS BIGINT) AS r_sq,
               CAST(SUM(ki) AS BIGINT) AS n_cells FROM rows_),
        ct AS (
          SELECT CAST(SUM(gj * gj) AS BIGINT) AS g_sq,
            CAST(SUM(gj) AS BIGINT) AS t
          FROM (SELECT CAST(SUM(x) AS BIGINT) AS gj FROM cells GROUP BY tr)
        )
        SELECT n_items, CAST(n_cells // n_items AS BIGINT) AS k,
          t AS total_successes, g_sq, r_sq,
          CAST((n_cells // n_items - 1)
            * ((n_cells // n_items) * CAST(g_sq AS HUGEINT)
               - CAST(t AS HUGEINT) * t) * 1000000
            // NULLIF((n_cells // n_items) * CAST(t AS HUGEINT) - r_sq, 0)
            AS BIGINT) AS q_micro
        FROM rt CROSS JOIN ct
    """
    oracles["kendall_w"] = """
        WITH scored AS (
          SELECT j.judge, i.doc_id AS it,
            (((i.doc_id * 17 + j.judge * 29) % 1000003) * 2654435761)
              % 1000003 AS s
          FROM (SELECT doc_id FROM documents WHERE doc_id < 20) i
          CROSS JOIN (SELECT unnest(range(0, 5)) AS judge) j
        ),
        ranked AS (
          SELECT judge, it,
            CAST(ROW_NUMBER() OVER (PARTITION BY judge ORDER BY s, it)
                 AS BIGINT) AS rk
          FROM scored
        ),
        sums AS (
          SELECT it, CAST(SUM(rk) AS BIGINT) AS ri,
            CAST(COUNT(*) AS BIGINT) AS mi
          FROM ranked GROUP BY 1
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
                CAST(SUM(mi) // COUNT(*) AS BIGINT) AS n_judges FROM sums),
        dev AS (
          SELECT t.n_items, t.n_judges,
            CAST(2 AS HUGEINT) * s.ri - t.n_judges * (t.n_items + 1) AS d
          FROM sums s CROSS JOIN tot t
        )
        SELECT n_items, n_judges, CAST(SUM(d * d) AS BIGINT) AS s_dev,
          CAST(CAST(SUM(d * d) AS HUGEINT) * 3000000
            // NULLIF(CAST(n_judges AS HUGEINT) * n_judges
              * (CAST(n_items AS HUGEINT) * n_items * n_items - n_items), 0)
            AS BIGINT) AS w_micro
        FROM dev GROUP BY 1, 2
    """
    oracles["wilcoxon_signed"] = """
        WITH base AS (
          SELECT CAST(((doc_id % 1000003) * 2654435761) % 1000003 % 50
                 AS BIGINT)
            - CAST((((doc_id + 13) % 1000003) * 2654435761) % 1000003 % 50
                 AS BIGINT) AS d
          FROM documents
        ),
        vc AS (
          SELECT ABS(d) AS a, CAST(COUNT(*) AS BIGINT) AS t,
            CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np
          FROM base WHERE d <> 0 GROUP BY 1
        ),
        r AS (
          SELECT a, t, np,
            COALESCE(SUM(t) OVER (ORDER BY a
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM vc
        ),
        agg AS (
          SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS n,
            CAST(COALESCE(SUM(np * (2 * cb + t + 1)), 0) AS BIGINT) AS w2p,
            CAST(COALESCE(SUM((t - np) * (2 * cb + t + 1)), 0) AS BIGINT)
              AS w2m
          FROM r
        ),
        z AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_zero
              FROM base WHERE d = 0)
        SELECT agg.n AS n_pairs, z.n_zero,
          agg.w2p AS w_plus_double, agg.w2m AS w_minus_double,
          CASE WHEN agg.n > 0 THEN
            CAST(FLOOR((agg.w2p - agg.n * (agg.n + 1) / 2.0)
              / sqrt(agg.n * (agg.n + 1) * (2 * agg.n + 1) / 6.0)
              * 1000000.0) AS BIGINT) END AS z_micro
        FROM agg CROSS JOIN z
    """
    oracles["friedman_test"] = """
        WITH cells AS (
          SELECT d.doc_id AS b, s.sys AS tr,
            (((d.doc_id * 19 + s.sys * 23) % 1000003) * 2654435761)
              % 1000003 % 1000 AS score
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 4)) AS sys) s
        ),
        ranked AS (
          SELECT b, tr,
            CAST(ROW_NUMBER() OVER (PARTITION BY b ORDER BY score, tr)
                 AS BIGINT) AS rk
          FROM cells
        ),
        rj AS (
          SELECT tr, CAST(SUM(rk) AS BIGINT) AS rj,
            CAST(COUNT(*) AS BIGINT) AS nb
          FROM ranked GROUP BY 1
        )
        SELECT CAST(MAX(nb) AS BIGINT) AS n_blocks,
          CAST(COUNT(*) AS BIGINT) AS k,
          CAST(SUM(rj * rj) AS BIGINT) AS r_sq,
          CAST((12 * CAST(SUM(rj * rj) AS HUGEINT)
            - 3 * CAST(MAX(nb) AS HUGEINT) * MAX(nb) * COUNT(*)
              * (COUNT(*) + 1) * (COUNT(*) + 1)) * 1000000
            // NULLIF(CAST(MAX(nb) AS HUGEINT) * COUNT(*)
                      * (COUNT(*) + 1), 0) AS BIGINT) AS chi2_micro
        FROM rj
    """
    oracles["item_analysis"] = """
        WITH cells AS MATERIALIZED (
          SELECT i.item AS item, d.doc_id AS s,
            CASE WHEN ((((d.doc_id % 1000003) * 2654435761) % 1000003)
                       % 10) * 2
                   + (((((d.doc_id * 31 + i.item * 7) % 1000003)
                       * 2654435761) % 1000003) % 10)
                 > i.item + 9 THEN 1 ELSE 0 END AS x
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 16)) AS item) i
        ),
        tot AS (SELECT s, CAST(SUM(x) AS BIGINT) AS tot
                FROM cells GROUP BY 1),
        j AS (SELECT c.item, c.x, t.tot - c.x AS y
              FROM cells c JOIN tot t ON c.s = t.s),
        m AS (
          SELECT item, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(x * x) AS BIGINT) AS sxx,
            CAST(SUM(y * y) AS BIGINT) AS syy,
            CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM j GROUP BY 1
        )
        SELECT CAST(item AS BIGINT) AS item, n AS n_subjects,
          sx AS n_correct,
          CAST(CAST(sx AS HUGEINT) * 1000000 // n AS BIGINT) AS p_micro,
          CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE))
              * 1000000.0) AS BIGINT)
            ELSE NULL END AS r_pb_micro
        FROM m
    """
    oracles["t_closeness"] = """
        WITH cells AS MATERIALIZED (
          SELECT c_nationkey AS qn, c_mktsegment AS qs,
            CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000.0) AS BIGINT)
              AS sv,
            CAST(COUNT(*) AS BIGINT) AS q
          FROM customer GROUP BY 1, 2, 3
        ),
        sizes AS (SELECT qn, qs, CAST(SUM(q) AS BIGINT) AS qc
                  FROM cells GROUP BY 1, 2),
        gdist AS (
          SELECT sv, CAST(SUM(q) AS BIGINT) AS gv,
            CAST(SUM(SUM(q)) OVER () AS BIGINT) AS gt
          FROM cells GROUP BY sv
        ),
        j AS (
          SELECT c.qn, c.qs, c.q, s.qc, g.gv, g.gt
          FROM cells c
          JOIN sizes s ON c.qn = s.qn AND c.qs = s.qs
          JOIN gdist g ON c.sv = g.sv
        ),
        pc AS (
          SELECT qn, qs, MAX(qc) AS qc, MAX(gt) AS gt,
            SUM(ABS(CAST(q AS HUGEINT) * gt - CAST(gv AS HUGEINT) * qc))
              AS present,
            CAST(SUM(gv) AS BIGINT) AS gvp
          FROM j GROUP BY 1, 2
        ),
        tvd AS (
          SELECT qc,
            CAST((present + CAST(qc AS HUGEINT) * (gt - gvp)) * 1000000
                 // (2 * CAST(qc AS HUGEINT) * gt) AS BIGINT) AS tvd
          FROM pc
        )
        SELECT CAST(200000 AS BIGINT) AS t_micro,
          CAST(SUM(qc) AS BIGINT) AS n_rows,
          CAST(COUNT(*) AS BIGINT) AS n_classes,
          CAST(MAX(tvd) AS BIGINT) AS max_tvd_micro,
          CAST(SUM(CASE WHEN tvd > 200000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating_classes,
          CAST(SUM(CASE WHEN tvd > 200000 THEN qc ELSE 0 END) AS BIGINT)
            AS n_violating_rows
        FROM tvd
    """
    oracles["l_diversity"] = """
        WITH cells AS (
          SELECT c_nationkey, c_mktsegment,
            CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000.0) AS BIGINT)
              AS sv,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM customer GROUP BY 1, 2, 3
        ),
        classes AS (
          SELECT c_nationkey, c_mktsegment,
            CAST(SUM(n) AS BIGINT) AS rws,
            CAST(COUNT(*) AS BIGINT) AS nd
          FROM cells GROUP BY 1, 2
        )
        SELECT CAST(3 AS BIGINT) AS l,
          CAST(SUM(rws) AS BIGINT) AS n_rows,
          CAST(COUNT(*) AS BIGINT) AS n_classes,
          CAST(MIN(nd) AS BIGINT) AS min_distinct,
          CAST(SUM(CASE WHEN nd < 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating_classes,
          CAST(SUM(CASE WHEN nd < 3 THEN rws ELSE 0 END) AS BIGINT)
            AS n_violating_rows
        FROM classes
    """
    # mixture_reweight: 4 unrolled linearized-MW rounds over the bounded
    # domain table (the bradley_terry generated-rounds pattern);
    # eta = 1/2 at scale 1e6 -> bracket denominator 2e12.
    _mw_rounds = []
    for _r in range(1, 5):
        _prev = f"w{_r - 1}"
        _mw_rounds.append(f"""
        bar{_r} AS MATERIALIZED (
          SELECT CAST(SUM(w.w * CAST(p.loss_micro AS HUGEINT)) // SUM(w.w)
                 AS HUGEINT) AS bar
          FROM {_prev} w JOIN per p ON w.domain = p.domain
        ),
        w{_r} AS MATERIALIZED (
          SELECT w.domain,
            GREATEST(GREATEST(w.w * (2000000
                + 1 * (CAST(p.loss_micro AS HUGEINT) - b.bar)),
              w.w * 2) // 2000000, 1) AS w
          FROM {_prev} w JOIN per p ON w.domain = p.domain
          CROSS JOIN bar{_r} b
        )""")
    oracles["mixture_reweight"] = f"""
        WITH per AS MATERIALIZED (
          SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(CAST(FLOOR(
              ((((doc_id % 1000003) * 2654435761) % 1000003 % 1000)
               / 1000.0)
              * 1000000.0) AS HUGEINT)) // COUNT(*) AS BIGINT)
              AS loss_micro
          FROM documents GROUP BY 1
        ),
        w0 AS MATERIALIZED (
          SELECT domain, CAST(1000000 AS HUGEINT) AS w FROM per
        ),{",".join(_mw_rounds)},
        tw AS (SELECT CAST(SUM(w) AS HUGEINT) AS tw FROM w4)
        SELECT p.domain, p.n_docs, p.loss_micro,
          CAST(w.w AS BIGINT) AS weight,
          CAST(w.w * 1000000 // t.tw AS BIGINT) AS share_micro
        FROM per p JOIN w4 w ON p.domain = w.domain CROSS JOIN tw t
    """
    oracles["span_f1"] = r"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS l
          FROM documents
        ),
        gtok AS (
          SELECT doc_id, t FROM (SELECT doc_id, unnest(l) AS t FROM toks)
          WHERE length(t) > 0
        ),
        ptok AS (
          SELECT doc_id, t FROM (
            SELECT doc_id, unnest(list_select(l,
              list_filter(range(1, len(l) + 1), i -> i % 4 != 0))) AS t
            FROM toks
          ) WHERE length(t) > 0
        ),
        gc AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS cg
               FROM gtok GROUP BY 1, 2),
        pc AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS cp
               FROM ptok GROUP BY 1, 2),
        o AS (
          SELECT g.doc_id, CAST(SUM(LEAST(g.cg, p.cp)) AS BIGINT) AS o
          FROM gc g JOIN pc p ON g.doc_id = p.doc_id AND g.t = p.t
          GROUP BY 1
        ),
        lg AS (SELECT doc_id, CAST(SUM(cg) AS BIGINT) AS lg
               FROM gc GROUP BY 1),
        lp AS (SELECT doc_id, CAST(SUM(cp) AS BIGINT) AS lp
               FROM pc GROUP BY 1),
        per AS (
          SELECT COALESCE(lg.lg, 0) AS lg, COALESCE(lp.lp, 0) AS lp,
            COALESCE(o.o, 0) AS o,
            CASE WHEN COALESCE(lg.lg, 0) + COALESCE(lp.lp, 0) = 0
              THEN CAST(1000000 AS BIGINT)
              ELSE CAST(2 * CAST(COALESCE(o.o, 0) AS HUGEINT) * 1000000
                   // (COALESCE(lg.lg, 0) + COALESCE(lp.lp, 0)) AS BIGINT)
            END AS f1
          FROM (SELECT doc_id FROM documents) ids
          LEFT JOIN lg ON ids.doc_id = lg.doc_id
          LEFT JOIN lp ON ids.doc_id = lp.doc_id
          LEFT JOIN o ON ids.doc_id = o.doc_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(f1) // COUNT(*) AS BIGINT) AS mean_f1_micro,
          CAST(SUM(CASE WHEN f1 = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_perfect,
          CAST(SUM(o) AS BIGINT) AS total_overlap,
          CAST(SUM(lg) AS BIGINT) AS total_gold_tokens,
          CAST(SUM(lp) AS BIGINT) AS total_pred_tokens
        FROM per
    """
    # ---- round-12 batch 2 ----
    oracles["weighted_kappa"] = """
        WITH pairs AS MATERIALIZED (
          SELECT ((doc_id % 1000003) * 2654435761) % 1000003 % 4 AS a,
            CASE WHEN (((doc_id * 3 + 1) % 1000003) * 2654435761)
                     % 1000003 % 10 < 7
              THEN ((doc_id % 1000003) * 2654435761) % 1000003 % 4
              ELSE (((doc_id + 55) % 1000003) * 2654435761) % 1000003 % 4
            END AS b
          FROM documents
        ),
        obs AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM((a - b) * (a - b)) AS BIGINT) AS swo,
            CAST(MAX(GREATEST(a, b)) + 1 AS BIGINT) AS c
          FROM pairs
        ),
        ra AS (SELECT a AS i, CAST(COUNT(*) AS BIGINT) AS ri
               FROM pairs GROUP BY 1),
        cb AS (SELECT b AS j, CAST(COUNT(*) AS BIGINT) AS cj
               FROM pairs GROUP BY 1),
        exp AS (
          SELECT CAST(SUM((i - j) * (i - j) * ri * cj) AS BIGINT) AS swe
          FROM ra CROSS JOIN cb
        )
        SELECT n AS n_items, c AS n_categories, swo AS sum_w_obs,
          swe AS sum_w_exp,
          CAST(1000000 - CAST(n AS HUGEINT) * swo * 1000000
               // NULLIF(swe, 0) AS BIGINT) AS kappa_micro
        FROM obs CROSS JOIN exp
    """
    oracles["mantel_haenszel"] = """
        WITH src AS (
          SELECT c_nationkey AS s,
            ((c_custkey % 1000003) * 2654435761) % 1000003 % 2 AS t
          , c_custkey FROM customer
        ),
        labeled AS (
          SELECT s, t,
            CASE WHEN (((c_custkey * 3 + t) % 1000003) * 2654435761)
                     % 1000003 % 10 < 3 + t * 2 THEN 1 ELSE 0 END AS y
          FROM src
        ),
        cells AS (
          SELECT s,
            CAST(SUM(CASE WHEN t = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(SUM(CASE WHEN t = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(SUM(CASE WHEN t = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(SUM(CASE WHEN t = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM labeled GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
          CAST(SUM(a + b + c + d) AS BIGINT) AS n_rows,
          CAST(SUM(CAST(a AS HUGEINT) * d * 1000000
               // NULLIF(a + b + c + d, 0)) AS BIGINT) AS sum_r_micro,
          CAST(SUM(CAST(b AS HUGEINT) * c * 1000000
               // NULLIF(a + b + c + d, 0)) AS BIGINT) AS sum_s_micro,
          CAST(SUM(CAST(a AS HUGEINT) * d * 1000000
                   // NULLIF(a + b + c + d, 0)) * 1000000
               // NULLIF(SUM(CAST(b AS HUGEINT) * c * 1000000
                   // NULLIF(a + b + c + d, 0)), 0) AS BIGINT)
            AS or_mh_micro,
          CAST(CAST(SUM(a) AS HUGEINT) * SUM(d) * 1000000
               // NULLIF(CAST(SUM(b) AS HUGEINT) * SUM(c), 0) AS BIGINT)
            AS or_crude_micro
        FROM cells
    """
    oracles["conformal_calibration"] = """
        WITH scored AS (
          SELECT doc_id,
            CAST(((doc_id % 1000003) * 2654435761) % 1000003 % 1000
                 AS BIGINT) AS v
          FROM documents
        ),
        vc AS (
          SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM scored
          WHERE doc_id % 5 <> 0 GROUP BY 1
        ),
        cum AS (
          SELECT v,
            SUM(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
            SUM(c) OVER () AS n
          FROM vc
        ),
        q AS (
          SELECT CAST(MIN(v) AS BIGINT) AS qhat,
            CAST(MAX(n) AS BIGINT) AS n_cal,
            CAST(MAX(((n + 1) * 9 + 9) // 10) AS BIGINT) AS k
          FROM cum WHERE cm >= ((n + 1) * 9 + 9) // 10
        )
        SELECT q.n_cal, q.k, q.qhat,
          CAST(COUNT(*) AS BIGINT) AS n_test,
          CAST(SUM(CASE WHEN s.v <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
            AS n_covered,
          CAST(CAST(SUM(CASE WHEN s.v <= q.qhat THEN 1 ELSE 0 END)
               AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
            AS coverage_micro,
          CAST(900000 AS BIGINT) AS target_micro
        FROM scored s CROSS JOIN q
        WHERE s.doc_id % 5 = 0
        GROUP BY 1, 2, 3
    """
    oracles["pinball_loss"] = """
        WITH d AS (
          SELECT CAST(((doc_id % 1000003) * 2654435761) % 1000003 % 100
                 AS BIGINT)
            - CAST((((doc_id + 13) % 1000003) * 2654435761) % 1000003
                 % 100 AS BIGINT) AS d
          FROM documents
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(GREATEST(1 * d, -9 * d)) AS BIGINT) AS s1,
            CAST(SUM(GREATEST(5 * d, -5 * d)) AS BIGINT) AS s5,
            CAST(SUM(GREATEST(9 * d, -1 * d)) AS BIGINT) AS s9
          FROM d
        )
        SELECT CAST(1 AS BIGINT) AS tau_num, CAST(10 AS BIGINT) AS tau_den,
          n, s1 AS sum_loss_den,
          CAST(CAST(s1 AS HUGEINT) * 1000000 // NULLIF(n * 10, 0)
               AS BIGINT) AS mean_loss_micro
        FROM agg
        UNION ALL
        SELECT 5, 10, n, s5,
          CAST(CAST(s5 AS HUGEINT) * 1000000 // NULLIF(n * 10, 0) AS BIGINT)
        FROM agg
        UNION ALL
        SELECT 9, 10, n, s9,
          CAST(CAST(s9 AS HUGEINT) * 1000000 // NULLIF(n * 10, 0) AS BIGINT)
        FROM agg
    """
    oracles["brier_decomposition"] = """
        WITH f AS (
          SELECT ((doc_id % 1000003) * 2654435761) % 1000003 % 1000
                 * 1000 + 500 AS p,
            CASE WHEN (((doc_id * 7 + 1) % 1000003) * 2654435761)
                 % 1000003 % 1000000
                 < ((doc_id % 1000003) * 2654435761) % 1000003 % 1000
                   * 1000 + 500 THEN 1 ELSE 0 END AS y
          FROM documents
        ),
        per AS (
          SELECT LEAST(p * 10 // 1000000, 9) AS k,
            CAST(COUNT(*) AS BIGINT) AS nk,
            CAST(SUM(p) // COUNT(*) AS BIGINT) AS fk,
            CAST(CAST(SUM(y) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
              AS ok,
            CAST(SUM(y) AS BIGINT) AS yk
          FROM f GROUP BY 1
        ),
        base AS (
          SELECT CAST(SUM(nk) AS BIGINT) AS n,
            CAST(CAST(SUM(yk) AS HUGEINT) * 1000000 // SUM(nk) AS BIGINT)
              AS obar
          FROM per
        ),
        comps AS (
          SELECT b.n, b.obar,
            CAST(SUM(nk * CAST(fk - ok AS HUGEINT) * (fk - ok))
                 // (MAX(b.n) * 1000000) AS BIGINT) AS rel_micro,
            CAST(SUM(nk * CAST(ok - b.obar AS HUGEINT) * (ok - b.obar))
                 // (MAX(b.n) * 1000000) AS BIGINT) AS res_micro,
            CAST(CAST(b.obar AS HUGEINT) * (1000000 - b.obar) // 1000000
                 AS BIGINT) AS unc_micro
          FROM per CROSS JOIN base b GROUP BY 1, 2
        )
        SELECT n, CAST(10 AS BIGINT) AS n_bins, rel_micro, res_micro,
          unc_micro,
          CAST(rel_micro - res_micro + unc_micro AS BIGINT)
            AS brier_check_micro
        FROM comps
    """
    import math as _m

    _sprt_pos = _m.floor(_m.log(6 / 5) * 1e6)
    _sprt_neg = _m.floor(_m.log(4 / 5) * 1e6)
    _sprt_up = _m.floor(_m.log(19.0) * 1e6)
    _sprt_lo = _m.floor(_m.log(1 / 19) * 1e6)
    oracles["sprt_eval"] = f"""
        WITH walk AS (
          SELECT doc_id,
            CASE WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 10 < 6
              THEN 1 ELSE 0 END AS y,
            CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS step,
            SUM(CASE WHEN ((doc_id % 1000003) * 2654435761) % 1000003
                     % 10 < 6
                THEN {_sprt_pos} ELSE {_sprt_neg} END)
              OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
          FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(y) AS BIGINT) AS n_successes,
          CAST(arg_max(llr, step) AS BIGINT) AS final_llr_micro,
          CAST({_sprt_up} AS BIGINT) AS upper_micro,
          CAST({_sprt_lo} AS BIGINT) AS lower_micro,
          CAST(MIN(CASE WHEN llr >= {_sprt_up} OR llr <= {_sprt_lo}
               THEN step END) AS BIGINT) AS first_cross_step,
          COALESCE(
            CASE WHEN MIN(CASE WHEN llr >= {_sprt_up} THEN step END)
                 <= COALESCE(MIN(CASE WHEN llr <= {_sprt_lo} THEN step END),
                             9223372036854775807)
              THEN 'accept_h1'
              WHEN MIN(CASE WHEN llr <= {_sprt_lo} THEN step END)
                   IS NOT NULL THEN 'accept_h0'
            END, 'continue') AS decision
        FROM walk
    """
    _fs_wa = _m.floor(_m.log(9.0) * 1e6)
    _fs_wd = _m.floor(_m.log(1 / 9) * 1e6)
    oracles["fellegi_sunter"] = f"""
        WITH c AS MATERIALIZED (
          SELECT c_custkey AS id, c_nationkey AS bn, c_mktsegment AS bs,
            CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
              AS band,
            ((c_custkey * 7 % 1000003) * 2654435761) % 1000003 % 100 AS pre
          FROM customer
        ),
        pairs AS (
          SELECT
            -- IS NOT DISTINCT FROM mirrors the engine's eqNullSafe
            -- (documented NULL-agreement convention; ADVICE r12)
            (CASE WHEN a.band IS NOT DISTINCT FROM b.band
               THEN 1 ELSE 0 END)
            + (CASE WHEN a.pre IS NOT DISTINCT FROM b.pre
               THEN 2 ELSE 0 END) AS pattern,
            (CASE WHEN a.band IS NOT DISTINCT FROM b.band
               THEN {_fs_wa} ELSE {_fs_wd} END)
            + (CASE WHEN a.pre IS NOT DISTINCT FROM b.pre
               THEN {_fs_wa} ELSE {_fs_wd} END)
              AS weight_micro
          FROM c a JOIN c b ON a.bn = b.bn AND a.bs = b.bs AND a.id < b.id
        )
        SELECT CAST(pattern AS BIGINT) AS pattern,
          CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(weight_micro AS BIGINT) AS weight_micro
        FROM pairs GROUP BY pattern, weight_micro
    """
    oracles["sorted_neighborhood"] = f"""
        WITH c AS MATERIALIZED (
          SELECT c_custkey AS id, c_nationkey AS bn,
            CAST(c_acctbal AS DOUBLE) AS bal, c_mktsegment AS seg,
            ((c_custkey * 7 % 1000003) * 2654435761) % 1000003 % 100
              AS region_code,
            CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
              ORDER BY CAST(c_acctbal AS DOUBLE), c_custkey) AS BIGINT)
              AS rn
          FROM customer
        ),
        pairs AS (
          SELECT
            -- IS NOT DISTINCT FROM mirrors the engine's eqNullSafe
            -- (documented NULL-agreement convention; ADVICE r12)
            (CASE WHEN a.seg IS NOT DISTINCT FROM b.seg
               THEN 1 ELSE 0 END)
            + (CASE WHEN a.region_code IS NOT DISTINCT FROM b.region_code
               THEN 2 ELSE 0 END)
              AS pattern,
            (CASE WHEN a.seg IS NOT DISTINCT FROM b.seg
               THEN {_fs_wa} ELSE {_fs_wd} END)
            + (CASE WHEN a.region_code IS NOT DISTINCT FROM b.region_code
               THEN {_fs_wa} ELSE {_fs_wd} END) AS weight_micro
          FROM c a JOIN c b
            ON a.bn = b.bn AND b.rn > a.rn AND b.rn <= a.rn + 3
        )
        SELECT CAST(pattern AS BIGINT) AS pattern,
          CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(weight_micro AS BIGINT) AS weight_micro
        FROM pairs GROUP BY pattern, weight_micro
    """
    # ---- round-13 additions ----
    oracles["benjamini_hochberg"] = """
        WITH hyp AS (
          SELECT t.id AS hyp_id,
            CAST(CASE WHEN t.id % 5 = 0
              THEN (((t.id % 1000003) * 2654435761) % 1000003) % 20000 + 1
              ELSE (((t.id % 1000003) * 2654435761) % 1000003) % 1000000 + 1
            END AS BIGINT) AS p_micro
          FROM (SELECT unnest(range(0, 200)) AS id) t
        ),
        ranked AS (
          SELECT hyp_id, p_micro,
            CAST(ROW_NUMBER() OVER (ORDER BY p_micro, hyp_id) AS BIGINT)
              AS rank,
            CAST(COUNT(*) OVER () AS BIGINT) AS m
          FROM hyp
        ),
        cut AS (
          SELECT MAX(rank) AS c FROM ranked
          WHERE p_micro * m <= rank * 50000
        )
        SELECT hyp_id, p_micro, rank, m,
          rank <= COALESCE((SELECT c FROM cut), 0) AS reject
        FROM ranked
    """
    oracles["icc_oneway"] = """
        WITH rated AS (
          SELECT d.doc_id AS item_id,
            CASE WHEN (((d.doc_id * 5 + r.rater) % 1000003) * 2654435761)
                     % 1000003 % 4 < 3
              THEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 4
              ELSE ((((d.doc_id * 5 + r.rater + 101) % 1000003) * 2654435761)
                   % 1000003) % 4
            END AS rating
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 5)) AS rater) r
        ),
        per AS (
          SELECT item_id, CAST(SUM(rating) AS BIGINT) AS s,
            CAST(SUM(rating * rating) AS BIGINT) AS ss,
            CAST(COUNT(*) AS BIGINT) AS k
          FROM rated GROUP BY 1
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(k) AS BIGINT) AS total,
            CAST(SUM(s) AS BIGINT) AS g,
            CAST(SUM(ss) AS BIGINT) AS sx2,
            CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT) AS ss2
          FROM per
        )
        SELECT n AS n_items, CAST(total // n AS BIGINT) AS k,
          CAST(
            ((CAST(n AS HUGEINT) * ss2 - CAST(g AS HUGEINT) * g)
               * ((total // n) - 1)
             - (CAST(total // n AS HUGEINT) * sx2 - ss2)
               * (n - 1)) * 1000000
          // NULLIF(
            (CAST(n AS HUGEINT) * ss2 - CAST(g AS HUGEINT) * g)
              * ((total // n) - 1)
            + (CAST(total // n AS HUGEINT) * sx2 - ss2)
              * (n - 1) * ((total // n) - 1), 0)
          AS BIGINT) AS icc_micro
        FROM tot
    """
    oracles["ece_calibration"] = f"""
        WITH {_URGENT_POP},
        mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM lab),
        scored AS (
          SELECT CAST(FLOOR((lab.v - mm.mn) / (mm.mx - mm.mn)
              * 1000000.0) AS BIGINT) AS smicro,
            CASE WHEN lab.y THEN 1 ELSE 0 END AS p
          FROM lab CROSS JOIN mm
        ),
        per AS (
          SELECT LEAST(smicro * 10 // 1000000, 9) AS bin,
            CAST(COUNT(*) AS BIGINT) AS n_b,
            CAST(SUM(p) AS BIGINT) AS pos_b,
            CAST(SUM(smicro) AS BIGINT) AS conf_sum_b
          FROM scored GROUP BY 1
        )
        SELECT CAST(SUM(n_b) AS BIGINT) AS n,
          CAST(10 AS BIGINT) AS n_bins,
          CAST(SUM(ABS(CAST(pos_b AS HUGEINT) * 1000000 - conf_sum_b))
            // NULLIF(SUM(n_b), 0) AS BIGINT) AS ece_micro
        FROM per
    """
    oracles["mcc_score"] = f"""
        WITH {_URGENT_POP},
        cells AS (
          SELECT
            CAST(SUM(CASE WHEN y AND v > 5000.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN NOT y AND v > 5000.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN NOT y AND NOT (v > 5000.0) THEN 1 ELSE 0 END)
              AS BIGINT) AS tn,
            CAST(SUM(CASE WHEN y AND NOT (v > 5000.0) THEN 1 ELSE 0 END)
              AS BIGINT) AS fn
          FROM lab
        )
        SELECT tp, fp, tn, fn,
          CAST(FLOOR(
            CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
                 AS DOUBLE)
            / NULLIF(SQRT(CAST(
                (CAST(tp AS HUGEINT) + fp)
                * (CAST(tp AS HUGEINT) + fn)
                * (CAST(tn AS HUGEINT) + fp)
                * (CAST(tn AS HUGEINT) + fn) AS DOUBLE)), 0.0)
            * 1000000) AS BIGINT) AS mcc_micro
        FROM cells
    """
    oracles["cusum_drift"] = """
        WITH series AS (
          SELECT user_id, event_id,
            CAST(FLOOR(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'
        ),
        walk AS (
          SELECT user_id,
            SUM(cents - 5500) OVER w AS c,
            CAST(ROW_NUMBER() OVER
              (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS step
          FROM series
          WINDOW w AS (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        s AS (
          SELECT user_id, step,
            c - LEAST(CAST(0 AS BIGINT), MIN(c) OVER
              (PARTITION BY user_id ORDER BY step
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sv
          FROM walk
        )
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(MAX(sv) AS BIGINT) AS max_cusum,
          CAST(MIN(CASE WHEN sv > 50000 THEN step END) AS BIGINT)
            AS first_alarm_step
        FROM s GROUP BY 1
    """
    oracles["theil_index"] = """
        WITH pos AS (
          SELECT o_orderpriority AS prio,
            CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS x
          FROM orders WHERE FLOOR(o_totalprice * 100) > 0
        ),
        stats AS (
          SELECT prio, CAST(SUM(x) AS HUGEINT) AS sm,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM pos GROUP BY 1
        ),
        terms AS (
          SELECT p.prio, s.n,
            CAST(FLOOR(
              (CAST(p.x AS DOUBLE) / (CAST(s.sm AS DOUBLE) / s.n))
              * LN(CAST(p.x AS DOUBLE) / (CAST(s.sm AS DOUBLE) / s.n))
              * 1000000) AS BIGINT) AS t_micro
          FROM pos p JOIN stats s USING (prio)
        )
        SELECT prio, CAST(MAX(n) AS BIGINT) AS n,
          CAST(SUM(t_micro) // MAX(n) AS BIGINT) AS theil_micro
        FROM terms GROUP BY 1
    """
    _gt_tok = (
        "SELECT UNNEST(string_split(trim(regexp_replace(lower(text),"
        " '\\s+', ' ', 'g')), ' ')) AS token FROM documents WHERE {side}"
    )
    _gt_counts = (
        "SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM ({tok}) "
        "WHERE length(token) > 0 GROUP BY token"
    )
    _gt_a = _gt_counts.format(tok=_gt_tok.format(side="lang = 'en'"))
    _gt_b = _gt_counts.format(tok=_gt_tok.format(side="lang <> 'en'"))
    _gt_term = (
        "CASE WHEN {x} = 0 THEN 0.0 ELSE CAST({x} AS DOUBLE)"
        " * LN(CAST({x} AS DOUBLE) * (CAST(t_a AS DOUBLE) + t_b)"
        " / (CAST({rt} AS DOUBLE) * {col})) END"
    )
    oracles["g_test_keywords"] = f"""
        WITH ta AS MATERIALIZED ({_gt_a}),
        tb AS MATERIALIZED ({_gt_b}),
        tot AS (
          SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM ta) AS t_a,
                 (SELECT CAST(SUM(c) AS BIGINT) FROM tb) AS t_b
        ),
        j AS (
          SELECT COALESCE(ta.token, tb.token) AS token,
            CAST(COALESCE(ta.c, 0) AS BIGINT) AS cnt_a,
            CAST(COALESCE(tb.c, 0) AS BIGINT) AS cnt_b,
            t_a, t_b,
            CAST(COALESCE(ta.c, 0) + COALESCE(tb.c, 0) AS DOUBLE) AS col_,
            CAST(t_a + t_b - COALESCE(ta.c, 0) - COALESCE(tb.c, 0)
                 AS DOUBLE) AS ncol_
          FROM ta FULL JOIN tb ON ta.token = tb.token
          CROSS JOIN tot
          WHERE COALESCE(ta.c, 0) + COALESCE(tb.c, 0) >= 5
        )
        SELECT token, cnt_a, cnt_b,
          CAST(CASE WHEN cnt_a * t_b > cnt_b * t_a THEN 1 ELSE -1 END
            AS BIGINT) AS sign,
          CAST(FLOOR(2.0 * (
            {_gt_term.format(x="cnt_a", rt="t_a", col="col_")}
            + {_gt_term.format(x="cnt_b", rt="t_b", col="col_")}
            + {_gt_term.format(x="(t_a - cnt_a)", rt="t_a", col="ncol_")}
            + {_gt_term.format(x="(t_b - cnt_b)", rt="t_b", col="ncol_")}
          ) * 1000000) AS BIGINT) AS g2_micro
        FROM j
        ORDER BY g2_micro DESC, token
        LIMIT 30
    """
    oracles["log_odds_dirichlet"] = f"""
        WITH ta AS MATERIALIZED ({_gt_a}),
        tb AS MATERIALIZED ({_gt_b}),
        tot AS (
          SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM ta) AS t_a,
                 (SELECT CAST(SUM(c) AS BIGINT) FROM tb) AS t_b
        ),
        j AS (
          SELECT COALESCE(ta.token, tb.token) AS token,
            CAST(COALESCE(ta.c, 0) AS BIGINT) AS cnt_a,
            CAST(COALESCE(tb.c, 0) AS BIGINT) AS cnt_b,
            t_a, t_b,
            CAST(500 AS DOUBLE)
              * (CAST(COALESCE(ta.c, 0) AS DOUBLE) + COALESCE(tb.c, 0))
              / (CAST(t_a AS DOUBLE) + t_b) AS alpha_
          FROM ta FULL JOIN tb ON ta.token = tb.token
          CROSS JOIN tot
          WHERE COALESCE(ta.c, 0) + COALESCE(tb.c, 0) >= 5
        )
        SELECT token, cnt_a, cnt_b,
          CAST(FLOOR((
            LN((cnt_a + alpha_)
               / (CAST(t_a AS DOUBLE) + 500 - cnt_a - alpha_))
            - LN((cnt_b + alpha_)
               / (CAST(t_b AS DOUBLE) + 500 - cnt_b - alpha_))
          ) / SQRT(1.0 / (cnt_a + alpha_) + 1.0 / (cnt_b + alpha_))
          * 1000000) AS BIGINT) AS z_micro
        FROM j
        ORDER BY ABS(z_micro) DESC, token
        LIMIT 30
    """
    oracles["yules_k"] = """
        WITH counts AS (
          SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT lang,
              UNNEST(string_split(trim(regexp_replace(lower(text),
                '\\s+', ' ', 'g')), ' ')) AS token
            FROM documents
          ) WHERE length(token) > 0 GROUP BY 1, 2
        )
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST((SUM(CAST(c AS HUGEINT) * c) - SUM(c)) * 10000 * 1000000
            // NULLIF(SUM(CAST(c AS HUGEINT)) * SUM(c), 0) AS BIGINT)
            AS k_micro
        FROM counts GROUP BY 1
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.similarity import rbo_weights as _rbo_w
    # Pre-scaled micro weights (one multiply per term — see
    # rbo_overlap's in-operator note), CAST to DOUBLE because DuckDB
    # parses bare decimal literals as DECIMAL, which would route the
    # product through decimal arithmetic instead of Spark's IEEE
    # doubles (1-micro drift at floor boundaries, caught at sf0.001).
    _rbo_arr = ", ".join(
        f"CAST({w * 1_000_000.0!r} AS DOUBLE)" for w in _rbo_w(20, 0.9)
    )
    oracles["rbo_overlap"] = f"""
        WITH rev AS MATERIALIZED (
          SELECT c.c_nationkey AS nation,
            EXTRACT(year FROM o.o_orderdate) AS yr,
            CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ),
        ra AS (
          SELECT nation AS item,
            CAST(ROW_NUMBER() OVER (ORDER BY rev DESC, nation) AS BIGINT)
              AS ra
          FROM rev WHERE yr = 1995
        ),
        rb AS (
          SELECT nation AS item,
            CAST(ROW_NUMBER() OVER (ORDER BY rev DESC, nation) AS BIGINT)
              AS rb
          FROM rev WHERE yr = 1996
        ),
        both_r AS (
          SELECT GREATEST(ra.ra, rb.rb) AS m
          FROM ra JOIN rb USING (item)
          WHERE ra.ra <= 20 AND rb.rb <= 20
        ),
        depth AS (SELECT unnest(range(1, 21)) AS d),
        per_depth AS (
          SELECT d, CAST(COUNT(m) AS BIGINT) AS overlap
          FROM depth LEFT JOIN both_r ON both_r.m <= depth.d
          GROUP BY 1
        ),
        terms AS (
          SELECT d, overlap,
            CAST(FLOOR(list_extract([{_rbo_arr}], CAST(d AS INT))
              * overlap) AS BIGINT) AS term_micro
          FROM per_depth
        )
        SELECT CAST(20 AS BIGINT) AS k,
          CAST(MAX(CASE WHEN d = 20 THEN overlap END) AS BIGINT)
            AS overlap_at_k,
          CAST(SUM(term_micro) AS BIGINT) AS rbo_micro
        FROM terms
    """
    oracles["cem_att"] = """
        WITH spend AS MATERIALIZED (
          SELECT o_custkey AS c_custkey,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS spend_cents
          FROM orders GROUP BY 1
        ),
        frame AS (
          SELECT c.c_nationkey AS nation,
            c.c_mktsegment = 'BUILDING' AS treated,
            CAST(COALESCE(s.spend_cents, 0) AS BIGINT) AS spend
          FROM customer c LEFT JOIN spend s USING (c_custkey)
        ),
        per AS (
          SELECT nation,
            CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
              AS n_t,
            CAST(SUM(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT)
              AS n_c,
            CAST(SUM(CASE WHEN treated THEN spend ELSE 0 END) AS BIGINT)
              AS sy_t,
            CAST(SUM(CASE WHEN treated THEN 0 ELSE spend END) AS BIGINT)
              AS sy_c
          FROM frame GROUP BY 1
        ),
        contrib AS (
          SELECT n_t, n_c,
            (CAST(sy_t AS HUGEINT) * n_c - CAST(n_t AS HUGEINT) * sy_c)
              * 1000000 // n_c AS term
          FROM per WHERE n_t > 0 AND n_c > 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata_matched,
          CAST(SUM(n_t) AS BIGINT) AS n_treated,
          CAST(SUM(n_c) AS BIGINT) AS n_control,
          CAST(SUM(term) // NULLIF(SUM(n_t), 0) AS BIGINT) AS att_micro
        FROM contrib
    """
    oracles["neyman_allocation"] = """
        WITH per AS (
          SELECT c_nationkey AS nation,
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS HUGEINT)
              AS sx,
            CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)
                 * CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS HUGEINT)
              AS sx2
          FROM customer GROUP BY 1
        ),
        sig AS (
          SELECT nation, n_rows,
            CASE WHEN n_rows < 2 THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(SQRT(
                CAST(n_rows * sx2 - sx * sx AS DOUBLE)
                / (CAST(n_rows AS DOUBLE) * (n_rows - 1))
              ) * 1000000) AS BIGINT) END AS sigma_micro
          FROM per
        ),
        w AS (
          SELECT nation, n_rows, sigma_micro,
            CAST(n_rows AS HUGEINT) * sigma_micro AS wt
          FROM sig
        ),
        tot AS (SELECT SUM(wt) AS tw FROM w),
        base AS (
          SELECT nation, n_rows, sigma_micro,
            CAST(CAST(1000 AS HUGEINT) * wt // NULLIF(tw, 0) AS BIGINT)
              AS fl,
            CAST(1000 AS HUGEINT) * wt % NULLIF(tw, 0) AS rem
          FROM w CROSS JOIN tot
        ),
        used AS (SELECT CAST(SUM(fl) AS BIGINT) AS used FROM base)
        SELECT nation, n_rows, sigma_micro,
          CAST(fl + CASE WHEN ROW_NUMBER()
              OVER (ORDER BY rem DESC, nation ASC) <= 1000 - used
            THEN 1 ELSE 0 END AS BIGINT) AS alloc
        FROM base CROSS JOIN used
    """
    oracles["spearman_rho"] = """
        WITH cnt AS MATERIALIZED (
          SELECT o_custkey AS c_custkey,
            CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1
        ),
        base AS MATERIALIZED (
          SELECT CAST(FLOOR(c.c_acctbal * 100) AS BIGINT) AS x,
            CAST(COALESCE(t.n_orders, 0) AS BIGINT) AS y
          FROM customer c LEFT JOIN cnt t USING (c_custkey)
          WHERE c.c_acctbal IS NOT NULL
        ),
        rx AS (
          SELECT x, (SUM(c) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) * 2
              + c + 1 AS u
          FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1)
        ),
        ry AS (
          SELECT y, (SUM(c) OVER (ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) * 2
              + c + 1 AS v
          FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1)
        ),
        ranked AS (
          SELECT CAST(rx.u AS HUGEINT) AS u, CAST(ry.v AS HUGEINT) AS v
          FROM base JOIN rx USING (x) JOIN ry USING (y)
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(u) AS su, SUM(v) AS sv,
            SUM(u * u) AS suu, SUM(v * v) AS svv, SUM(u * v) AS suv
          FROM ranked
        )
        SELECT n,
          CAST(FLOOR(
            CAST(n * suv - su * sv AS DOUBLE)
            / NULLIF(SQRT(CAST(n * suu - su * su AS DOUBLE)
                     * CAST(n * svv - sv * sv AS DOUBLE)), 0.0)
            * 1000000) AS BIGINT) AS rho_micro
        FROM tot
    """
    oracles["gk_gamma"] = """
        WITH cells AS MATERIALIZED (
          SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
            LEAST(CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT), 9) AS y,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM orders GROUP BY 1, 2
        ),
        pair AS (
          SELECT a.y < b.y AS conc,
            CAST(a.c AS HUGEINT) * b.c AS w
          FROM cells a JOIN cells b
            ON a.x < b.x AND a.y <> b.y
        ),
        tot AS (
          SELECT SUM(CASE WHEN conc THEN w ELSE 0 END) AS cc,
            SUM(CASE WHEN conc THEN 0 ELSE w END) AS dd
          FROM pair
        )
        SELECT CAST(cc AS BIGINT) AS concordant,
          CAST(dd AS BIGINT) AS discordant,
          CAST((cc - dd) * 1000000 // NULLIF(cc + dd, 0) AS BIGINT)
            AS gamma_micro
        FROM tot
    """
    oracles["page_hinkley"] = """
        WITH series AS (
          SELECT user_id, event_id,
            CAST(FLOOR(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'
        ),
        stepped AS (
          SELECT user_id,
            CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
            cents * 1000000
              - (SUM(cents) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1000000 // CAST(ROW_NUMBER() OVER w AS BIGINT))
              - 50000000 AS dev
          FROM series
          WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        ),
        walk AS (
          SELECT user_id, i,
            SUM(dev) OVER (PARTITION BY user_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
          FROM stepped
        ),
        ph AS (
          SELECT user_id, i,
            m - MIN(m) OVER (PARTITION BY user_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
          FROM walk
        )
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(MAX(p) AS BIGINT) AS max_ph,
          CAST(MIN(CASE WHEN p > 10000000000 THEN i END) AS BIGINT)
            AS first_alarm_step
        FROM ph GROUP BY 1
    """
    oracles["winsorized_mean"] = """
        WITH base AS (
          SELECT o_orderpriority AS prio,
            CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v
          FROM orders
        ),
        vc AS (
          SELECT prio, v, CAST(COUNT(*) AS BIGINT) AS c
          FROM base GROUP BY 1, 2
        ),
        cum AS (
          SELECT prio, v, c,
            SUM(c) OVER (PARTITION BY prio ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(c) OVER (PARTITION BY prio) AS n
          FROM vc
        ),
        bounds AS (
          SELECT prio, CAST(MAX(n) AS BIGINT) AS n,
            CAST(MIN(CASE WHEN cum >= (n * 5 + 99) // 100 THEN v END)
              AS BIGINT) AS lo,
            CAST(MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN v END)
              AS BIGINT) AS hi
          FROM cum GROUP BY 1
        )
        SELECT b.prio, MAX(bd.n) AS n, MAX(bd.lo) AS lo, MAX(bd.hi) AS hi,
          CAST(SUM(GREATEST(bd.lo, LEAST(bd.hi, b.v))) * 1000000
            // MAX(bd.n) AS BIGINT) AS wmean_micro
        FROM base b JOIN bounds bd USING (prio)
        GROUP BY 1
    """
    oracles["gains_table"] = f"""
        WITH {_URGENT_POP},
        base AS (
          SELECT CAST(FLOOR(v * 100) AS BIGINT) AS s,
            CASE WHEN y THEN 1 ELSE 0 END AS p
          FROM lab
        ),
        vc AS (
          SELECT s, CAST(COUNT(*) AS BIGINT) AS c,
            CAST(SUM(p) AS BIGINT) AS p
          FROM base GROUP BY 1
        ),
        cum AS (
          SELECT
            SUM(c) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(p) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
            SUM(c) OVER () AS n, SUM(p) OVER () AS tp
          FROM vc
        )
        SELECT CAST((cum - 1) * 10 // n + 1 AS BIGINT) AS bucket,
          CAST(MAX(cum) AS BIGINT) AS cum_n,
          CAST(arg_max(cum_p, cum) AS BIGINT) AS cum_pos,
          CAST(arg_max(cum_p, cum) * 1000000 // NULLIF(MAX(tp), 0)
            AS BIGINT) AS capture_micro,
          CAST(CAST(arg_max(cum_p, cum) AS HUGEINT) * MAX(n) * 1000000
            // NULLIF(CAST(MAX(cum) AS HUGEINT) * MAX(tp), 0) AS BIGINT)
            AS lift_micro
        FROM cum GROUP BY 1
    """
    oracles["jsd_divergence"] = f"""
        WITH ta AS MATERIALIZED ({_gt_a}),
        tb AS MATERIALIZED ({_gt_b}),
        tot AS (
          SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM ta) AS t_a,
                 (SELECT CAST(SUM(c) AS BIGINT) FROM tb) AS t_b
        ),
        j AS (
          SELECT CAST(COALESCE(ta.c, 0) AS BIGINT) AS cnt_a,
            CAST(COALESCE(tb.c, 0) AS BIGINT) AS cnt_b, t_a, t_b
          FROM ta FULL JOIN tb ON ta.token = tb.token
          CROSS JOIN tot
        ),
        terms AS (
          SELECT t_a, t_b,
            CASE WHEN cnt_a = 0 THEN CAST(0 AS BIGINT)
              ELSE cnt_a * CAST(FLOOR(LN(
                2.0 * (CAST(cnt_a AS DOUBLE) * t_b)
                / (CAST(cnt_a AS DOUBLE) * t_b + CAST(cnt_b AS DOUBLE) * t_a)
              ) * 1000000) AS BIGINT) END AS wa,
            CASE WHEN cnt_b = 0 THEN CAST(0 AS BIGINT)
              ELSE cnt_b * CAST(FLOOR(LN(
                2.0 * (CAST(cnt_b AS DOUBLE) * t_a)
                / (CAST(cnt_a AS DOUBLE) * t_b + CAST(cnt_b AS DOUBLE) * t_a)
              ) * 1000000) AS BIGINT) END AS wb
          FROM j
        )
        SELECT CAST(MAX(t_a) AS BIGINT) AS t_a,
          CAST(MAX(t_b) AS BIGINT) AS t_b,
          CAST(SUM(wa) // (2 * MAX(t_a)) + SUM(wb) // (2 * MAX(t_b))
            AS BIGINT) AS jsd_micro
        FROM terms
    """
    oracles["cronbach_alpha"] = """
        WITH rated AS (
          SELECT d.doc_id AS subject, r.item_id,
            CASE WHEN (((d.doc_id * 5 + r.item_id) % 1000003) * 2654435761)
                     % 1000003 % 4 < 3
              THEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 4
              ELSE ((((d.doc_id * 5 + r.item_id + 101) % 1000003)
                    * 2654435761) % 1000003) % 4
            END AS score
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 5)) AS item_id) r
        ),
        per_item AS (
          SELECT item_id, CAST(SUM(score) AS HUGEINT) AS s,
            CAST(SUM(score * score) AS HUGEINT) AS q,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM rated GROUP BY 1
        ),
        item_tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k, MAX(n) AS n,
            SUM(n * q - s * s) AS num1
          FROM per_item
        ),
        per_subj AS (
          SELECT subject, CAST(SUM(score) AS BIGINT) AS t
          FROM rated GROUP BY 1
        ),
        subj_tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n2,
            SUM(CAST(t AS HUGEINT) * t) AS st2,
            CAST(SUM(t) AS HUGEINT) AS g
          FROM per_subj
        )
        SELECT n2 AS n_subjects, k,
          CAST(CAST(k AS HUGEINT)
              * ((n2 * st2 - g * g) - num1) * 1000000
            // NULLIF((k - 1) * (n2 * st2 - g * g), 0) AS BIGINT)
            AS alpha_micro
        FROM item_tot CROSS JOIN subj_tot
    """
    oracles["nelson_aalen"] = """
        WITH h AS (SELECT MAX(o_orderdate) AS hz FROM orders),
        base AS (
          SELECT c.c_mktsegment AS segment, o.o_orderdate,
            LEAD(o.o_orderdate) OVER (
              PARTITION BY o.o_custkey
              ORDER BY o.o_orderdate, o.o_orderkey) AS nxt
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        r AS (
          SELECT segment,
            CAST(datediff('day', o_orderdate,
              COALESCE(nxt, (SELECT hz FROM h))) AS BIGINT) AS t,
            (nxt IS NOT NULL) AS e
          FROM base
        ),
        per_t AS (
          SELECT segment, t,
            CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
            CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS c
          FROM r GROUP BY 1, 2
        ),
        staged AS (
          SELECT segment, t, d,
            CAST(SUM(d + c) OVER (PARTITION BY segment)
              - COALESCE(SUM(d + c) OVER (
                  PARTITION BY segment ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n
          FROM per_t
        )
        SELECT segment, t, n AS n_risk, d AS n_events,
          CAST(SUM(d * 1000000 // n) OVER (
            PARTITION BY segment ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_hazard_micro
        FROM staged
    """
    # b literal generated from the SAME arithmetic the operator embeds
    # (sensitivity*1e6/epsilon_micro) so the doubles match bit-for-bit.
    _dp_b = 1.0 * 1_000_000.0 / 1_098_612
    oracles["dp_noisy_counts"] = f"""
        WITH per AS (
          SELECT c_nationkey AS grp, CAST(COUNT(*) AS BIGINT) AS n
          FROM customer GROUP BY 1
        ),
        noisy AS (
          SELECT grp, n,
            (CAST(('0x' || substr(md5(CAST(grp AS VARCHAR) || ':' || '7'),
              1, 15)) AS BIGINT) % 1999999 + 1 - 1000000) / 1000000.0 AS u
          FROM per
        )
        SELECT grp AS "group",
          CAST(n * 1000000 + CAST(FLOOR(
            -({_dp_b!r}) * SIGN(u) * LN(1.0 - ABS(u)) * 1000000)
            AS BIGINT) AS BIGINT) AS released_micro,
          CAST(1098612 AS BIGINT) AS epsilon_micro,
          CAST(1 AS BIGINT) AS sensitivity
        FROM noisy
    """
    oracles["feature_hashing_signed"] = """
        WITH toks AS (
          SELECT doc_id AS id,
            UNNEST(string_split(trim(regexp_replace(lower(text),
              '\\s+', ' ', 'g')), ' ')) AS token
          FROM documents
        ),
        cell AS (
          SELECT id,
            CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % 32
              AS idx,
            CAST(('0x' || substr(md5(token || '#s'), 1, 15)) AS BIGINT)
              % 2 * 2 - 1 AS sgn
          FROM toks WHERE length(token) > 0
        ),
        agg AS (
          SELECT id, idx, CAST(SUM(sgn) AS BIGINT) AS val
          FROM cell GROUP BY 1, 2
          HAVING SUM(sgn) <> 0
        )
        SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS nnz,
          string_agg(CAST(idx AS VARCHAR) || ':' || CAST(val AS VARCHAR),
            ' ' ORDER BY idx) AS features
        FROM agg GROUP BY 1
    """
    oracles["wasserstein_drift"] = """
        WITH base AS (
          SELECT c_mktsegment AS g,
            CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
          FROM customer
          WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        vc AS (
          SELECT v,
            CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
              AS na,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT)
              AS nb
          FROM base GROUP BY 1
        ),
        cum AS (
          SELECT v,
            SUM(na) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
            SUM(nb) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
            LEAD(v) OVER (ORDER BY v) AS vn
          FROM vc
        ),
        tot AS (
          SELECT CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
          FROM base
        )
        SELECT n_a, n_b,
          CAST(SUM(ABS(CAST(ca AS HUGEINT) * n_b
                - CAST(cb AS HUGEINT) * n_a) * (vn - v)) * 1000000
            // NULLIF(CAST(n_a AS HUGEINT) * n_b, 0) AS BIGINT) AS w1_micro
        FROM cum CROSS JOIN tot
        WHERE vn IS NOT NULL
        GROUP BY n_a, n_b
    """
    oracles["roc_points"] = f"""
        WITH {_URGENT_POP},
        mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM lab),
        scored AS (
          SELECT CAST(FLOOR((lab.v - mm.mn) / (mm.mx - mm.mn) * 100.0)
              AS BIGINT) AS pct,
            CASE WHEN lab.y THEN 1 ELSE 0 END AS y
          FROM lab CROSS JOIN mm
        ),
        vc AS (
          SELECT pct AS threshold,
            CAST(SUM(y) AS BIGINT) AS p,
            CAST(SUM(1 - y) AS BIGINT) AS q
          FROM scored GROUP BY 1
        )
        SELECT threshold,
          CAST(SUM(p) OVER (ORDER BY threshold DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS tp,
          CAST(SUM(q) OVER (ORDER BY threshold DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS fp,
          CAST(SUM(p) OVER (ORDER BY threshold DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
            // NULLIF(SUM(p) OVER (), 0) AS BIGINT) AS tpr_micro,
          CAST(SUM(q) OVER (ORDER BY threshold DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
            // NULLIF(SUM(q) OVER (), 0) AS BIGINT) AS fpr_micro
        FROM vc
    """
    oracles["average_precision"] = f"""
        WITH {_URGENT_POP},
        base AS (
          SELECT CAST(FLOOR(v * 100) AS BIGINT) AS s,
            CASE WHEN y THEN 1 ELSE 0 END AS yy
          FROM lab
        ),
        vc AS (
          SELECT s, CAST(COUNT(*) AS BIGINT) AS c,
            CAST(SUM(yy) AS BIGINT) AS p
          FROM base GROUP BY 1
        ),
        cum AS (
          SELECT p,
            SUM(c) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(p) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p
          FROM vc
        )
        SELECT CAST(MAX(cum) AS BIGINT) AS n,
          CAST(SUM(p) AS BIGINT) AS n_pos,
          CAST(SUM(p * ((cum_p * 1000000) // cum))
            // NULLIF(SUM(p), 0) AS BIGINT) AS ap_micro
        FROM cum
    """
    oracles["benford_chi2"] = """
        WITH observed AS (
          SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM (
            SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
          ) WHERE v > 0 GROUP BY 1
        ),
        spine AS (
          SELECT CAST(digit AS BIGINT) AS digit
          FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) s(digit)
        ),
        digits AS (
          SELECT spine.digit, CAST(COALESCE(observed.n, 0) AS BIGINT) AS n
          FROM spine LEFT JOIN observed USING (digit)
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS N_ FROM digits)
        SELECT digit, n,
          CAST(FLOOR((CASE digit WHEN 1 THEN CAST(0.3010299956639812 AS DOUBLE) WHEN 2 THEN CAST(0.17609125905568124 AS DOUBLE) WHEN 3 THEN CAST(0.12493873660829992 AS DOUBLE) WHEN 4 THEN CAST(0.09691001300805642 AS DOUBLE) WHEN 5 THEN CAST(0.07918124604762482 AS DOUBLE) WHEN 6 THEN CAST(0.06694678963061322 AS DOUBLE) WHEN 7 THEN CAST(0.05799194697768673 AS DOUBLE) WHEN 8 THEN CAST(0.05115252244738129 AS DOUBLE) WHEN 9 THEN CAST(0.04575749056067514 AS DOUBLE) END) * 1000000) AS BIGINT) AS expected_micro,
          CAST(FLOOR(
            (n - N_ * (CASE digit WHEN 1 THEN CAST(0.3010299956639812 AS DOUBLE) WHEN 2 THEN CAST(0.17609125905568124 AS DOUBLE) WHEN 3 THEN CAST(0.12493873660829992 AS DOUBLE) WHEN 4 THEN CAST(0.09691001300805642 AS DOUBLE) WHEN 5 THEN CAST(0.07918124604762482 AS DOUBLE) WHEN 6 THEN CAST(0.06694678963061322 AS DOUBLE) WHEN 7 THEN CAST(0.05799194697768673 AS DOUBLE) WHEN 8 THEN CAST(0.05115252244738129 AS DOUBLE) WHEN 9 THEN CAST(0.04575749056067514 AS DOUBLE) END)) * (n - N_ * (CASE digit WHEN 1 THEN CAST(0.3010299956639812 AS DOUBLE) WHEN 2 THEN CAST(0.17609125905568124 AS DOUBLE) WHEN 3 THEN CAST(0.12493873660829992 AS DOUBLE) WHEN 4 THEN CAST(0.09691001300805642 AS DOUBLE) WHEN 5 THEN CAST(0.07918124604762482 AS DOUBLE) WHEN 6 THEN CAST(0.06694678963061322 AS DOUBLE) WHEN 7 THEN CAST(0.05799194697768673 AS DOUBLE) WHEN 8 THEN CAST(0.05115252244738129 AS DOUBLE) WHEN 9 THEN CAST(0.04575749056067514 AS DOUBLE) END))
            / (N_ * (CASE digit WHEN 1 THEN CAST(0.3010299956639812 AS DOUBLE) WHEN 2 THEN CAST(0.17609125905568124 AS DOUBLE) WHEN 3 THEN CAST(0.12493873660829992 AS DOUBLE) WHEN 4 THEN CAST(0.09691001300805642 AS DOUBLE) WHEN 5 THEN CAST(0.07918124604762482 AS DOUBLE) WHEN 6 THEN CAST(0.06694678963061322 AS DOUBLE) WHEN 7 THEN CAST(0.05799194697768673 AS DOUBLE) WHEN 8 THEN CAST(0.05115252244738129 AS DOUBLE) WHEN 9 THEN CAST(0.04575749056067514 AS DOUBLE) END)) * 1000000) AS BIGINT) AS chi2_term_micro
        FROM digits CROSS JOIN tot
    """
    oracles["isotonic_calibration"] = f"""
        WITH {_URGENT_POP},
        mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM lab),
        scored AS (
          SELECT CAST(FLOOR((lab.v - mm.mn) / (mm.mx - mm.mn) * 100.0)
              AS BIGINT) AS s,
            CASE WHEN lab.y THEN 1 ELSE 0 END AS y
          FROM lab CROSS JOIN mm
        ),
        lv AS (
          SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(y) AS BIGINT) AS pos
          FROM scored GROUP BY 1
        ),
        cum AS (
          SELECT s, n, pos,
            SUM(n) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
            SUM(pos) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
          FROM lv
        ),
        segs AS (
          SELECT a.s AS j, b.s AS k,
            CAST(b.cp - (a.cp - a.pos) AS DOUBLE)
              / CAST(b.cn - (a.cn - a.n) AS DOUBLE) AS avg
          FROM cum a JOIN cum b ON a.s <= b.s
        ),
        inner_m AS (
          SELECT i.s AS i, g.j, MIN(g.avg) AS minavg
          FROM cum i JOIN segs g ON g.j <= i.s AND g.k >= i.s
          GROUP BY 1, 2
        ),
        fit AS (
          SELECT i, CAST(FLOOR(MAX(minavg) * 1000000.0) AS BIGINT)
            AS iso_micro
          FROM inner_m GROUP BY 1
        )
        SELECT cum.s AS score, cum.n, cum.pos, fit.iso_micro
        FROM cum JOIN fit ON fit.i = cum.s
    """
    oracles["diebold_mariano"] = """
        WITH monthly AS MATERIALIZED (
          SELECT c.c_nationkey AS nation,
            EXTRACT(year FROM o.o_orderdate) * 12
              + EXTRACT(month FROM o.o_orderdate) - 1 AS m,
            CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ),
        lagged AS (
          SELECT rev,
            LAG(rev, 1) OVER (PARTITION BY nation ORDER BY m) AS p1,
            LAG(rev, 2) OVER (PARTITION BY nation ORDER BY m) AS p2
          FROM monthly
        ),
        losses AS (
          SELECT ABS(rev - p1) AS la,
            ABS(rev - (CAST(p1 + p2 AS HUGEINT) // 2)) AS lb
          FROM lagged WHERE p2 IS NOT NULL
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(la - lb) AS HUGEINT) AS s,
            SUM(CAST(la - lb AS HUGEINT) * (la - lb)) AS q
          FROM losses
        )
        SELECT n,
          CAST(s * 1000000 // NULLIF(n, 0) AS BIGINT) AS mean_diff_micro,
          CAST(FLOOR(
            CAST(s AS DOUBLE) * SQRT(CAST(n - 1 AS DOUBLE))
            / NULLIF(SQRT(CAST(n * q - s * s AS DOUBLE)), 0.0)
            * 1000000) AS BIGINT) AS dm_micro
        FROM tot
    """
    oracles["log_rank_test"] = """
        WITH h AS (SELECT MAX(o_orderdate) AS hz FROM orders),
        base AS (
          SELECT c.c_mktsegment AS segment, o.o_orderdate,
            LEAD(o.o_orderdate) OVER (
              PARTITION BY o.o_custkey
              ORDER BY o.o_orderdate, o.o_orderkey) AS nxt
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        r AS (
          SELECT segment = 'BUILDING' AS ga,
            CAST(datediff('day', o_orderdate,
              COALESCE(nxt, (SELECT hz FROM h))) AS BIGINT) AS t,
            (nxt IS NOT NULL) AS e
          FROM base
        ),
        per_t AS (
          SELECT t,
            CAST(SUM(CASE WHEN ga AND e THEN 1 ELSE 0 END) AS BIGINT)
              AS da,
            CAST(SUM(CASE WHEN ga AND NOT e THEN 1 ELSE 0 END) AS BIGINT)
              AS ca,
            CAST(SUM(CASE WHEN NOT ga AND e THEN 1 ELSE 0 END) AS BIGINT)
              AS db,
            CAST(SUM(CASE WHEN NOT ga AND NOT e THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
          FROM r GROUP BY 1
        ),
        staged AS (
          SELECT t, da, db,
            CAST(SUM(da + ca) OVER ()
              - COALESCE(SUM(da + ca) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS na,
            CAST(SUM(db + cb) OVER ()
              - COALESCE(SUM(db + cb) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS nb
          FROM per_t
        ),
        terms AS (
          SELECT da,
            CAST(FLOOR(CAST(da + db AS DOUBLE) * na / (na + nb)
              * 1000000) AS BIGINT) AS e_micro,
            CASE WHEN na + nb < 2 THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(
                CAST(da + db AS DOUBLE)
                * (CAST(na AS DOUBLE) / (na + nb))
                * (1.0 - CAST(na AS DOUBLE) / (na + nb))
                * (CAST(na + nb - da - db AS DOUBLE) / (na + nb - 1))
                * 1000000) AS BIGINT) END AS v_micro
          FROM staged WHERE da + db > 0
        ),
        tot AS (
          SELECT CAST(SUM(da) AS BIGINT) AS o_a,
            CAST(SUM(e_micro) AS BIGINT) AS e_a_micro,
            CAST(SUM(v_micro) AS BIGINT) AS v_micro
          FROM terms
        )
        SELECT o_a, e_a_micro, v_micro,
          CAST(FLOOR(
            (CAST(o_a AS DOUBLE) * 1000000 - e_a_micro)
            / NULLIF(SQRT(CAST(v_micro AS DOUBLE) * 1000000), 0.0)
            * 1000000) AS BIGINT) AS z_micro
        FROM tot
    """
    oracles["two_proportion_z"] = """
        WITH urgent AS (
          SELECT DISTINCT o_custkey AS c_custkey, 1 AS u
          FROM orders WHERE o_orderpriority = '1-URGENT'
        ),
        frame AS (
          SELECT c.c_mktsegment AS g,
            CAST(COALESCE(u.u, 0) AS BIGINT) AS s
          FROM customer c LEFT JOIN urgent u USING (c_custkey)
          WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        tot AS (
          SELECT
            CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_a,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_b,
            CAST(SUM(CASE WHEN g = 'BUILDING' THEN s ELSE 0 END) AS BIGINT)
              AS x_a,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN s ELSE 0 END) AS BIGINT)
              AS x_b
          FROM frame
        )
        SELECT n_a, n_b, x_a, x_b,
          CASE WHEN n_a = 0 OR n_b = 0
              OR x_a + x_b = 0 OR x_a + x_b = n_a + n_b
          THEN CAST(NULL AS BIGINT)
          ELSE CAST(FLOOR(
            (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
            / SQRT(
              (CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
              * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
              * (1.0 / n_a + 1.0 / n_b))
            * 1000000) AS BIGINT) END AS z_micro
        FROM tot
    """
    oracles["post_stratified"] = """
        WITH frame AS (
          SELECT CASE WHEN ((c_custkey % 1000003) * 2654435761)
                   % 1000003 % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
            c_nationkey AS s,
            CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS y
          FROM customer
        ),
        per AS (
          SELECT s,
            CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
              AS na,
            CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
              AS nb,
            CAST(SUM(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT)
              AS sya,
            CAST(SUM(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS BIGINT)
              AS syb
          FROM frame GROUP BY 1
        ),
        matched AS (
          SELECT na, nb,
            CAST(na + nb AS HUGEINT)
              * ((sya * 1000000 // na) - (syb * 1000000 // nb)) AS term
          FROM per WHERE na > 0 AND nb > 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
          CAST(SUM(na) AS BIGINT) AS n_a,
          CAST(SUM(nb) AS BIGINT) AS n_b,
          CAST(SUM(term) // NULLIF(SUM(na) + SUM(nb), 0) AS BIGINT)
            AS diff_micro
        FROM matched
    """
    oracles["embedding_contamination"] = """
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT a.vec_id AS eval_id, b.vec_id AS train_id,
          list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) AS cos
        FROM e a JOIN e b
          ON a.vec_id < 100 AND b.vec_id >= 100 AND b.vec_id < 600
        WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.3
    """
    _dps_b = 500_000.0 * 1_000_000.0 / 1_098_612
    oracles["dp_noisy_sum"] = f"""
        WITH per AS (
          SELECT c_nationkey AS grp,
            CAST(SUM(LEAST(GREATEST(
              CAST(FLOOR(c_acctbal * 100) AS BIGINT), 0), 500000))
              AS BIGINT) AS s
          FROM customer GROUP BY 1
        ),
        noisy AS (
          SELECT grp, s,
            (CAST(('0x' || substr(md5(CAST(grp AS VARCHAR) || ':' || '11'),
              1, 15)) AS BIGINT) % 1999999 + 1 - 1000000) / 1000000.0 AS u
          FROM per
        )
        SELECT grp AS "group",
          CAST(s * 1000000 + CAST(FLOOR(
            -({_dps_b!r}) * SIGN(u) * LN(1.0 - ABS(u)) * 1000000)
            AS BIGINT) AS BIGINT) AS released_micro,
          CAST(1098612 AS BIGINT) AS epsilon_micro,
          CAST(500000 AS BIGINT) AS clip
        FROM noisy
    """
    oracles["tv_drift"] = """
        WITH base AS (
          SELECT c_mktsegment AS g,
            CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
          FROM customer
          WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        vc AS (
          SELECT v,
            CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
              AS ca,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT)
              AS cb
          FROM base GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
          FROM base
        )
        SELECT n_a, n_b,
          CAST(SUM(ABS(CAST(ca AS HUGEINT) * n_b
                - CAST(cb AS HUGEINT) * n_a)) * 1000000
            // NULLIF(2 * CAST(n_a AS HUGEINT) * n_b, 0) AS BIGINT)
            AS tv_micro
        FROM vc CROSS JOIN tot
        GROUP BY n_a, n_b
    """
    oracles["hellinger_drift"] = """
        WITH base AS (
          SELECT c_mktsegment AS g,
            CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
          FROM customer
          WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        vc AS (
          SELECT v,
            CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
              AS ca,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT)
              AS cb
          FROM base GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
          FROM base
        )
        SELECT n_a, n_b,
          CAST(SUM(CAST(FLOOR(
            (SQRT(CAST(ca AS DOUBLE) / n_a) - SQRT(CAST(cb AS DOUBLE) / n_b))
            * (SQRT(CAST(ca AS DOUBLE) / n_a) - SQRT(CAST(cb AS DOUBLE) / n_b))
            * 500000) AS BIGINT)) AS BIGINT) AS h2_micro
        FROM vc CROSS JOIN tot
        GROUP BY n_a, n_b
    """
    oracles["krippendorff_ordinal"] = """
        WITH rated AS MATERIALIZED (
          SELECT d.doc_id AS it, r.rater AS r,
            1 + CASE WHEN (((d.doc_id * 5 + r.rater) % 1000003)
                          * 2654435761) % 1000003 % 4 < 3
              THEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 5
              ELSE ((((d.doc_id * 5 + r.rater + 101) % 1000003)
                   * 2654435761) % 1000003) % 5
            END AS l
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 5)) AS rater) r
          WHERE ((((d.doc_id * 11 + r.rater * 3) % 1000003) * 2654435761)
                 % 1000003) % 10 < 6 + (r.rater % 3)
        ),
        nuc AS (SELECT it, l, CAST(COUNT(*) AS BIGINT) AS c
                FROM rated GROUP BY 1, 2),
        per AS MATERIALIZED (
          SELECT it, CAST(SUM(c) AS BIGINT) AS m
          FROM nuc GROUP BY 1 HAVING SUM(c) >= 2
        ),
        multi AS (SELECT nuc.* FROM nuc JOIN per ON nuc.it = per.it),
        cat AS (SELECT l, CAST(SUM(c) AS BIGINT) AS cj FROM multi GROUP BY 1),
        catc AS (
          SELECT l, cj,
            SUM(cj) OVER (ORDER BY l
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM cat
        ),
        wp AS (
          SELECT a.l AS lc, b.l AS lk, a.cj AS cjc, b.cj AS cjk,
            CAST(2 * (b.cum - a.cum) + a.cj - b.cj AS HUGEINT)
              * CAST(2 * (b.cum - a.cum) + a.cj - b.cj AS HUGEINT) AS w
          FROM catc a JOIN catc b ON a.l < b.l
        ),
        ctot AS (SELECT CAST(SUM(cj) AS BIGINT) AS n FROM cat),
        de AS (SELECT SUM(CAST(cjc AS HUGEINT) * cjk * w) AS de_num FROM wp),
        ip AS (
          SELECT a.it, SUM(CAST(a.c AS HUGEINT) * b.c * wp.w) AS pd
          FROM multi a
          JOIN multi b ON a.it = b.it AND a.l < b.l
          JOIN wp ON wp.lc = a.l AND wp.lk = b.l
          GROUP BY 1
        ),
        obs AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
            SUM(COALESCE(pd, 0) * 1000000 // (m - 1)) AS do_scaled
          FROM per LEFT JOIN ip USING (it)
        )
        SELECT n_items, n AS n_ratings,
          CAST((do_scaled * (n - 1)) // NULLIF(de_num, 0) AS BIGINT)
            AS disagreement_micro,
          CAST(1000000 - (do_scaled * (n - 1)) // NULLIF(de_num, 0)
            AS BIGINT) AS alpha_micro
        FROM obs CROSS JOIN ctot CROSS JOIN de
    """
    oracles["pass_at_k_ci"] = """
        WITH per AS (
          SELECT l_orderkey,
            CAST(COUNT(*) AS BIGINT) AS n_samples,
            CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_correct
          FROM lineitem GROUP BY 1
        ),
        prof AS (
          SELECT n_samples, n_correct,
            CAST(COUNT(*) AS BIGINT) AS n_problems,
            CAST(1000000 - (CAST(1000000 AS HUGEINT)
                * (n_samples - n_correct)
                * (n_samples - n_correct - 1)
                * (n_samples - n_correct - 2))
              // (CAST(n_samples AS HUGEINT)
                * (n_samples - 1) * (n_samples - 2)) AS BIGINT)
              AS pmic
          FROM per WHERE n_samples >= 3 GROUP BY 1, 2
        ),
        tot AS (
          SELECT CAST(SUM(n_problems) AS BIGINT) AS n_problems,
            CAST(SUM(n_problems * pmic) AS BIGINT) AS s_micro
          FROM prof
        )
        SELECT CAST(3 AS BIGINT) AS k, n_problems,
          CAST(floor(CAST(s_micro AS DOUBLE)
            / (CAST(n_problems AS DOUBLE) * 1000000.0)
            * 1000000.0) AS BIGINT) AS pass_at_k_mean_micro,
          CAST(floor((
            (CAST(s_micro AS DOUBLE)
               / (CAST(n_problems AS DOUBLE) * 1000000.0)
              + 1.96 * 1.96 / (2.0 * CAST(n_problems AS DOUBLE)))
            / (1.0 + 1.96 * 1.96 / CAST(n_problems AS DOUBLE))
            - 1.96 * sqrt(
                CAST(s_micro AS DOUBLE)
                  / (CAST(n_problems AS DOUBLE) * 1000000.0)
                * (1.0 - CAST(s_micro AS DOUBLE)
                  / (CAST(n_problems AS DOUBLE) * 1000000.0))
                / CAST(n_problems AS DOUBLE)
                + 1.96 * 1.96 / (4.0 * CAST(n_problems AS DOUBLE)
                  * CAST(n_problems AS DOUBLE)))
              / (1.0 + 1.96 * 1.96 / CAST(n_problems AS DOUBLE))
          ) * 1000000.0) AS BIGINT) AS lo_micro,
          CAST(floor((
            (CAST(s_micro AS DOUBLE)
               / (CAST(n_problems AS DOUBLE) * 1000000.0)
              + 1.96 * 1.96 / (2.0 * CAST(n_problems AS DOUBLE)))
            / (1.0 + 1.96 * 1.96 / CAST(n_problems AS DOUBLE))
            + 1.96 * sqrt(
                CAST(s_micro AS DOUBLE)
                  / (CAST(n_problems AS DOUBLE) * 1000000.0)
                * (1.0 - CAST(s_micro AS DOUBLE)
                  / (CAST(n_problems AS DOUBLE) * 1000000.0))
                / CAST(n_problems AS DOUBLE)
                + 1.96 * 1.96 / (4.0 * CAST(n_problems AS DOUBLE)
                  * CAST(n_problems AS DOUBLE)))
              / (1.0 + 1.96 * 1.96 / CAST(n_problems AS DOUBLE))
          ) * 1000000.0) AS BIGINT) AS hi_micro
        FROM tot
    """
    oracles["cusum_two_sided"] = """
        WITH series AS (
          SELECT user_id, event_id,
            CAST(FLOOR(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'
        ),
        walk AS (
          SELECT user_id,
            SUM(cents - 5500) OVER w AS cu,
            SUM(4500 - cents) OVER w AS cd,
            CAST(ROW_NUMBER() OVER
              (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS step
          FROM series
          WINDOW w AS (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        s AS (
          SELECT user_id, step,
            cu - LEAST(CAST(0 AS BIGINT), MIN(cu) OVER wm) AS su,
            cd - LEAST(CAST(0 AS BIGINT), MIN(cd) OVER wm) AS sd
          FROM walk
          WINDOW wm AS (PARTITION BY user_id ORDER BY step
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        agg AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(MAX(su) AS BIGINT) AS max_cusum_upper,
            CAST(MAX(sd) AS BIGINT) AS max_cusum_lower,
            CAST(MIN(CASE WHEN su > 25000 OR sd > 25000 THEN step END)
              AS BIGINT) AS first_alarm_step
          FROM s GROUP BY 1
        )
        SELECT a.user_id, a.n, a.max_cusum_upper, a.max_cusum_lower,
          a.first_alarm_step,
          CASE WHEN a.first_alarm_step IS NULL THEN NULL
               WHEN s.su > 25000 AND s.sd > 25000 THEN 'both'
               WHEN s.su > 25000 THEN 'upper' ELSE 'lower' END
            AS alarm_side
        FROM agg a LEFT JOIN s
          ON s.user_id = a.user_id AND s.step = a.first_alarm_step
    """
    oracles["dp_noisy_mean"] = """
        WITH per AS (
          SELECT c_nationkey AS grp,
            CAST(SUM(LEAST(GREATEST(
              CAST(FLOOR(c_acctbal * 100) AS BIGINT), 0), 500000))
              AS BIGINT) AS s,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM customer GROUP BY 1
        ),
        noisy AS (
          SELECT grp, s, n,
            (CAST(('0x' || substr(md5(CAST(grp AS VARCHAR) || ':' || '7'),
              1, 15)) AS BIGINT) % 1999999 + 1 - 1000000) / 1000000.0 AS us,
            (CAST(('0x' || substr(md5(CAST(grp AS VARCHAR) || ':'
              || '1000010'), 1, 15)) AS BIGINT) % 1999999 + 1 - 1000000)
              / 1000000.0 AS uc
          FROM per
        ),
        rel AS (
          SELECT grp,
            CAST(s * 1000000 + CAST(FLOOR(
              -(601123.3793713693) * SIGN(us) * LN(1.0 - ABS(us)) * 1000000)
              AS BIGINT) AS BIGINT) AS released_sum_micro,
            CAST(n * 1000000 + CAST(FLOOR(
              -(1.803367970020811) * SIGN(uc) * LN(1.0 - ABS(uc)) * 1000000)
              AS BIGINT) AS BIGINT) AS released_count_micro
          FROM noisy
        )
        SELECT grp AS "group", released_sum_micro, released_count_micro,
          CASE WHEN released_count_micro <= 0 THEN NULL
            ELSE CAST(FLOOR(CAST(released_sum_micro AS DOUBLE)
              / CAST(released_count_micro AS DOUBLE) * 1000000) AS BIGINT)
          END AS mean_micro,
          CAST(831776 AS BIGINT) AS epsilon_sum_micro,
          CAST(554518 AS BIGINT) AS epsilon_count_micro,
          CAST(1386294 AS BIGINT) AS epsilon_total_micro,
          CAST(500000 AS BIGINT) AS clip
        FROM rel
    """
    oracles["cvm_drift"] = """
        WITH sub AS (
          SELECT c_mktsegment AS g,
            CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
          FROM customer
          WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        vc AS (
          SELECT v,
            CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
          FROM sub GROUP BY 1
        ),
        cum AS (
          SELECT ca, cb,
            SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb
          FROM vc
          WINDOW w AS (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                CAST(SUM(cb) AS BIGINT) AS n_b FROM vc)
        SELECT n_a, n_b,
          CAST(SUM(CAST(ca + cb AS HUGEINT)
              * (CAST(cuma AS HUGEINT) * n_b - CAST(cumb AS HUGEINT) * n_a)
              * (CAST(cuma AS HUGEINT) * n_b - CAST(cumb AS HUGEINT) * n_a))
            * 1000000
            // NULLIF(CAST(n_a AS HUGEINT) * n_b
              * (n_a + n_b) * (n_a + n_b), 0) AS BIGINT) AS cvm_micro
        FROM cum CROSS JOIN tot GROUP BY n_a, n_b
    """
    oracles["theil_u"] = """
        WITH cells AS (
          SELECT lang AS x, source AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
          FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL
          GROUP BY 1, 2
        ),
        m AS (
          SELECT x, n_xy,
            SUM(n_xy) OVER (PARTITION BY x) AS n_x,
            SUM(n_xy) OVER (PARTITION BY y) AS n_y,
            SUM(n_xy) OVER () AS n
          FROM cells
        ),
        staged AS (
          SELECT x, n_x, n,
            CAST(FLOOR(
              CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)
              * LN((CAST(n_xy AS DOUBLE) / CAST(n_x AS DOUBLE))
                   * (CAST(n AS DOUBLE) / CAST(n_y AS DOUBLE)))
              * 1000000) AS BIGINT) AS mi
          FROM m
        ),
        per_x AS (
          SELECT MAX(n) AS n, CAST(SUM(mi) AS BIGINT) AS mi_x,
            CAST(FLOOR(
              CAST(MAX(n_x) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
              * LN(CAST(MAX(n) AS DOUBLE) / CAST(MAX(n_x) AS DOUBLE))
              * 1000000) AS BIGINT) AS hx
          FROM staged GROUP BY x
        ),
        cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells)
        SELECT CAST(MAX(n) AS BIGINT) AS n, n_cells,
          CAST(SUM(mi_x) AS BIGINT) AS mi_micro,
          CAST(SUM(hx) AS BIGINT) AS hx_micro,
          CAST(CAST(GREATEST(SUM(mi_x), 0) AS HUGEINT) * 1000000
            // NULLIF(CAST(SUM(hx) AS BIGINT), 0) AS BIGINT) AS u_micro
        FROM per_x CROSS JOIN cc GROUP BY n_cells
    """
    oracles["krippendorff_interval"] = """
        WITH rated AS MATERIALIZED (
          SELECT d.doc_id AS it, r.rater AS r,
            1 + CASE WHEN (((d.doc_id * 5 + r.rater) % 1000003)
                          * 2654435761) % 1000003 % 4 < 3
              THEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 5
              ELSE ((((d.doc_id * 5 + r.rater + 101) % 1000003)
                   * 2654435761) % 1000003) % 5
            END AS l
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 5)) AS rater) r
          WHERE ((((d.doc_id * 11 + r.rater * 3) % 1000003) * 2654435761)
                 % 1000003) % 10 < 6 + (r.rater % 3)
        ),
        nuc AS (SELECT it, l, CAST(COUNT(*) AS BIGINT) AS c
                FROM rated GROUP BY 1, 2),
        per AS MATERIALIZED (
          SELECT it, CAST(SUM(c) AS BIGINT) AS m
          FROM nuc GROUP BY 1 HAVING SUM(c) >= 2
        ),
        multi AS (SELECT nuc.* FROM nuc JOIN per ON nuc.it = per.it),
        cat AS (SELECT l, CAST(SUM(c) AS BIGINT) AS cj FROM multi GROUP BY 1),
        ctot AS (SELECT CAST(SUM(cj) AS BIGINT) AS n FROM cat),
        de AS (
          SELECT SUM(CAST(a.cj AS HUGEINT) * b.cj
            * CAST(b.l - a.l AS HUGEINT) * (b.l - a.l)) AS de_num
          FROM cat a JOIN cat b ON a.l < b.l
        ),
        ip AS (
          SELECT a.it, SUM(CAST(a.c AS HUGEINT) * b.c
            * CAST(b.l - a.l AS HUGEINT) * (b.l - a.l)) AS pd
          FROM multi a JOIN multi b ON a.it = b.it AND a.l < b.l
          GROUP BY 1
        ),
        obs AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
            SUM(COALESCE(pd, 0) * 1000000 // (m - 1)) AS do_scaled
          FROM per LEFT JOIN ip USING (it)
        )
        SELECT n_items, n AS n_ratings,
          CAST((do_scaled * (n - 1)) // NULLIF(de_num, 0) AS BIGINT)
            AS disagreement_micro,
          CAST(1000000 - (do_scaled * (n - 1)) // NULLIF(de_num, 0)
            AS BIGINT) AS alpha_micro
        FROM obs CROSS JOIN ctot CROSS JOIN de
    """
    oracles["cochran_armitage"] = """
        WITH per AS (
          SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS r
          FROM orders GROUP BY 1
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
            CAST(SUM(n) AS BIGINT) AS n_total,
            CAST(SUM(r) AS BIGINT) AS n_cases,
            SUM(CAST(w AS HUGEINT) * r) AS wr,
            SUM(CAST(w AS HUGEINT) * n) AS wn,
            SUM(CAST(w AS HUGEINT) * w * n) AS w2n
          FROM per
        )
        SELECT k, n_total, n_cases,
          CASE WHEN n_cases = 0 OR n_cases = n_total OR k < 2 THEN NULL
            ELSE CAST(FLOOR(
              CAST(wr * n_total - wn * n_cases AS DOUBLE)
              / SQRT(CAST(CAST(n_cases AS HUGEINT) * (n_total - n_cases)
                  * (n_total * w2n - wn * wn) AS DOUBLE)
                / CAST(n_total AS DOUBLE))
              * 1000000) AS BIGINT) END AS z_micro
        FROM agg
    """
    oracles["lexical_diversity"] = """
        WITH counts AS (
          SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT doc_id,
              UNNEST(string_split(trim(regexp_replace(lower(text),
                '\\s+', ' ', 'g')), ' ')) AS token
            FROM documents
          ) WHERE length(token) > 0 GROUP BY 1, 2
        )
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 // SUM(c) AS BIGINT)
            AS ttr_micro,
          CASE WHEN SUM(c) < 2 THEN NULL
            ELSE CAST(FLOOR(
              LN(CAST(COUNT(*) AS DOUBLE)) / LN(CAST(SUM(c) AS DOUBLE))
              * 1000000) AS BIGINT) END AS herdan_c_micro,
          CAST(FLOOR(
            CAST(COUNT(*) AS DOUBLE) / SQRT(CAST(SUM(c) AS DOUBLE))
            * 1000000) AS BIGINT) AS guiraud_r_micro
        FROM counts GROUP BY 1
    """
    oracles["kruskal_wallis"] = """
        WITH sub AS (
          SELECT c_mktsegment AS g,
            CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
          FROM customer
          WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
        ),
        gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n_gv
               FROM sub GROUP BY 1, 2),
        tv AS (SELECT v, CAST(SUM(n_gv) AS BIGINT) AS t FROM gv GROUP BY 1),
        ranks AS (
          SELECT v, t,
            CAST(2 * COALESCE(SUM(t) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + t + 1 AS BIGINT) AS r2
          FROM tv
        ),
        per_g AS (
          SELECT gv.g, CAST(SUM(n_gv) AS BIGINT) AS n_g,
            CAST(SUM(n_gv * r2) AS BIGINT) AS r2_g
          FROM gv JOIN ranks USING (v) GROUP BY 1
        ),
        terms AS (
          SELECT CAST(CAST(r2_g AS HUGEINT) * r2_g * 3000000 // n_g
            AS HUGEINT) AS tt
          FROM per_g
        ),
        ties AS (
          SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_num,
            CAST(SUM(t) AS BIGINT) AS n
          FROM tv
        )
        SELECT MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS k,
          CAST(SUM(tt) // (CAST(MAX(n) AS HUGEINT) * (MAX(n) + 1))
            - 3000000 * (CAST(MAX(n) AS HUGEINT) + 1) AS BIGINT) AS h_micro,
          CAST((SUM(tt) // (CAST(MAX(n) AS HUGEINT) * (MAX(n) + 1))
              - 3000000 * (CAST(MAX(n) AS HUGEINT) + 1))
            * (CAST(MAX(n) AS HUGEINT) * MAX(n) * MAX(n) - MAX(n))
            // NULLIF(CAST(MAX(n) AS HUGEINT) * MAX(n) * MAX(n)
              - MAX(n) - MAX(tie_num), 0) AS BIGINT) AS h_tie_micro
        FROM terms CROSS JOIN ties
    """
    oracles["ad_drift"] = """
        WITH sub AS (
          SELECT c_mktsegment AS g,
            CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
          FROM customer
          WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        vc AS (
          SELECT v,
            CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
          FROM sub GROUP BY 1
        ),
        cum AS (
          SELECT ca + cb AS l,
            SUM(ca) OVER w AS cuma, SUM(ca + cb) OVER w AS bj
          FROM vc
          WINDOW w AS (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                CAST(SUM(cb) AS BIGINT) AS n_b FROM vc),
        terms AS (
          SELECT n_a, n_b,
            CASE WHEN bj < n_a + n_b THEN
            CAST(CAST(l AS HUGEINT) * 1000000
              * (CAST(cuma AS HUGEINT) * (n_a + n_b)
                 - CAST(bj AS HUGEINT) * n_a)
              * (CAST(cuma AS HUGEINT) * (n_a + n_b)
                 - CAST(bj AS HUGEINT) * n_a)
              // (CAST(bj AS HUGEINT) * (n_a + n_b - bj)) AS HUGEINT)
            ELSE CAST(0 AS HUGEINT) END AS tt
          FROM cum CROSS JOIN tot
        )
        SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
          CAST(SUM(tt) * (MAX(n_a) + MAX(n_b) - 1)
            // NULLIF(CAST(MAX(n_a) AS HUGEINT) * MAX(n_b), 0)
            AS BIGINT) AS ad_micro
        FROM terms
    """
    oracles["mood_median"] = """
        WITH sub AS (
          SELECT o_orderpriority AS g,
            CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
          FROM orders
          WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        ),
        gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n_gv
               FROM sub GROUP BY 1, 2),
        tv AS (SELECT v, CAST(SUM(n_gv) AS BIGINT) AS t FROM gv GROUP BY 1),
        cum AS (
          SELECT v, CAST(SUM(t) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
          FROM tv
        ),
        ntot AS (SELECT CAST(SUM(t) AS BIGINT) AS n FROM tv),
        med AS (
          SELECT MIN(v) AS median_v, MAX(n) AS n
          FROM cum CROSS JOIN ntot WHERE 2 * cum >= n
        ),
        cells AS (
          SELECT gv.g, med.n, med.median_v,
            CAST(SUM(n_gv) AS BIGINT) AS n_g,
            CAST(SUM(CASE WHEN gv.v <= med.median_v THEN n_gv
              ELSE 0 END) AS BIGINT) AS a_g
          FROM gv CROSS JOIN med GROUP BY gv.g, med.n, med.median_v
        ),
        staged AS (
          SELECT n, median_v, n_g, a_g,
            CAST(SUM(a_g) OVER () AS BIGINT) AS tot_a
          FROM cells
        ),
        terms AS (
          SELECT n, median_v,
            CAST((CAST(a_g AS HUGEINT) * n - CAST(n_g AS HUGEINT) * tot_a)
              * (CAST(a_g AS HUGEINT) * n - CAST(n_g AS HUGEINT) * tot_a)
              * 1000000
              // NULLIF(CAST(n AS HUGEINT) * n_g * tot_a, 0)
              AS BIGINT) AS ta,
            CAST((CAST(n_g - a_g AS HUGEINT) * n
                - CAST(n_g AS HUGEINT) * (n - tot_a))
              * (CAST(n_g - a_g AS HUGEINT) * n
                - CAST(n_g AS HUGEINT) * (n - tot_a))
              * 1000000
              // NULLIF(CAST(n AS HUGEINT) * n_g * (n - tot_a), 0)
              AS BIGINT) AS tb
          FROM staged
        )
        SELECT MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS k,
          MAX(median_v) AS median_v,
          CAST(SUM(ta) + SUM(tb) AS BIGINT) AS chi2_micro
        FROM terms
    """
    oracles["jonckheere_terpstra"] = """
        WITH sub AS (
          SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
            CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
          FROM orders
          WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        ),
        gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n_gv
               FROM sub GROUP BY 1, 2),
        spine AS (
          SELECT vv.v, gg.g
          FROM (SELECT DISTINCT v FROM gv) vv
          CROSS JOIN (SELECT DISTINCT g FROM gv) gg
        ),
        grid AS (
          SELECT spine.g, spine.v,
            CAST(COALESCE(gv.n_gv, 0) AS BIGINT) AS n_gv,
            CAST(COALESCE(SUM(COALESCE(gv.n_gv, 0)) OVER (
              PARTITION BY spine.g ORDER BY spine.v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cumlt
          FROM spine LEFT JOIN gv
            ON spine.g = gv.g AND spine.v = gv.v
        ),
        jt AS (
          SELECT CAST(SUM(hi.n_gv * (2 * lo.cumlt + lo.n_gv))
            AS BIGINT) AS jt2
          FROM grid lo JOIN grid hi ON lo.v = hi.v AND lo.g < hi.g
        ),
        moments AS (
          SELECT CAST(SUM(n_g) AS BIGINT) AS n,
            CAST(COUNT(*) AS BIGINT) AS k,
            SUM(CAST(n_g AS HUGEINT) * n_g) AS sum_sq,
            SUM(CAST(n_g AS HUGEINT) * n_g * (2 * n_g + 3)) AS sum_var
          FROM (SELECT g, CAST(SUM(n_gv) AS BIGINT) AS n_g
                FROM gv GROUP BY 1)
        )
        SELECT n, k, jt2,
          CAST(FLOOR(
            (CAST(jt2 AS DOUBLE)
             - (CAST(n AS DOUBLE) * n - CAST(sum_sq AS DOUBLE)) / 2)
            / SQRT(4.0 * (CAST(n AS DOUBLE) * n * (2 * n + 3)
                          - CAST(sum_var AS DOUBLE)) / 72)
            * 1000000) AS BIGINT) AS z_micro
        FROM jt CROSS JOIN moments
    """
    oracles["gwet_ac1"] = """
        WITH rated AS MATERIALIZED (
          SELECT d.doc_id AS item, r.rater AS rater,
            'L' || CAST(CASE
              WHEN (((d.doc_id * 3 + r.rater) % 1000003) * 2654435761)
                   % 1000003 % 4 < 3
              THEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 4
              ELSE (((d.doc_id * 3 + r.rater) % 1000003) * 2654435761)
                   % 1000003 % 4
            END AS VARCHAR) AS label
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 5)) AS rater) r
          WHERE ((((d.doc_id * 7 + r.rater) % 1000003) * 2654435761)
                 % 1000003) % 10 < 6 + (r.rater % 3)
        ),
        cells0 AS (
          SELECT item, label, CAST(COUNT(*) AS BIGINT) AS r_ic
          FROM rated GROUP BY 1, 2
        ),
        cells AS (
          SELECT item, label, r_ic,
            CAST(SUM(r_ic) OVER (PARTITION BY item) AS BIGINT) AS r_i
          FROM cells0
          QUALIFY r_i >= 2
        ),
        per_item AS (
          SELECT item,
            CAST(SUM(r_ic * (r_ic - 1)) * 1000000
              // (MAX(r_i) * (MAX(r_i) - 1)) AS BIGINT) AS pa_item
          FROM cells GROUP BY 1
        ),
        pa AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
            CAST(SUM(pa_item) // COUNT(*) AS BIGINT) AS pa_micro
          FROM per_item
        ),
        pi AS (
          SELECT label,
            CAST(SUM(r_ic * 1000000 // r_i) AS BIGINT) AS pi_num
          FROM cells GROUP BY 1
        ),
        pe AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS q,
            CAST(SUM(CAST(pi_num // n_items AS HUGEINT)
              * (1000000 - pi_num // n_items) // 1000000)
              // NULLIF(COUNT(*) - 1, 0) AS BIGINT) AS pe_micro
          FROM pi CROSS JOIN pa
        )
        SELECT n_items, q, pa_micro, pe_micro,
          CAST((pa_micro - pe_micro) * 1000000
            // NULLIF(1000000 - pe_micro, 0) AS BIGINT) AS ac1_micro
        FROM pa CROSS JOIN pe
    """
    oracles["grubbs_test"] = """
        WITH agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS s,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
              * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS q,
            CAST(MIN(FLOOR(c_acctbal * 100)) AS BIGINT) AS mn,
            CAST(MAX(FLOOR(c_acctbal * 100)) AS BIGINT) AS mx
          FROM customer WHERE c_acctbal IS NOT NULL
        )
        SELECT n,
          CASE WHEN CAST(mx AS HUGEINT) * n - s
            >= s - CAST(mn AS HUGEINT) * n THEN mx ELSE mn END AS outlier_v,
          CAST(FLOOR(
            CAST(GREATEST(CAST(mx AS HUGEINT) * n - s,
                          s - CAST(mn AS HUGEINT) * n) AS DOUBLE)
            / (CAST(n AS DOUBLE)
               * SQRT((CAST(q AS DOUBLE) * n
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (n - 1))))
            * 1000000) AS BIGINT) AS g_micro
        FROM agg
    """
    oracles["bartlett_test"] = """
        WITH per_g AS (
          SELECT c_mktsegment AS g, CAST(COUNT(*) AS BIGINT) AS n_g,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS s_g,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
              * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS q_g
          FROM customer
          WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
          GROUP BY 1 HAVING COUNT(*) >= 2
        ),
        staged AS (
          SELECT n_g,
            CAST(q_g * 1000000 - s_g * s_g * 1000000 // n_g
              AS HUGEINT) AS w_micro,
            CAST(FLOOR(
              (n_g - 1) * LN((CAST(q_g AS DOUBLE) * n_g
                              - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE))
                             / (CAST(n_g AS DOUBLE) * (n_g - 1)))
              * 1000000) AS BIGINT) AS ln_micro,
            CAST(1000000000000 // (n_g - 1) AS BIGINT) AS inv_pico
          FROM per_g
        )
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
          CAST(COUNT(*) AS BIGINT) AS k,
          CAST(FLOOR(
            ((CAST(SUM(n_g) AS DOUBLE) - COUNT(*))
               * LN(CAST(SUM(w_micro) AS DOUBLE)
                    / (1000000.0 * (CAST(SUM(n_g) AS DOUBLE) - COUNT(*))))
             - CAST(SUM(ln_micro) AS DOUBLE) / 1000000.0)
            / (1.0 + (CAST(SUM(inv_pico) AS DOUBLE) / 1e12
                      - 1.0 / (CAST(SUM(n_g) AS DOUBLE) - COUNT(*)))
                     / (3.0 * (COUNT(*) - 1)))
            * 1000000) AS BIGINT) AS bartlett_micro
        FROM staged
    """
    oracles["durbin_watson"] = f"""
        WITH pts AS ({_MONTHLY_PTS}),
        lagged AS (
          SELECT nation, v,
            lag(v) OVER (PARTITION BY nation ORDER BY t) AS p,
            SUM(CAST(v AS HUGEINT)) OVER (PARTITION BY nation) AS s,
            CAST(COUNT(*) OVER (PARTITION BY nation) AS BIGINT) AS n
          FROM pts
        ),
        g AS (
          SELECT nation, CAST(MAX(n) AS BIGINT) AS n,
            SUM(CAST(v - p AS HUGEINT) * (v - p)) AS num,
            SUM((CAST(v AS HUGEINT) * n - s)
              * (CAST(v AS HUGEINT) * n - s)) AS den
          FROM lagged GROUP BY 1
        )
        SELECT nation AS "key", n,
          CAST(num * CAST(n AS HUGEINT) * n * 1000000
            // NULLIF(den, 0) AS BIGINT) AS dw_micro
        FROM g
    """
    oracles["ljung_box"] = f"""
        WITH pts AS ({_MONTHLY_PTS}),
        lagged AS (
          SELECT nation, v, {_acf_lagcols}
          FROM pts WINDOW w AS (PARTITION BY nation ORDER BY t)
        ),
        g AS (
          SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(v AS HUGEINT)) AS s,
            SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS q,
            {_acf_aggs}
          FROM lagged GROUP BY 1
        ),
        stacked AS ({_acf_stack}),
        scored AS (
          SELECT nation, lag, n, m AS n_used,
            CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * p
              - CAST(n AS HUGEINT) * s * (tt + h)
              + CAST(m AS HUGEINT) * s * s AS num,
            CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * q - s * s) AS den
          FROM stacked
        ),
        acf AS (
          SELECT nation, lag, n,
            CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
              * 1000000.0) AS BIGINT) AS acf_micro
          FROM scored WHERE n_used > 0 AND den <> 0
        )
        SELECT nation AS "key", MAX(n) AS n,
          CAST(COUNT(*) AS BIGINT) AS n_lags,
          CAST(SUM(CAST(n AS HUGEINT) * (n + 2) * acf_micro * acf_micro
            // (CAST(n - lag AS HUGEINT) * 1000000)) AS BIGINT) AS q_micro
        FROM acf GROUP BY nation
    """
    oracles["chrf_score"] = r"""
        WITH refs AS MATERIALIZED (
          SELECT doc_id,
            trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
          FROM documents
        ),
        toks AS (
          SELECT doc_id,
            string_split(t, ' ') AS l
          FROM refs
        ),
        hyps AS MATERIALIZED (
          SELECT doc_id,
            trim(regexp_replace(lower(array_to_string(
              list_select(l, list_filter(range(1, len(l) + 1),
                i -> i % 4 != 0)), ' ')), '\s+', ' ', 'g')) AS t
          FROM toks
        ),
        ords AS (SELECT unnest(range(1, 4)) AS n),
        rg AS MATERIALIZED (
          SELECT doc_id, CAST(o.n AS INT) AS n, substr(t, gs.i, o.n) AS g
          FROM refs CROSS JOIN ords o
          CROSS JOIN LATERAL (SELECT unnest(
            range(1, greatest(length(refs.t) - o.n + 1, 0) + 1)) AS i) gs
        ),
        hg AS MATERIALIZED (
          SELECT doc_id, CAST(o.n AS INT) AS n, substr(t, gs.i, o.n) AS g
          FROM hyps CROSS JOIN ords o
          CROSS JOIN LATERAL (SELECT unnest(
            range(1, greatest(length(hyps.t) - o.n + 1, 0) + 1)) AS i) gs
        ),
        rc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
               FROM rg GROUP BY 1, 2, 3),
        hc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
               FROM hg GROUP BY 1, 2, 3),
        clip AS (
          SELECT hc.n, CAST(SUM(LEAST(hc.c, rc.c)) AS BIGINT)
            AS total_clipped
          FROM hc JOIN rc
            ON hc.doc_id = rc.doc_id AND hc.n = rc.n AND hc.g = rc.g
          GROUP BY 1
        ),
        rt AS (SELECT n, CAST(SUM(c) AS BIGINT) AS total_ref
               FROM rc GROUP BY 1),
        ht AS (SELECT n, CAST(SUM(c) AS BIGINT) AS total_hyp
               FROM hc GROUP BY 1)
        SELECT CAST(COALESCE(rt.n, ht.n) AS INT) AS n,
          COALESCE(rt.total_ref, 0) AS total_ref,
          COALESCE(ht.total_hyp, 0) AS total_hyp,
          COALESCE(clip.total_clipped, 0) AS total_clipped,
          COALESCE(CAST(CAST(5 AS HUGEINT)
              * COALESCE(clip.total_clipped, 0) * 1000000
              // NULLIF(4 * COALESCE(rt.total_ref, 0)
                + COALESCE(ht.total_hyp, 0), 0) AS BIGINT), 0)
            AS chrf_micro
        FROM rt FULL OUTER JOIN ht ON rt.n = ht.n
        LEFT JOIN clip ON COALESCE(rt.n, ht.n) = clip.n
    """
    oracles["jarque_bera"] = """
        WITH agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS s1,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
              * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS q2,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
              * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
              * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS q3,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
              * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
              * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
              * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS q4
          FROM customer WHERE c_acctbal IS NOT NULL
        ),
        mom AS (
          SELECT n,
            (CAST(q2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS m2,
            (CAST(q3 AS DOUBLE) / n
             - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(q2 AS DOUBLE) / n)
             + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n)) AS m3,
            (CAST(q4 AS DOUBLE) / n
             - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(q3 AS DOUBLE) / n)
             + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               * (CAST(q2 AS DOUBLE) / n)
             - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS m4
          FROM agg
        )
        SELECT n,
          CAST(FLOOR((m3 / (m2 * SQRT(m2))) * 1000000) AS BIGINT)
            AS skew_micro,
          CAST(FLOOR((m4 / (m2 * m2)) * 1000000) AS BIGINT) AS kurt_micro,
          CAST(FLOOR(n * ((m3 / (m2 * SQRT(m2))) * (m3 / (m2 * SQRT(m2))) / 6
            + ((m4 / (m2 * m2)) - 3) * ((m4 / (m2 * m2)) - 3) / 24)
            * 1000000) AS BIGINT) AS jb_micro
        FROM mom
    """
    oracles["runs_test"] = f"""
        WITH pts AS ({_MONTHLY_PTS}),
        staged AS (
          SELECT nation, t,
            CAST(v AS HUGEINT)
              * CAST(COUNT(*) OVER (PARTITION BY nation) AS HUGEINT)
              - SUM(CAST(v AS HUGEINT)) OVER (PARTITION BY nation) AS d
          FROM pts
        ),
        signed AS (
          SELECT nation,
            CASE WHEN d > 0 THEN 1 ELSE -1 END AS s,
            lag(CASE WHEN d > 0 THEN 1 ELSE -1 END)
              OVER (PARTITION BY nation ORDER BY t) AS p
          FROM staged WHERE d <> 0
        ),
        g AS (
          SELECT nation AS "key",
            CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(1 + SUM(CASE WHEN p IS NOT NULL AND s <> p
              THEN 1 ELSE 0 END) AS BIGINT) AS runs
          FROM signed GROUP BY 1
        )
        SELECT "key", n1, n2, runs,
          CASE WHEN n1 * n2 = 0 OR n1 + n2 < 2 THEN NULL ELSE
          CAST(FLOOR(
            (CAST(runs AS DOUBLE)
             - (2.0 * CAST(n1 AS DOUBLE) * n2 / (n1 + n2) + 1))
            / SQRT(2.0 * CAST(n1 AS DOUBLE) * n2
                   * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)
                   / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                      * (n1 + n2 - 1)))
            * 1000000) AS BIGINT) END AS z_micro
        FROM g
    """
    oracles["page_trend_test"] = """
        WITH cells AS (
          SELECT CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1
              AS BIGINT) AS blk,
            CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS trt,
            CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS val
          FROM orders GROUP BY 1, 2
        ),
        ktot AS (SELECT CAST(COUNT(DISTINCT trt) AS BIGINT) AS k
                 FROM cells),
        complete AS (
          SELECT cells.*, ktot.k,
            COUNT(*) OVER (PARTITION BY blk) AS bk
          FROM cells CROSS JOIN ktot
          QUALIFY bk = k
        ),
        ranked AS (
          SELECT trt, k,
            CAST(2 * (RANK() OVER (PARTITION BY blk ORDER BY val) - 1)
              + COUNT(*) OVER (PARTITION BY blk, val)
              + 1 AS BIGINT) AS r2
          FROM complete
        ),
        agg AS (
          SELECT CAST(MAX(k) AS BIGINT) AS k,
            CAST(COUNT(*) // MAX(k) AS BIGINT) AS b,
            CAST(SUM(trt * r2) AS BIGINT) AS l2
          FROM ranked
        )
        SELECT b, k, l2,
          CASE WHEN k < 2 OR b < 1 THEN NULL ELSE
          CAST(FLOOR(
            (CAST(l2 AS DOUBLE)
             - CAST(b AS DOUBLE) * k * (k + 1) * (k + 1) / 2)
            / SQRT(CAST(b AS DOUBLE) * k * k * (k + 1) * (k + 1)
                   * (k - 1) / 36)
            * 1000000) AS BIGINT) END AS z_micro
        FROM agg
    """
    oracles["dp_exponential_quantile"] = """
        WITH vc AS (
          SELECT CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1
        ),
        cum AS (
          SELECT v,
            CAST(SUM(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
            CAST(SUM(c) OVER () AS BIGINT) AS n
          FROM vc
        ),
        tgt AS (
          SELECT *, GREATEST(CAST(n AS HUGEINT) * 500000 // 1000000, 1) AS r
          FROM cum
        ),
        scored AS (
          SELECT *,
            -CAST(2.0 AS DOUBLE) * ABS(cum - r) / 2.0
              - LN(-LN(((CAST(('0x' || substr(md5(
                  CAST(v AS VARCHAR) || ':' || '11'), 1, 15)) AS BIGINT)
                  % 1999999) + 1) / 2000000.0)) AS score
          FROM tgt
        )
        SELECT MAX(n) AS n,
          CAST(500000 AS BIGINT) AS q_micro,
          CAST(2000000 AS BIGINT) AS epsilon_micro,
          (SELECT v FROM scored ORDER BY score DESC, v DESC LIMIT 1)
            AS released_v,
          MIN(CASE WHEN cum >= r THEN v END) AS true_v
        FROM scored
    """
    oracles["brunner_munzel"] = """
        WITH sub AS (
          SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS g,
            CAST(FLOOR(value * 100) AS BIGINT) AS v
          FROM events WHERE event_type IN ('click', 'error')
        ),
        gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n_gv
               FROM sub GROUP BY 1, 2),
        tv AS (SELECT v, CAST(SUM(n_gv) AS BIGINT) AS t FROM gv GROUP BY 1),
        pooled AS (
          SELECT v,
            CAST(2 * COALESCE(SUM(t) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + t + 1 AS BIGINT) AS r2p
          FROM tv
        ),
        cells AS (
          SELECT gv.g, gv.v, gv.n_gv,
            CAST(2 * COALESCE(SUM(n_gv) OVER (PARTITION BY g ORDER BY gv.v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + n_gv + 1 AS BIGINT) AS r2w,
            pooled.r2p
          FROM gv JOIN pooled ON gv.v = pooled.v
        ),
        per_g AS (
          SELECT g, CAST(SUM(n_gv) AS BIGINT) AS n_g,
            CAST(SUM(n_gv * r2p) AS BIGINT) AS r2_g
          FROM cells GROUP BY 1
        ),
        staged AS (
          SELECT cells.g, MAX(n_g) AS n_g, MAX(r2_g) AS r2_g,
            SUM(CAST(n_gv AS HUGEINT)
              * (CAST(n_g AS HUGEINT) * (r2p - r2w)
                 - (CAST(r2_g AS HUGEINT) - CAST(n_g AS HUGEINT) * (n_g + 1)))
              * (CAST(n_g AS HUGEINT) * (r2p - r2w)
                 - (CAST(r2_g AS HUGEINT) - CAST(n_g AS HUGEINT) * (n_g + 1))))
              AS dev2
          FROM cells JOIN per_g ON cells.g = per_g.g
          GROUP BY cells.g
        ),
        wide AS (
          SELECT
            MAX(CASE WHEN g = 'a' THEN n_g END) AS a_n,
            MAX(CASE WHEN g = 'a' THEN r2_g END) AS a_r2,
            MAX(CASE WHEN g = 'a' THEN dev2 END) AS a_dev2,
            MAX(CASE WHEN g = 'b' THEN n_g END) AS b_n,
            MAX(CASE WHEN g = 'b' THEN r2_g END) AS b_r2,
            MAX(CASE WHEN g = 'b' THEN dev2 END) AS b_dev2
          FROM staged
        )
        SELECT a_n AS n_a, b_n AS n_b,
          CAST((CAST(b_r2 AS HUGEINT) - CAST(b_n AS HUGEINT) * (b_n + 1))
            * 1000000 // (2 * CAST(b_n AS HUGEINT) * a_n) AS BIGINT)
            AS p_hat_micro,
          CASE WHEN a_dev2 + b_dev2 = 0 THEN NULL ELSE
          CAST(FLOOR(
            CAST(a_n AS DOUBLE) * b_n
            * (CAST(b_r2 AS DOUBLE) / (2.0 * b_n)
               - CAST(a_r2 AS DOUBLE) / (2.0 * a_n))
            / ((CAST(a_n AS DOUBLE) + b_n)
               * SQRT((CAST(a_dev2 AS DOUBLE) / (4.0 * a_n * (a_n - 1)))
                      + (CAST(b_dev2 AS DOUBLE) / (4.0 * b_n * (b_n - 1)))))
            * 1000000) AS BIGINT) END AS w_micro,
          CASE WHEN a_dev2 + b_dev2 = 0 THEN NULL ELSE
          CAST(FLOOR(
            ((CAST(a_dev2 AS DOUBLE) / (4.0 * a_n * (a_n - 1)))
             + (CAST(b_dev2 AS DOUBLE) / (4.0 * b_n * (b_n - 1))))
            * ((CAST(a_dev2 AS DOUBLE) / (4.0 * a_n * (a_n - 1)))
               + (CAST(b_dev2 AS DOUBLE) / (4.0 * b_n * (b_n - 1))))
            / ((CAST(a_dev2 AS DOUBLE) / (4.0 * a_n * (a_n - 1)))
                 * (CAST(a_dev2 AS DOUBLE) / (4.0 * a_n * (a_n - 1)))
                 / (a_n - 1)
               + (CAST(b_dev2 AS DOUBLE) / (4.0 * b_n * (b_n - 1)))
                 * (CAST(b_dev2 AS DOUBLE) / (4.0 * b_n * (b_n - 1)))
                 / (b_n - 1))
            * 1000000) AS BIGINT) END AS df_micro
        FROM wide
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.stats import (
        _lngamma_sql as _lg,
    )

    def _lnb(x: str, y: str) -> str:
        return f"({_lg(x)} + {_lg(y)} - {_lg(f'({x}) + ({y})')})"

    _bayes_term = (
        f"({_lnb('aa + i', 'ba + bb')} - LN(CAST(bb + i AS DOUBLE))"
        f" - {_lnb('1 + i', 'bb')} - {_lnb('aa', 'ba')})"
    )
    oracles["bayes_ab_prob"] = f"""
        WITH arms AS (
          SELECT
            CAST(SUM(CASE WHEN arm = 0 AND ok THEN 1 ELSE 0 END) AS BIGINT)
              AS succ_a,
            CAST(SUM(CASE WHEN arm = 0 AND NOT ok THEN 1 ELSE 0 END)
              AS BIGINT) AS fail_a,
            CAST(SUM(CASE WHEN arm = 1 AND ok THEN 1 ELSE 0 END) AS BIGINT)
              AS succ_b,
            CAST(SUM(CASE WHEN arm = 1 AND NOT ok THEN 1 ELSE 0 END)
              AS BIGINT) AS fail_b
          FROM (
            SELECT ((user_id % 1000003) * 2654435761) % 1000003 % 2 AS arm,
              event_type = 'purchase' AS ok
            FROM events
          )
        ),
        params AS (
          SELECT *, succ_a + 1 AS aa, fail_a + 1 AS ba,
            succ_b + 1 AS ab, fail_b + 1 AS bb
          FROM arms
        ),
        terms AS (
          SELECT params.*,
            CAST(FLOOR(EXP({_bayes_term}) * 1000000000000) AS BIGINT) AS t
          FROM params CROSS JOIN (SELECT range AS i FROM range(0, 1048576))
          WHERE i < ab
        )
        SELECT MAX(succ_a) AS succ_a, MAX(fail_a) AS fail_a,
          MAX(succ_b) AS succ_b, MAX(fail_b) AS fail_b,
          CASE WHEN MAX(ab) > 1048576 THEN NULL
            ELSE CAST(SUM(t) // 1000000 AS BIGINT) END AS p_b_micro
        FROM terms
    """

    def _lnc(n: str, k: str) -> str:
        return (
            f"({_lg(f'({n}) + 1')} - {_lg(f'({k}) + 1')}"
            f" - {_lg(f'({n}) - ({k}) + 1')})"
        )

    _f_lnp = f"({_lnc('r1', 'k')} + {_lnc('r2', 'c1 - k')} - {_lnc('nn', 'c1')})"
    _f_lnp_obs = (
        f"({_lnc('r1', 'n11')} + {_lnc('r2', 'c1 - n11')} - {_lnc('nn', 'c1')})"
    )
    oracles["fisher_exact"] = f"""
        WITH cells AS (
          SELECT
            CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
            CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
              AS n10,
            CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
              AS n01,
            CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
              AS n00
          FROM (
            SELECT o_orderstatus = 'F' AS a,
              substr(o_orderpriority, 1, 1) = '1' AS b
            FROM orders
          )
        ),
        m AS (
          SELECT *, n11 + n10 AS r1, n01 + n00 AS r2,
            n11 + n01 AS c1, n11 + n10 + n01 + n00 AS nn
          FROM cells
        ),
        terms AS (
          SELECT m.*, range + GREATEST(0, c1 - r2) AS k
          FROM m CROSS JOIN range(0, 1048576)
          WHERE range + GREATEST(0, c1 - r2) <= LEAST(r1, c1)
        ),
        scored AS (
          SELECT *,
            CASE WHEN EXP({_f_lnp}) <= EXP({_f_lnp_obs}) * (1.0 + 1e-7)
              THEN CAST(FLOOR(EXP({_f_lnp}) * 1000000000000) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS t
          FROM terms
        )
        SELECT MAX(n11) AS n11, MAX(n10) AS n10,
          MAX(n01) AS n01, MAX(n00) AS n00,
          CAST(CAST(MAX(n11) AS HUGEINT) * MAX(n00) * 1000000
            // NULLIF(CAST(MAX(n10) AS HUGEINT) * MAX(n01), 0) AS BIGINT)
            AS odds_ratio_micro,
          CASE WHEN MAX(LEAST(r1, c1)) - MAX(GREATEST(0, c1 - r2))
              + 1 > 1048576 THEN NULL
            ELSE CAST(LEAST(SUM(t) // 1000000, 1000000) AS BIGINT) END
            AS p_two_micro
        FROM scored
    """
    oracles["capture_recapture"] = """
        WITH flags AS (
          SELECT
            (((doc_id % 1000003) * 2654435761) % 1000003) % 10 < 3 AS s1,
            ((((doc_id * 13 + 7) % 1000003) * 2654435761) % 1000003) % 10 < 3
              AS s2
          FROM documents
        ),
        agg AS (
          SELECT CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT) AS m
          FROM flags
        )
        SELECT n1, n2, m,
          CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * 1000000
            // (m + 1) - 1000000 AS BIGINT) AS n_hat_micro,
          CAST(FLOOR(1.959964 * SQRT(
            CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m) * (n2 - m)
            / (CAST(m + 1 AS DOUBLE) * (m + 1) * (m + 2)))
            * 1000000) AS BIGINT) AS half_ci_micro
        FROM agg
    """
    from hdinsight_pyspark_cntk_integration_spark.functions.layout import (
        hilbert_key2_sql,
    )

    oracles["hilbert_key"] = hilbert_key2_sql(
        "l_partkey % 65536",
        "l_suppkey % 65536",
        ["l_orderkey", "l_linenumber"],
        "lineitem",
    )
    _w_sp2 = "(CAST(ssw AS DOUBLE) / (1000000.0 * (n - k)))"
    _w_s2g = (
        "((CAST(q_g AS DOUBLE) * n_g"
        " - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE))"
        " / (CAST(n_g AS DOUBLE) * (n_g - 1)))"
    )
    _w_xw = "(CAST(wx_tot AS DOUBLE) / w_tot)"
    oracles["welch_anova"] = f"""
        WITH per_g AS (
          SELECT c_mktsegment AS g, CAST(COUNT(*) AS BIGINT) AS n_g,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS s_g,
            SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
              * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) AS q_g
          FROM customer
          WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
          GROUP BY 1
          HAVING COUNT(*) >= 2
            AND SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT)
                * CAST(FLOOR(c_acctbal * 100) AS HUGEINT)) * COUNT(*)
              > SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT))
                * SUM(CAST(FLOOR(c_acctbal * 100) AS HUGEINT))
        ),
        pg AS (
          SELECT *,
            CAST(q_g * 1000000 - s_g * s_g * 1000000 // n_g
              AS HUGEINT) AS w_ssw
          FROM per_g
        ),
        tot0 AS (
          SELECT CAST(SUM(n_g) AS BIGINT) AS n,
            CAST(COUNT(*) AS BIGINT) AS k, SUM(w_ssw) AS ssw
          FROM pg
        ),
        staged AS (
          SELECT n_g, n, k, ssw,
            CAST(FLOOR({_w_sp2} * n_g / {_w_s2g} * 1000000) AS BIGINT)
              AS w_micro,
            CAST(FLOOR({_w_sp2} * n_g / {_w_s2g}
              * (CAST(s_g AS DOUBLE) / n_g) * 1000000) AS BIGINT)
              AS wx_micro
          FROM pg CROSS JOIN tot0
        ),
        tot1 AS (
          SELECT CAST(SUM(w_micro) AS BIGINT) AS w_tot,
            CAST(SUM(wx_micro) AS BIGINT) AS wx_tot
          FROM staged
        ),
        final AS (
          SELECT n, k, ssw,
            CAST(FLOOR(
              CAST(w_micro AS DOUBLE) / 1000000.0
              * (CAST(wx_micro AS DOUBLE) / w_micro - {_w_xw})
              * (CAST(wx_micro AS DOUBLE) / w_micro - {_w_xw})
              * 1000000) AS BIGINT) AS num_micro,
            CAST(FLOOR(
              (1.0 - CAST(w_micro AS DOUBLE) / w_tot)
              * (1.0 - CAST(w_micro AS DOUBLE) / w_tot)
              / (n_g - 1) * 1000000000000) AS BIGINT) AS lam_pico
          FROM staged CROSS JOIN tot1
        )
        SELECT MAX(n) AS n, MAX(k) AS k,
          CAST(FLOOR(
            (CAST(SUM(num_micro) AS DOUBLE) / 1000000.0 / (MAX(k) - 1))
            / (CAST(MAX(ssw) AS DOUBLE) / (1000000.0 * (MAX(n) - MAX(k))))
            / (1.0 + (2.0 * (MAX(k) - 2)
                      / (CAST(MAX(k) AS DOUBLE) * MAX(k) - 1))
                     * (CAST(SUM(lam_pico) AS DOUBLE) / 1e12))
            * 1000000) AS BIGINT) AS f_micro,
          CAST(FLOOR(
            (CAST(MAX(k) AS DOUBLE) * MAX(k) - 1)
            / (3.0 * (CAST(SUM(lam_pico) AS DOUBLE) / 1e12))
            * 1000000) AS BIGINT) AS df2_micro
        FROM final
    """
    _p_lnp = (
        f"({_lnc('nn', 'k')} + k * lnp0 + (nn - k) * lnq0)"
    )
    _p_lnp_obs = (
        f"({_lnc('nn', 'x_a')} + x_a * lnp0 + (nn - x_a) * lnq0)"
    )
    oracles["poisson_two_rate"] = f"""
        WITH cells AS (
          SELECT
            CAST(SUM(CASE WHEN slc = 0 AND is_err THEN 1 ELSE 0 END)
              AS BIGINT) AS x_a,
            CAST(SUM(CASE WHEN slc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
            CAST(SUM(CASE WHEN slc = 1 AND is_err THEN 1 ELSE 0 END)
              AS BIGINT) AS x_b,
            CAST(SUM(CASE WHEN slc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t_b
          FROM (
            SELECT ((user_id % 1000003) * 2654435761) % 1000003 % 2 AS slc,
              event_type = 'error' AS is_err
            FROM events
          )
        ),
        params AS (
          SELECT *, x_a + x_b AS nn,
            LN(CAST(t_a AS DOUBLE) / (CAST(t_a AS DOUBLE) + t_b)) AS lnp0,
            LN(CAST(t_b AS DOUBLE) / (CAST(t_a AS DOUBLE) + t_b)) AS lnq0
          FROM cells
        ),
        obs AS (SELECT *, {_p_lnp_obs} AS lnp_obs FROM params),
        terms AS (
          SELECT obs.*, range AS k
          FROM obs CROSS JOIN range(0, 1048576)
          WHERE range <= nn
        ),
        scored AS (
          SELECT *,
            CASE WHEN EXP({_p_lnp}) <= EXP(lnp_obs) * (1.0 + 1e-7)
              THEN CAST(FLOOR(EXP({_p_lnp}) * 1000000000000) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS t
          FROM terms
        )
        SELECT MAX(x_a) AS x_a, MAX(t_a) AS t_a,
          MAX(x_b) AS x_b, MAX(t_b) AS t_b,
          CAST(CAST(MAX(x_a) AS HUGEINT) * MAX(t_b) * 1000000
            // NULLIF(CAST(MAX(x_b) AS HUGEINT) * MAX(t_a), 0) AS BIGINT)
            AS rate_ratio_micro,
          CASE WHEN MAX(nn) + 1 > 1048576 THEN NULL
            ELSE CAST(LEAST(SUM(t) // 1000000, 1000000) AS BIGINT) END
            AS p_two_micro
        FROM scored
    """
    oracles["pot_tail"] = """
        WITH agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN v > 45000000 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_exceed,
            SUM(CASE WHEN v > 45000000
              THEN CAST(v - 45000000 AS HUGEINT) END) AS s,
            SUM(CASE WHEN v > 45000000
              THEN CAST(v - 45000000 AS HUGEINT) * (v - 45000000) END) AS q
          FROM (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
            FROM orders WHERE o_totalprice IS NOT NULL
          )
        )
        SELECT n, n_exceed,
          CAST(CAST(n_exceed AS HUGEINT) * 1000000 // NULLIF(n, 0)
            AS BIGINT) AS exceed_share_micro,
          CASE WHEN n_exceed < 2 OR CAST(q AS DOUBLE) * n_exceed
              <= CAST(s AS DOUBLE) * CAST(s AS DOUBLE) THEN NULL ELSE
          CAST(FLOOR((1.0 - (CAST(s AS DOUBLE) / n_exceed)
              * (CAST(s AS DOUBLE) / n_exceed)
              / ((CAST(q AS DOUBLE) * n_exceed
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n_exceed AS DOUBLE) * (n_exceed - 1))))
            / 2.0 * 1000000) AS BIGINT) END AS xi_micro,
          CASE WHEN n_exceed < 2 OR CAST(q AS DOUBLE) * n_exceed
              <= CAST(s AS DOUBLE) * CAST(s AS DOUBLE) THEN NULL ELSE
          CAST(FLOOR((CAST(s AS DOUBLE) / n_exceed)
            * ((CAST(s AS DOUBLE) / n_exceed)
               * (CAST(s AS DOUBLE) / n_exceed)
               / ((CAST(q AS DOUBLE) * n_exceed
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n_exceed AS DOUBLE) * (n_exceed - 1)))
               + 1.0) / 2.0 * 1000000) AS BIGINT) END AS beta_micro
        FROM agg
    """
    oracles["benjamini_yekutieli"] = """
        WITH hyp AS (
          SELECT t.id AS hyp_id,
            CAST(CASE WHEN t.id % 5 = 0
              THEN (((t.id % 1000003) * 2654435761) % 1000003) % 20000 + 1
              ELSE (((t.id % 1000003) * 2654435761) % 1000003) % 1000000 + 1
            END AS BIGINT) AS p_micro
          FROM (SELECT unnest(range(0, 200)) AS id) t
        ),
        ranked AS (
          SELECT hyp_id, p_micro,
            CAST(ROW_NUMBER() OVER (ORDER BY p_micro, hyp_id) AS BIGINT)
              AS rank,
            CAST(COUNT(*) OVER () AS BIGINT) AS m
          FROM hyp
        ),
        harm AS (
          SELECT CAST(SUM(1000000000000 // rank) AS BIGINT) AS c_pico
          FROM ranked
        ),
        cut AS (
          SELECT MAX(rank) AS c FROM ranked CROSS JOIN harm
          WHERE CAST(p_micro AS HUGEINT) * m * c_pico
            <= CAST(rank AS HUGEINT) * 50000 * 1000000000000
        )
        SELECT hyp_id, p_micro, rank, m,
          rank <= COALESCE((SELECT c FROM cut), 0) AS reject
        FROM ranked
    """
    oracles["seasonal_mann_kendall"] = """
        WITH ser AS MATERIALIZED (
          SELECT o_orderpriority AS priority,
            CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                 AS BIGINT) AS m,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS rev
          FROM orders GROUP BY 1, 2
        ),
        pts AS (SELECT priority, m, m % 12 AS season, rev FROM ser),
        s AS (
          SELECT a.priority,
            CAST(SUM(sign(b.rev - a.rev)) AS BIGINT) AS s_stat
          FROM pts a JOIN pts b
            ON b.priority = a.priority AND b.season = a.season
              AND a.m < b.m
          GROUP BY 1
        ),
        sn AS (SELECT priority, season, CAST(COUNT(*) AS BIGINT) AS ns
               FROM pts GROUP BY 1, 2),
        sties AS (
          SELECT priority, season,
            CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
          FROM (SELECT priority, season, rev,
                CAST(COUNT(*) AS BIGINT) AS t
                FROM pts GROUP BY 1, 2, 3)
          GROUP BY 1, 2
        ),
        vps AS (
          SELECT sn.priority, sn.ns,
            CAST(sn.ns * (sn.ns - 1) * (2 * sn.ns + 5) - sties.tt
              AS BIGINT) AS v18
          FROM sn JOIN sties
            ON sn.priority = sties.priority AND sn.season = sties.season
        ),
        tot AS (
          SELECT priority, CAST(SUM(ns) AS BIGINT) AS n,
            CAST(SUM(v18) AS BIGINT) AS var18
          FROM vps GROUP BY 1
        )
        SELECT s.priority, tot.n, s.s_stat, tot.var18,
          CAST(floor(CASE
            WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            ELSE 0.0 END * 1000000.0) AS BIGINT) AS z_micro
        FROM s JOIN tot USING (priority) WHERE tot.var18 > 0
    """
    oracles["dunn_test"] = """
        WITH sub AS (
          SELECT c_mktsegment AS g,
            CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
          FROM customer
          WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
        ),
        gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n_gv
               FROM sub GROUP BY 1, 2),
        tv AS (SELECT v, CAST(SUM(n_gv) AS BIGINT) AS t FROM gv GROUP BY 1),
        ranks AS (
          SELECT v,
            CAST(2 * COALESCE(SUM(t) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + t + 1 AS BIGINT) AS r2
          FROM tv
        ),
        per_g AS (
          SELECT gv.g, CAST(SUM(n_gv) AS BIGINT) AS n_g,
            CAST(SUM(n_gv * r2) AS BIGINT) AS r2_g
          FROM gv JOIN ranks USING (v) GROUP BY 1
        ),
        ties AS (
          SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_num,
            CAST(SUM(t) AS BIGINT) AS n
          FROM tv
        )
        SELECT lo.g AS g_i, hi.g AS g_j,
          CASE WHEN tie_num >= CAST(n AS HUGEINT) * n * n - n
          THEN NULL ELSE
          CAST(FLOOR(
            (CAST(lo.r2_g AS DOUBLE) / (2.0 * lo.n_g)
             - CAST(hi.r2_g AS DOUBLE) / (2.0 * hi.n_g))
            / SQRT((CAST(n AS DOUBLE) * (n + 1) / 12.0
                    - CAST(tie_num AS DOUBLE) / (12.0 * (n - 1)))
                   * (1.0 / lo.n_g + 1.0 / hi.n_g))
            * 1000000) AS BIGINT) END AS z_micro
        FROM per_g lo JOIN per_g hi ON lo.g < hi.g CROSS JOIN ties
    """
    oracles["holm_bonferroni"] = """
        WITH hyp AS (
          SELECT t.id AS hyp_id,
            CAST(CASE WHEN t.id % 5 = 0
              THEN (((t.id % 1000003) * 2654435761) % 1000003) % 20000 + 1
              ELSE (((t.id % 1000003) * 2654435761) % 1000003) % 1000000 + 1
            END AS BIGINT) AS p_micro
          FROM (SELECT unnest(range(0, 200)) AS id) t
        ),
        ranked AS (
          SELECT hyp_id, p_micro,
            CAST(ROW_NUMBER() OVER (ORDER BY p_micro, hyp_id) AS BIGINT)
              AS rank,
            CAST(COUNT(*) OVER () AS BIGINT) AS m
          FROM hyp
        ),
        stop AS (
          SELECT MIN(rank) AS s FROM ranked
          WHERE p_micro * (m - rank + 1) > 50000
        )
        SELECT hyp_id, p_micro, rank, m,
          rank < COALESCE((SELECT s FROM stop),
                          (SELECT MAX(m) + 1 FROM ranked)) AS reject
        FROM ranked
    """
    oracles["icc_twoway"] = """
        WITH rated AS MATERIALIZED (
          SELECT d.doc_id AS i, r.rater AS r,
            1 + CASE WHEN (((d.doc_id * 5 + r.rater) % 1000003)
                     * 2654435761) % 1000003 % 4 < 3
              THEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 5
              ELSE ((((d.doc_id * 5 + r.rater + 101) % 1000003)
                   * 2654435761) % 1000003) % 5
            END AS x
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 5)) AS rater) r
        ),
        rows_ AS (SELECT i, SUM(CAST(x AS HUGEINT)) AS ri
                  FROM rated GROUP BY 1),
        cols_ AS (SELECT r, SUM(CAST(x AS HUGEINT)) AS cj
                  FROM rated GROUP BY 1),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS nk,
            SUM(CAST(x AS HUGEINT)) AS g,
            SUM(CAST(x AS HUGEINT) * x) AS q
          FROM rated
        ),
        rs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(ri * ri) AS sr2 FROM rows_),
        cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(cj * cj) AS sc2 FROM cols_)
        SELECT n AS n_items, k,
          CAST(
            (CAST(n AS HUGEINT) * (k - 1)
               * (CAST(n AS HUGEINT) * sr2 - g * g)
             - CAST(n AS HUGEINT)
               * (CAST(nk AS HUGEINT) * q - g * g
                  - (CAST(n AS HUGEINT) * sr2 - g * g)
                  - (CAST(k AS HUGEINT) * sc2 - g * g)))
            * 1000000
            // NULLIF(
            CAST(n AS HUGEINT) * (k - 1)
              * (CAST(n AS HUGEINT) * sr2 - g * g)
            + (CAST(k AS HUGEINT) - 1) * n
              * (CAST(nk AS HUGEINT) * q - g * g
                 - (CAST(n AS HUGEINT) * sr2 - g * g)
                 - (CAST(k AS HUGEINT) * sc2 - g * g))
            + CAST(k AS HUGEINT)
              * ((CAST(n AS HUGEINT) - 1)
                  * (CAST(k AS HUGEINT) * sc2 - g * g)
                 - (CAST(nk AS HUGEINT) * q - g * g
                    - (CAST(n AS HUGEINT) * sr2 - g * g)
                    - (CAST(k AS HUGEINT) * sc2 - g * g))), 0)
            AS BIGINT) AS icc21_micro
        FROM tot CROSS JOIN rs CROSS JOIN cs
    """
    _svt_b_thr = 2.0 * 1_000_000.0 / 2_197_224.0
    _svt_b_cnt = 4.0 * 3 * 1_000_000.0 / 2_197_224.0
    oracles["dp_above_threshold"] = f"""
        WITH per AS (
          SELECT c_nationkey AS grp, CAST(COUNT(*) AS BIGINT) AS n
          FROM customer GROUP BY 1
        ),
        noisy AS (
          SELECT grp, n,
            60 * 1000000 + CAST(FLOOR(-CAST({_svt_b_thr!r} AS DOUBLE)
              * SIGN((CAST(('0x' || substr(md5('T' || ':' || '5'), 1, 15))
                  AS BIGINT) % 1999999 + 1 - 1000000) / 1000000.0)
              * LN(1.0 - ABS((CAST(('0x' || substr(md5('T' || ':' || '5'),
                  1, 15)) AS BIGINT) % 1999999 + 1 - 1000000) / 1000000.0))
              * 1000000) AS BIGINT) AS thr_micro,
            n * 1000000 + CAST(FLOOR(-CAST({_svt_b_cnt!r} AS DOUBLE)
              * SIGN((CAST(('0x' || substr(md5(CAST(grp AS VARCHAR) || ':'
                  || '5'), 1, 15)) AS BIGINT) % 1999999 + 1 - 1000000)
                  / 1000000.0)
              * LN(1.0 - ABS((CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)
                  || ':' || '5'), 1, 15)) AS BIGINT) % 1999999 + 1
                  - 1000000) / 1000000.0))
              * 1000000) AS BIGINT) AS cnt_micro
          FROM per
        ),
        scanned AS (
          SELECT grp, n,
            CASE WHEN cnt_micro >= thr_micro THEN 1 ELSE 0 END AS pos,
            CAST(SUM(CASE WHEN cnt_micro >= thr_micro THEN 1 ELSE 0 END)
              OVER (ORDER BY grp
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_pos
          FROM noisy
        )
        SELECT grp AS "group", n, pos = 1 AS released
        FROM scanned WHERE cum_pos - pos < 3
    """
    return oracles
