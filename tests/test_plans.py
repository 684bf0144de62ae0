"""Physical-plan assertions: the scale properties SURVEY.md §4 promises
must actually appear in the executed plans — filters pushed to the scan,
columns pruned, dims broadcast, shuffles bounded, codegen on the hot
relational path."""

from __future__ import annotations

import __spark_entry__ as e
import plan_checks as P
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    df = e.q_pricing_summary(spark, sf_dir)
    pushed = P.pushed_filters(df)
    assert "l_shipdate" in pushed, pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = e.q_distinct_labels(spark, sf_dir)
    schema = P.scan_read_schema(df)
    assert "l_returnflag" in schema
    # a pruned scan must not read the wide money columns
    assert "l_extendedprice" not in schema, schema


def test_pipeline_queries_prune_columns(spark, sf_dir):
    """The pipeline ops are pure projections/filters — their scans must
    read only the referenced columns (never `text` for id-only splits)."""
    schema = P.scan_read_schema(e.q_hash_split(spark, sf_dir))
    assert "doc_id" in schema and "text" not in schema, schema
    schema = P.scan_read_schema(e.q_mixture_sample(spark, sf_dir))
    assert "source" in schema and "text" not in schema, schema
    schema = P.scan_read_schema(e.q_bpe_token_count(spark, sf_dir))
    assert "lang" not in schema and "source" not in schema, schema


def test_dim_joins_broadcast(spark, sf_dir):
    assert P.has_broadcast_join(e.q_dim_join(spark, sf_dir))
    assert P.has_broadcast_join(e.q_region_revenue(spark, sf_dir))
    assert P.has_broadcast_join(e.q_range_join(spark, sf_dir))


def test_merge_join_hint_respected(spark, sf_dir):
    plan = P.formatted_plan(e.q_merge_join(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan[:2000]


def test_scoring_pipeline_shuffle_free_before_agg(spark, sf_dir):
    """scan → mapInArrow is one stage; only the confusion groupBy (and
    the deliberate small-source repartition) may exchange."""
    from hdinsight_pyspark_cntk_integration_spark.operators import scoring as sc

    emb = load_table(spark, sf_dir, "embeddings")
    scored = sc.score(
        emb,
        sc.make_linear_stub_loader(64, 10),
        input_col="embedding",
        pass_through=["label"],
    )
    assert P.count_shuffles(scored) == 0
    plan = P.formatted_plan(scored)
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or "MapInArrow" in plan


def test_accuracy_is_partial_aggregate(spark, sf_dir):
    """Global agg: partial (map-side) + final — the shuffle moves one row
    per partition, never the raw rows."""
    df = e.q_accuracy(spark, sf_dir)
    plan = P.formatted_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert P.count_shuffles(df) == 1


def test_relational_path_vectorized_and_partial(spark, sf_dir):
    """Scan is columnar (Batched: true) and aggregation combines map-side
    (partial_sum) before the single exchange — the 100 TB-shaped plan.
    (Codegen stage markers aren't visible pre-execution under AQE, so the
    vectorized+partial properties stand in for them.)"""
    plan = P.formatted_plan(e.q_pricing_summary(spark, sf_dir))
    assert "Batched: true" in plan
    assert "partial_sum" in plan
    assert P.count_shuffles(e.q_pricing_summary(spark, sf_dir)) == 1


def test_asof_join_no_cartesian(spark, sf_dir):
    plan = P.formatted_plan(e.q_asof_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_agg_not_global_sort(spark, sf_dir):
    """similarity top-k must be a bounded aggregation, not a full sort of
    the scored corpus."""
    df = e.q_similarity_topk(spark, sf_dir)
    plan = P.formatted_plan(df)
    # the only Sort allowed is inside the per-group slice, not a global Exchange rangepartitioning
    assert "rangepartitioning" not in plan.lower(), plan[:3000]


def test_tokenize_ids_gate_is_shuffle_free(spark, sf_dir):
    """The gate query uses the broadcast-dict Arrow tokenizer: one
    ArrowEvalPython projection over the scan, zero joins, zero shuffles —
    the corpus never moves for the vocab lookup."""
    df = e.q_tokenize_ids(spark, sf_dir)
    plan = P.formatted_plan(df)
    assert "ArrowEvalPython" in plan
    assert "Join" not in plan, plan
    assert P.count_shuffles(df) == 0


def test_zorder_layout_is_range_partitioned(spark, sf_dir):
    """A Z-order layout's exchange must be a range partitioning on the
    Morton key (sampled bounds -> balanced files), not hash/round-robin."""
    from pyspark.sql import functions as F

    from hdinsight_pyspark_cntk_integration_spark.functions.layout import zorder_key2

    li = load_table(spark, sf_dir, "lineitem")
    key = zorder_key2(
        F.pmod(F.col("l_partkey"), F.lit(65536)),
        F.pmod(F.col("l_suppkey"), F.lit(65536)),
    )
    staged = (
        li.withColumn("__zkey", key)
        .repartitionByRange(8, "__zkey")
        .sortWithinPartitions("__zkey")
    )
    plan = P.formatted_plan(staged)
    assert "rangepartitioning" in plan.lower(), plan


def test_round3_projection_ops_are_shuffle_free(spark, sf_dir):
    """pii_redact, chunk_overlap, and quantize_embeddings are pure
    per-row projections — any Exchange in their plans is a regression."""
    assert P.count_shuffles(e.q_pii_redact(spark, sf_dir)) == 0
    assert P.count_shuffles(e.q_chunk_overlap(spark, sf_dir)) == 0
    assert P.count_shuffles(e.q_quantize_embeddings(spark, sf_dir)) == 0


def test_stratified_split_single_shuffle(spark, sf_dir):
    """One exchange on the stratum key feeds both window functions."""
    assert P.count_shuffles(e.q_stratified_split(spark, sf_dir)) == 1


def test_tfidf_single_explode_bounded_shuffles(spark, sf_dir):
    """tf and document frequency must share ONE token-partitioned
    exchange. Since r15 the df side is an aggregate + shuffle-hash
    join instead of a window (the full-stream sort is gone), so the
    STATIC plan shows two Generate branches over byte-identical
    exchanges — the contract is now runtime: AQE must collapse them
    (ReusedExchange in the executed plan; verified via REST metrics:
    the token exchange is written once, read twice), the stream-sorting
    token Window must stay gone, and no cartesian anywhere. Both
    Generate branches come from the one ``token_table`` call, which is
    what makes them byte-identical. AQE is switched on for the test's
    duration, so it checks the same thing in every session."""
    import re

    key = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = e.q_tfidf_top_terms(spark, sf_dir)
        plan = P.formatted_plan(df)
        assert P.has_broadcast_join(df)  # the 1-row n_docs side
        assert "CartesianProduct" not in plan
        assert len(re.findall(r"^\(\d+\) Generate", plan, flags=re.MULTILINE)) <= 2
        # exactly ONE window remains: the per-document ranking (the
        # per-token document-frequency window would be a second one);
        # WindowGroupLimit nodes are the rank<=k pushdown, not windows
        assert len(re.findall(r"^\(\d+\) Window$", plan, flags=re.MULTILINE)) == 1
        assert P.count_shuffles(df) <= 4
        # runtime: the two Generate branches must collapse into one
        # executed exchange via AQE exchange reuse (collect() executes
        # THIS df's QueryExecution, so its final adaptive plan is readable)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in executed
    finally:
        spark.conf.set(key, saved)


def test_min_cost_supplier_broadcasts_dims(spark, sf_dir):
    """Q2 shape: the part filter and the supplier->nation->region chain
    must broadcast into the lineitem scan side; the only exchanges are
    the two grouped-cost aggregations (plus their AQE reads)."""
    df = e.q_min_cost_supplier(spark, sf_dir)
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert P.has_broadcast_join(df)


def test_apply_changes_no_cartesian_bounded_shuffles(spark, sf_dir):
    df = e.q_apply_changes(spark, sf_dir)
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # window shuffle on the change key + at most the two join-side hashes
    assert P.count_shuffles(df) <= 3


# Findings that are intentional, each bounded or by-design:
#   pack_chunks_global / epoch_shuffle — prefix-sum window over the TINY
#     n_shards / n_buckets count table, never corpus-sized;
#   vocab / tokenize_ids — dense-id window AFTER the top-V cut (<= top_v rows);
#   sentence_split — the Python UDTF surface, demonstrated deliberately;
#   distinct_labels — R5 "distinct then sort" reference semantics (3 rows);
#   yoy_growth — lag window over the per-YEAR aggregate (n_years rows,
#     never the fact table).
# (skyline_parts left this list in round 7: the gate query is now the
# GROUPED skyline — every phase-2 window partitions on p_brand, so no
# global window remains in its plan.)
_INTENTIONAL_LINT = {
    "pack_chunks_global": {"global-window"},
    # wilcoxon_signed — the cumulative-rank window runs over the
    #   DISTINCT-|d| aggregate (bounded by the difference-value
    #   domain, 100 values in the gate fixture), never the row
    #   stream; the rank_sum_test precedent
    "wilcoxon_signed": {"global-window"},
    # conformal_calibration — the order-statistic cumsum runs over the
    #   DISTINCT-score aggregate (bounded by the score domain), never
    #   rows; that is exactly how the k-th smallest avoids a global
    #   row sort
    "conformal_calibration": {"global-window"},
    # t_closeness — the grand-total window runs over the
    #   DISTINCT-sensitive-value aggregate (domain-bounded), never
    #   rows; chosen over a 1-row crossJoin precisely because Spark 4's
    #   self-join dedup makes the ancestor-aggregate crossJoin
    #   ambiguous (see the operator's comment)
    "t_closeness": {"global-window"},
    # sprt_eval — the ONE genuinely global ordered prefix sum, over
    #   the EVAL-SET stream; documented as eval-set-bounded by
    #   contract (a sequential test is ordered by definition)
    "sprt_eval": {"global-window"},
    "vocab": {"global-window"},
    "tokenize_ids": {"global-window"},
    # benjamini_hochberg — BH is defined on the global p-value order,
    # but its input is the 200-row hypothesis battery (upstream test
    # RESULTS, one row per slice/arm — never the corpus).
    "benjamini_hochberg": {"global-window"},
    # rbo_overlap — the rank windows order the 25-row NATION aggregate
    # and the depth spine is k=20 rows; both bounded domains.
    "rbo_overlap": {"global-window"},
    # spearman_rho / gains_table / wasserstein_drift / roc_points /
    # average_precision — rank/coverage/CDF windows run over the
    # distinct-VALUE aggregate (value-domain-bounded, never the row
    # stream): the rank_sum_test / auc_balance class.
    "spearman_rho": {"global-window"},
    "gains_table": {"global-window"},
    "wasserstein_drift": {"global-window"},
    "roc_points": {"global-window"},
    "average_precision": {"global-window"},
    # isotonic_calibration — level-domain windows + bounded segment
    # joins over the ~100-level quantized score (contract-bounded).
    "isotonic_calibration": {"global-window"},
    # log_rank_test — risk-set windows over the pooled distinct-TIME
    # aggregate (the kaplan_meier shape, time-domain-bounded).
    "log_rank_test": {"global-window"},
    "epoch_shuffle": {"global-window"},
    "sentence_split": {"python-row-udf"},
    "distinct_labels": {"global-sort"},
    "yoy_growth": {"global-window"},
    # hybrid_rrf — rank windows run over the two top-20-truncated
    #   candidate lists (<= 20 rows each), never a corpus
    "hybrid_rrf": {"global-window"},
    # sliding_distinct — sketch-union window over the per-DAY aggregate
    #   (|days| rows of KB sketches, never the fact table)
    "sliding_distinct": {"global-window"},
    # rank_sum_test / ks_test — the only window runs over the pooled
    #   DISTINCT-VALUE aggregate (bounded by the value domain, ~49k cent
    #   values max), never the row stream; that aggregation is exactly
    #   how these global-rank statistics avoid the global row sort
    "rank_sum_test": {"global-window"},
    "ks_test": {"global-window"},
    # ks_drift — the pooled-CDF cumsum runs over the DISTINCT-VALUE
    #   aggregate (l_quantity: 50 values), never rows; the per-group
    #   cumsums are group-partitioned over the same aggregate
    "ks_drift": {"global-window"},
    # auc_balance — same shape as rank_sum_test: the rank window runs
    #   over the DISTINCT-SCORE aggregate (bounded by the score domain),
    #   never the row stream; that is exactly how AUC avoids the global
    #   row sort
    "auc_balance": {"global-window"},
    # funnel_steps — the ratio window runs over the len(steps)-row
    #   per-step count union (3 rows here), never the event stream
    "funnel_steps": {"global-window"},
    # benford_digits — the expected-share window runs over the 9
    #   leading-digit buckets, never rows
    "benford_digits": {"global-window"},
    # neyman_allocation — the largest-remainder rank window (ADVICE
    #   r13 budget-exactness fix) runs over the per-STRATUM stats
    #   table (|strata| = 25 nations), never the customer stream
    "neyman_allocation": {"global-window"},
    # krippendorff_ordinal — the margin cumsum runs over the LABEL
    #   domain (a 1..5 rating scale), never items or ratings
    "krippendorff_ordinal": {"global-window"},
    # cvm_drift — pooled-CDF cumsums over the DISTINCT-VALUE
    #   aggregate (the ks_drift shape), never rows
    "cvm_drift": {"global-window"},
    # ad_drift — identical shape to cvm_drift: pooled-CDF cumsums
    #   over the DISTINCT-VALUE aggregate, never rows
    "ad_drift": {"global-window"},
    # kruskal_wallis — the doubled-rank window runs over the pooled
    #   DISTINCT-VALUE aggregate (the rank_sum_test shape), never rows
    "kruskal_wallis": {"global-window"},
    # mood_median — the grand-median cumsum runs over the
    #   DISTINCT-VALUE aggregate and the column-total window over the
    #   k-row cell table, never rows
    "mood_median": {"global-window"},
    # dp_exponential_quantile — the rank cumsum runs over the
    #   DISTINCT-VALUE candidate aggregate (the ks_drift shape),
    #   never rows
    "dp_exponential_quantile": {"global-window"},
    # brunner_munzel — the pooled-midrank window runs over the
    #   DISTINCT-VALUE aggregate (the rank_sum_test shape); the
    #   within-group windows are group-partitioned on the same
    #   aggregate
    "brunner_munzel": {"global-window"},
    # benjamini_yekutieli — the BH shape exactly: the rank window
    #   runs over the already-aggregated m-row hypothesis table
    "benjamini_yekutieli": {"global-window"},
    # dunn_test — the pooled-rank window runs over the DISTINCT-VALUE
    #   aggregate (the kruskal_wallis shape), never rows
    "dunn_test": {"global-window"},
    # holm_bonferroni — the BH shape: rank window over the m-row
    #   hypothesis table
    "holm_bonferroni": {"global-window"},
    # dp_above_threshold — the SVT stop scan is a cumsum over the
    #   ALREADY-AGGREGATED k-row group table (25 nations), never rows
    "dp_above_threshold": {"global-window"},
    # theil_u — marginal windows over the (x,y) CELL aggregate,
    #   domain-bounded (the mutual_information contract)
    "theil_u": {"global-window"},
    # mutual_information — the marginal/total windows run over the
    #   (x,y) CELL aggregate, bounded by the category-domain product;
    #   the operator is documented as categorical-only for this reason
    "mutual_information": {"global-window"},
    # jackknife_nations — the (N, S) total window runs over the
    #   per-GROUP aggregate (|nations| = 25 rows), never the customer
    #   stream; delete-one-group needs all group moments by definition
    "jackknife_nations": {"global-window"},
    # lorenz_customers — the rank window partitions on the magnitude
    #   bucket (never global); the two empty-PARTITION windows left are
    #   the <=8k-row bucket-offset prefix sum and the 10-row bucket
    #   cumsum — both over bounded aggregates, the epoch_shuffle shape
    "lorenz_customers": {"global-window"},
    # negative_samples — the dense-rank window runs over the DISTINCT
    #   item CATALOG (dimension-sized by contract, |part| rows), never
    #   the interaction stream; the stream itself only explodes k-way
    #   and anti-joins
    "negative_samples": {"global-window"},
    # psi_drift — the edge cumsum runs over the REFERENCE distinct-value
    #   CELL aggregate (value-domain bounded, the ks_test shape) and the
    #   totals window over the n_bins(=10)-row bin table; the row stream
    #   itself only gets a broadcast 9-element array filter
    "psi_drift": {"global-window"},
    # woe_iv — same shape as mutual_information: the pos/neg totals are
    #   windows over the CATEGORY cells, bounded by the category domain
    "woe_iv": {"global-window"},
    # cramers_v — same shape again: the grand-total window runs over
    #   the contingency CELLS (category-domain product), never rows
    "cramers_v": {"global-window"},
    # heaps_law — the growth-curve cumsum runs over the BUCKET rollup,
    #   <= n_buckets (default 256) rows by construction, never the doc
    #   count; pinned by test_heaps_law_bucketing_caps_curve_points
    "heaps_law": {"global-window"},
    # cliffs_delta — same shape as rank_sum_test: the dominance prefix
    #   sum runs over the two-group DISTINCT-VALUE aggregate (bounded
    #   by the value domain, 50 quantity values here), never the row
    #   stream — that is exactly how the all-pairs statistic avoids
    #   materializing n_a*n_b pairs
    "cliffs_delta": {"global-window"},
    # pca_provable — the per-round norm window runs over the dim-row
    #   w vector (dim is FIXED and tiny — the covariance itself is
    #   dim² rows); replacing the former 1-row aggregate + broadcast
    #   join with this window is what lets all power-iteration rounds
    #   fuse into one linear plan (optimization r14)
    "pca_provable": {"global-window"},
}


# Forced-broadcast-on-SF-scaled-table allowlist (round-10 verdict order
# #3). Every entry is a hint whose subtree scans an SF-scaled table but
# whose broadcast side is provably size-bounded in a way the plan-walk
# cannot see. Anything NOT listed here that trips sf_broadcast_hints is
# a 100 TB broadcast-OOM hazard and fails the test below.
_SF_BROADCAST_ALLOW = {
    # Declared exact all-pairs oracle twins: the broadcast nested-loop
    # self-join IS the design (quadratic verification baseline; the
    # scale path is the LSH twin). Without the hint the non-equi join
    # plans a CartesianProduct, which lint_plan forbids.
    "near_dup_cosine_exact",
    "near_dup_cosine_lsh",
    # Query-vector sides bounded by primary-key literal filters
    # (vec_id IN (0,1,2) / vec_id = 0): <= 3 rows at any SF.
    "ivf_topk",
    "similarity_topk",
    "hybrid_rrf",
    "hard_negatives",
    "quantized_rerank",
    # Gate form pins a constant-size slice (vec_id < 400) so the exact
    # k-NN oracle stays checkable; the production path takes LSH/IVF
    # candidates instead (operators/similarity.py knn_label_noise).
    "knn_label_noise",
    # Cross-corpus twin broadcasts the NEW side — exactly the last 50
    # doc ids at every SF (constant by construction).
    "near_dup_against_exact",
    # Decontamination: the broadcast side is the EVAL-BENCHMARK n-gram
    # set — fixed-size by contract (eval suites don't scale with the
    # training corpus); the fixture derives it from a corpus slice only
    # because the testdata has no separate eval table.
    "contamination_overlap",
    "decontaminate",
    "decontaminate_bloom",
    # Apriori frequent-item set: bounded by 1/minsupport of the basket
    # count under the operator's relative-support contract; the gate's
    # item domain is p_brand (bounded enum).
    "assoc_rules",
    # Item catalog dense-rank: dimension-sized by the operator contract
    # (negative sampling draws from the item DIMENSION, never the
    # interaction stream).
    "negative_samples",
    # Misra-Gries candidate set: <= k entries per partition by the
    # sketch invariant, so the broadcast side is k*n_partitions rows.
    "heavy_users",
    # IN-literal cap over the per-user aggregate: <= |IN list| rows.
    "differential_join",
    # t-digest per-(event_type, q) estimates: bounded-enum grouping
    # through FlatMapGroupsInPandas (opaque to the plan walk).
    "tdigest_quantiles",
    # CMS cells: (depth <= 4) x (width) sketch coordinates — bounded by
    # the sketch shape, not the data.
    "cms_counts",
    # embedding_contamination gate: the broadcast side is the train
    # SLICE bounded by a literal id range (vec_id in [100, 600) — max
    # 500 rows at every SF), feeding the exact cross-candidate set the
    # brute-force oracle requires; the production path is the
    # parity-tagged LSH generator with no broadcast.
    "embedding_contamination",
    # jonckheere_terpstra: the broadcast side is DISTINCT ordered
    # doses — bounded by the ordered-treatment domain by contract (a
    # 1..5 priority digit here; a trend test over unbounded group
    # count is undefined), never the order stream.
    "jonckheere_terpstra",
}


def test_no_forced_broadcast_on_sf_tables(spark, sf_dir):
    """No registered query may force-broadcast an SF-scaled table
    (customer/orders/lineitem/part/supplier/documents/embeddings/
    events): a hint that is correct at sf0.1 bypasses AQE's size check
    and becomes a broadcast OOM at sf100 (repo convention since commits
    35c3ac8/8e1588f; this test is the enforcement the round-9 verdict
    ordered — it would have caught the 6 pre-round-8 hint sites fixed
    this round). Bounded-by-construction exceptions are allowlisted
    above with their justification. The detector inspects only the
    analyzed logical plan, so any SF works; use the shared fixture."""
    sf = sf_dir
    offenders = {}
    for name, fn in e.queries().items():
        if name in _SF_BROADCAST_ALLOW:
            continue
        findings = P.sf_broadcast_hints(fn(spark, sf))
        if findings:
            offenders[name] = sorted(set(findings))
    assert not offenders, offenders


def test_sf_broadcast_detector(spark, sf_dir):
    """The detector itself: flags a forced broadcast of a raw SF table,
    stays quiet for a bounded (global-aggregate) broadcast and for
    nation/region dims."""
    from pyspark.sql import functions as F

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    bad = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert P.sf_broadcast_hints(bad) == ["sf-broadcast: customer"]
    scalar = cust.agg(F.avg("c_acctbal").alias("ab"))
    ok = orders.join(F.broadcast(scalar))
    assert P.sf_broadcast_hints(ok) == []
    dim = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    assert P.sf_broadcast_hints(dim) == []
    capped = orders.limit(10)
    assert P.sf_broadcast_hints(cust.join(F.broadcast(capped), cust.c_custkey == capped.o_custkey)) == []


def test_registry_wide_plan_lint(spark, sf_dir):
    """Every registered query's physical plan is free of scale hazards
    (cartesian products, row-at-a-time Python UDFs, corpus-sized global
    windows, unbounded global sorts) except the allowlisted, justified
    cases above. This is the regression net that catches a future query
    accidentally shipping a 100 TB antipattern. Plan-only: any SF
    works; use the shared fixture."""
    sf = sf_dir
    unexpected = {}
    for name, fn in e.queries().items():
        findings = P.lint_plan(fn(spark, sf))
        allowed = _INTENTIONAL_LINT.get(name, set())
        extra = [f for f in findings if f.split(":")[0] not in allowed]
        if extra:
            unexpected[name] = extra
    assert not unexpected, unexpected


def test_lint_plan_detectors(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    df = spark.range(100).select(F.col("id"), (F.col("id") % 5).alias("g"))
    assert P.lint_plan(df.groupBy("g").count()) == []
    gw = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert any(f.startswith("global-window") for f in P.lint_plan(gw))
    pw = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert P.lint_plan(pw) == []
    assert any(
        f.startswith("global-sort") for f in P.lint_plan(df.orderBy(F.desc("g")))
    )
    # bounded top-k is exempt from the global-sort finding
    assert P.lint_plan(df.orderBy(F.desc("g")).limit(5)) == []
    u = udf(lambda x: x + 1, "long")
    assert any(f.startswith("python-row-udf") for f in P.lint_plan(df.select(u("id"))))


def test_bm25_single_explode_bounded_shuffles(spark, sf_dir):
    """bm25 shares one token-partitioned exchange for tf + df + idf
    (round-5 rework: the first cut planned the explode twice): exactly
    one Generate, bounded shuffles, no cartesian."""
    df = e.q_bm25_search(spark, sf_dir)
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    import re

    assert len(re.findall(r"^\(\d+\) Generate", plan, flags=re.MULTILINE)) == 1
    assert P.count_shuffles(df) <= 3


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Join-driven pruning (DPP): a partitioned fact joined to a FILTERED
    dim must plan a dynamicpruning subquery on the fact's partition
    column — at 100 TB this is what keeps `fact JOIN dim WHERE
    dim.slice = x` from scanning every fact partition even though the
    fact filter isn't literal."""
    from hdinsight_pyspark_cntk_integration_spark.sources import io as eio

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_dpp")
    eio.write_parquet(ev, out, partition_by=["event_type"])
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("purchase", 1), ("view", 2)], "event_type string, grp int"
    ).filter("grp = 1")
    joined = fact.join(dim, "event_type")
    plan = P.formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.count() == ev.filter("event_type = 'purchase'").count()


def test_target_encode_row_stream_never_shuffles(spark):
    """target_encode's design claim: the big row stream is joined to
    BROADCAST aggregates only — every Exchange in the plan feeds an
    aggregate or broadcast build side, so adding rows adds no row-
    stream shuffle. We assert the join strategy, not a brittle count."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    df = spark.createDataFrame(
        [(i, "c" + str(i % 3), float(i)) for i in range(100)],
        "id long, cat string, y double",
    )
    out = mn.target_encode(df, "cat", "y", "id", smoothing=5)
    plan = P.formatted_plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_readability_is_zero_shuffle(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import text as tx

    df = spark.createDataFrame([(1, "a b. c!")], "doc_id long, text string")
    assert P.count_shuffles(tx.readability(df)) == 0


def test_welch_ttest_single_aggregate_shape(spark):
    """One partial-agg pass: exactly one shuffle (the 1-row global
    aggregate exchange)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as st

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)], "g string, v double"
    )
    assert P.count_shuffles(st.welch_ttest(df, "g", "v", "a", "b")) == 1


def test_kneser_ney_marginals_stay_on_type_table(spark):
    """The windows must run over the bigram TYPE aggregate, not the
    token stream: the plan's Window operators sit above the pair
    groupBy, so the only row-stream shuffle is the type aggregation."""
    from hdinsight_pyspark_cntk_integration_spark.operators import text as tx

    df = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    plan = P.formatted_plan(tx.kneser_ney_bigram(df))
    assert "Window" in plan and "HashAggregate" in plan
