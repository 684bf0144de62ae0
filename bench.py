"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a noop sink (full computation, no driver
collect), mirroring how a production job would terminate in a write.
The warm-up, the timing loop and the Spark read-out defined here
(warm_up, timed_runs, Readout) are the ones tools/ measures with.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from hdinsight_pyspark_cntk_integration_spark import get_spark

HEADLINE = [
    "pricing_summary",
    "top_revenue_orders",
    "region_revenue",
    "window_topn",
    "asof_join",
    "tumbling_hourly",
    "json_extract",
    "dedup_exact",
    "token_stats",
    "similarity_topk",
    "score_confusion",
    "minhash_near_dup",
]


# Training-data-pipeline operators, timed separately so the headline
# total stays comparable across rounds (they were added in round 3).
PIPELINE = [
    "hash_split",
    "mixture_sample",
    "pack_chunks",
    "pack_chunks_global",
    "bpe_token_count",
    "decontaminate",
    "tokenize_ids",
    "waiting_suppliers",
    "tfidf_top_terms",
    "chunk_overlap",
    "stratified_split",
    "quantize_embeddings",
    "apply_changes",
    "pii_redact",
    "epoch_shuffle",
    "resample_ffill",
    # round-4 additions
    "decontaminate_bloom",
    "asof_tolerance",
    "repeated_passages",
    "shard_manifest",
    "point_in_time",
    "variant_extract",
    "manifest_diff",
    # round-5 additions
    "bm25_search",
    "unigram_logprob",
    "temperature_mixture",
    "key_skew_profile",
    "hll_distinct_bounded",
    "pagerank_nations",
    "interpolate_linear",
    "inverted_index",
    "edit_distance_pairs",
    "cohort_retention",
    "price_histogram",
    "dq_checks",
    "repeated_passages_maximal",
    "bpe_vocab",
    "strip_boilerplate",
    "corpus_divergence",
    "heavy_users",
    "set_similarity",
    "triangle_count",
    # round-5 continuation batches
    "ewma",
    "skyline_parts",
    "outlier_zscore",
    "rolling_anomaly",
    "tdigest_quantiles",
    "upsert_aggregate",
    "session_window_native",
    "dedup_window",
    "event_paths",
    "bfs_supply_chain",
    # round-7 additions
    "gopher_rules",
    "contamination_overlap",
    "ngram_diversity",
    "mad_outliers",
    "perplexity_buckets",
    "embedding_dedup",
    "url_dedup",
    "hybrid_rrf",
    "cms_counts",
    "hard_negatives",
    "kcore_trade",
    # round-7 mining batch
    "assoc_rules",
    "rfm_segments",
    "pareto_revenue",
    "kmv_intersect",
    "sentence_dedup",
    "dsir_weights",
    "random_projection",
    "communities_trade",
    # round-8 additions
    "mutual_information",
    "theil_sen",
    "weighted_reservoir",
    "funnel_steps",
    "zipf_slope",
    "pmi_cooccur",
    "robust_scaler",
    "burstiness",
    "markov_transitions",
    "script_histogram",
    "kneser_ney",
    "textrank_keywords",
    "autocorrelation",
    "seasonal_decompose",
    "target_encode",
    "woe_iv",
    "adamic_adar",
    "dictionary_tag",
    "harmonic_centrality",
    "holt_linear",
    "heaps_law",
    "simpson_diversity",
    "sparse_cosine",
    "welch_ttest",
    "readability",
    "attribution",
    "canonical_docs",
    "ngram_novelty",
    "compression_ratio",
    "hierarchy_rollup",
    "cohort_ltv",
    "anova_f",
    "kendall_tau",
    "rolling_corr",
    "hhi_concentration",
    "sssp_trade",
    "kaplan_meier",
    "containment_docs",
    "diff_in_diff",
    "grouped_ols",
    "mann_kendall",
    "oov_rate",
    "recursive_cte_sql",
    "dup_cluster_sizes",
    "auc_balance",
    "calibration_bins",
    "cuped_spend",
    "holt_winters",
    "wilson_ci",
    "survival_summary",
    "corr_matrix",
    "cramers_v",
    "assortativity",
    "levene_bf",
    "ks_drift",
    "jaccard_neighbors",
    "robust_means",
    # round-9 additions
    "jaccard_capped",
    "cohens_d",
    "weighted_median",
    "jackknife_nations",
    "bootstrap_mean",
    "control_chart",
    "lorenz_customers",
    "hits_trade",
    "grouping_sets_sql",
    "k_truss_trade",
    "reciprocity_trade",
    "exact_quantiles",
    "mase_monthly",
    "twa_value",
    "negative_samples",
    "psi_drift",
    "trimmed_mean",
    "vector_dq",
    "knn_label_noise",
    "minhash_provable",
    # round-10 additions
    "span_corruption",
    "nearest_centroid",
    "tokenizer_fertility",
    "mmr_rerank",
    "simhash_provable",
    "kmeans_provable",
    "pca_provable",
    # round-11 additions
    "interpolate_provable",
    "pack_bestfit",
    "contamination_lm",
    "quality_calibration",
    "curriculum_schedule",
    "dedup_keep_best",
    "packing_efficiency",
    "rouge_overlap",
    "pass_at_k",
    "self_consistency",
    "bleu_clipped",
    "fleiss_kappa",
    "kcenter_select",
    "bradley_terry",
    "cliffs_delta",
    "good_turing",
    "retrieval_mrr",
    "ndcg_eval",
    "mcnemar_test",
    "chao1_vocab",
    "k_anonymity",
    "ablation_arms",
    "fim_split",
    "dawid_skene",
    "lsh_plan",
    # round-12 additions
    "krippendorff_alpha",
    "cochran_q",
    "kendall_w",
    "wilcoxon_signed",
    "friedman_test",
    "item_analysis",
    "l_diversity",
    "mixture_reweight",
    "span_f1",
    "weighted_kappa",
    "mantel_haenszel",
    "conformal_calibration",
    "pinball_loss",
    "brier_decomposition",
    "sprt_eval",
    "fellegi_sunter",
    "wordpiece_vocab",
    "sorted_neighborhood",
    "t_closeness",
    # round-13 additions
    "benjamini_hochberg",
    "icc_oneway",
    "ece_calibration",
    "mcc_score",
    "cusum_drift",
    "theil_index",
    "g_test_keywords",
    "log_odds_dirichlet",
    "yules_k",
    "rbo_overlap",
    "cem_att",
    "neyman_allocation",
    "spearman_rho",
    "gk_gamma",
    "page_hinkley",
    "winsorized_mean",
    "gains_table",
    "jsd_divergence",
    "cronbach_alpha",
    "nelson_aalen",
    "dp_noisy_counts",
    "feature_hashing_signed",
    "wasserstein_drift",
    "roc_points",
    "average_precision",
    "benford_chi2",
    "isotonic_calibration",
    "diebold_mariano",
    "log_rank_test",
    "two_proportion_z",
    "post_stratified",
    "embedding_contamination",
    "dp_noisy_sum",
    "tv_drift",
    "hellinger_drift",
]


def warm_up(spark) -> None:
    """JVM/codegen + Python-worker-pool warmup on trivial actions, so
    per-query numbers measure the plan, not first-call initialization
    (workers are reused across jobs; starting one per core is a fixed
    ~2s cost that would otherwise land on the first pandas-UDF query)."""
    spark.range(1000).selectExpr("sum(id)").collect()
    par = spark.sparkContext.defaultParallelism

    def _noop(batches):
        yield from batches

    spark.range(par).repartition(par).mapInPandas(_noop, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def noop_run(make_df) -> None:
    """Build the frame and force it through the noop sink: full
    computation, no driver collect."""
    make_df().write.format("noop").mode("overwrite").save()


def timed_runs(make_df, readout=None, warm: bool = True) -> list[float]:
    """One unmeasured warm run (first-touch parquet footer reads, codegen
    compilation), then 3 timed noop runs, each building its frame anew.
    Returns the 3 wall times. A ``readout`` (a Readout) traces the last
    timed run; ``warm=False`` leaves the warm run to the caller.

    Callers reduce the samples with a robust estimator: single runs swing
    ±40% on GC pauses (round-2 bench read +17% total vs round 1 on
    identical code)."""
    if warm:
        noop_run(make_df)
    samples = []
    for last in (False, False, True):
        run = noop_run
        if last and readout is not None:
            readout.start()
            run = readout.run
        t0 = time.perf_counter()
        run(make_df)
        samples.append(time.perf_counter() - t0)
    return samples


class Readout:
    """Spark's own counters for one noop run, read from the status store
    through perfbench.layers.Tracer's public spans. Its install(), which
    patches package functions, is never called, so the run is the same
    code as an untraced one.

    Pass it to ``timed_runs``; ``read()`` then returns, for the traced
    run, the Tracer's ``execute.*`` totals (jobs, stages, tasks, cpu_s,
    run_s, shuffle_write_mb, ...) and ``sources.input_mb``, all over the
    whole run: building the frame and its write. ``construct.jobs``,
    ``construct.tasks`` and ``construct.wall_s`` are the build's share
    (eager checkpoints, counts and collects it triggers). The Tracer
    counts no CPU, stages or shuffle per operation, so the build's share
    of those is not reported."""

    def __init__(self, spark) -> None:
        from perfbench.layers import Tracer

        self.tracer = Tracer(spark, entrymod)
        self.cores = spark.sparkContext.defaultParallelism
        self._before: dict = {}

    def start(self) -> None:
        """Open the pass; timed_runs calls it before its clock starts."""
        # the Tracer's job groups are named by pass and outlive this
        # readout (they last as long as the SparkContext), so each run
        # takes a pass id no other run can hold
        self._before = self.tracer.begin_pass(f"readout{time.perf_counter_ns()}")

    def run(self, make_df) -> None:
        # both spans in the execute phase, so the execute.* totals hold
        # the build's jobs too; the per-operation rows keep them apart
        with self.tracer.span("construct", "execute"):
            df = make_df()
        with self.tracer.span("query", "execute"):
            noop_run(lambda: df)

    def read(self) -> dict[str, float]:
        metrics, rows = self.tracer.end_pass(self._before, self.cores)
        build = next(r for r in rows if r["op"] == "construct")
        out = {k: v for k, v in metrics.items() if k.startswith("execute.")}
        out["sources.input_mb"] = metrics["sources.input_mb"]
        out["construct.jobs"] = build["execute_jobs"]
        out["construct.tasks"] = build["execute_tasks"]
        out["construct.wall_s"] = build["execute_s"]
        return out


N_BENCH_IMAGES = 10_000  # the reference's benchmark cardinality (README.md:194)


def inference_throughput(spark) -> float:
    """Reference-comparable inference bench: score 10k synthetic 3072-dim
    'images' (deterministic JVM-generated values) through the mapInArrow
    scorer with the full P1-P5 preprocessing chain + linear stub model.
    Baseline to beat: ≈102.2 images/s (BASELINE.md)."""
    import numpy as np
    from pyspark.sql import functions as F

    from hdinsight_pyspark_cntk_integration_spark.operators import scoring as sc

    par = spark.sparkContext.defaultParallelism
    images = (
        spark.range(N_BENCH_IMAGES)
        .repartition(par)
        .select(
            F.col("id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(3071)),
                lambda i: F.pmod(F.col("id") * 3072 + i.cast("long") * 2654435761, F.lit(256)).cast("float"),
            ).alias("image"),
        )
    )
    mean = np.zeros((3, 32, 32), dtype=np.float32)
    scored = sc.score(
        images,
        sc.make_linear_stub_loader(3072, 10),
        input_col="image",
        pass_through=["id"],
        preprocess=lambda b: sc.cifar_preprocess(b, mean),
    )
    # best-of-3: the throughput of the fastest run
    return N_BENCH_IMAGES / min(timed_runs(lambda: scored))


def _registry_parity_timings(here: str) -> dict[str, object]:
    """Per-round timing trail for the non-swept registry (the
    relational/scalar-function families — sub-second single-exchange
    Catalyst built-ins): promoted from the newest per-round
    full-registry parity artifact (PARITY_r{N}.json, the canonical
    round artifact; suffixed mid-round snapshots like _batch1 are
    ignored) rather than re-timed here, so every registered query has
    a committed round-over-round timing record without doubling the
    bench wall time."""
    swept = set(HEADLINE) | set(PIPELINE)
    parity_files = sorted(
        (f for f in os.listdir(here) if re.fullmatch(r"PARITY_r\d+\.json", f)),
        key=lambda f: int(re.search(r"_r(\d+)", f).group(1)),
    )
    if not parity_files:
        return {}
    src = parity_files[-1]
    try:
        with open(os.path.join(here, src)) as f:
            parity = json.load(f)
        return {
            "source_artifact": src,
            "sf_dir": parity.get("sf_dir"),
            "sec": {
                name: rec.get("sec")
                for name, rec in parity.get("queries", {}).items()
                if name not in swept
            },
        }
    except (OSError, ValueError):
        return {"source_artifact": src, "error": "unreadable"}


def refresh_registry_timings() -> None:
    """Rewrite ONLY BENCH_SAMPLES.json's registry_parity_sec section
    from the newest parity artifact (``python bench.py
    --refresh-registry-timings``) — for when the full-registry parity
    regen lands after the timed bench run, without re-paying the
    bench's half hour."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "BENCH_SAMPLES.json")
    with open(path) as f:
        detail = json.load(f)
    detail["registry_parity_sec"] = _registry_parity_timings(here)
    with open(path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"refreshed registry_parity_sec in {path}")


def _calibration_probe(spark) -> tuple[float, list[float]]:
    """Fixed-cost host-speed probe (VERDICT r12 "what's wrong" #2): the
    SAME synthetic query — no SF data, no parquet, pure codegen CPU plus
    one 97-key shuffle — runs before and after the sweep, and both
    medians are embedded in the printed bench line. The probe is
    code-invariant across rounds, so: stable pre≈post medians matching
    prior rounds ⇒ sweep deltas are code; a probe median that swings
    (pre vs post, or round over round) ⇒ the host was throttled during
    the sweep — machine-detectable now, instead of inferred from
    per-query sample spreads. Returns (median_of_3, raw_samples)."""
    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(20_000_000)
            .selectExpr(
                "xxhash64(id) % 97 AS k",
                # pmod-bounded summand: 20M × <1e6 stays far under the
                # long limit, so the probe runs identically in ANSI mode
                "pmod(xxhash64(id + 1), 1000000) AS v",
            )
            .groupBy("k")
            .agg({"v": "sum"})
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    once()  # unmeasured: codegen compile + first-touch
    samples = [once() for _ in range(3)]
    return sorted(samples)[1], [round(s, 3) for s in samples]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="engine-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()
    warm_up(spark)

    # All three steady-state samples are recorded ("query_samples") so a
    # future ±10% median move is attributable at a glance: tight samples
    # = real plan change, wide spread = host noise (this box is shared;
    # GC/CPU contention shows up as one outlier sample, which the median
    # already discards). Samples and per-pipeline-query medians go to a
    # SIDE FILE (BENCH_SAMPLES.json), NOT the printed line: the driver
    # captures only the last 2000 bytes of stdout, and round 5's line
    # outgrew that window, losing the headline medians from the record.
    # Discarded probes first: after warm_up the probe keeps speeding up for
    # about 20 runs (0.65 s to 0.31 s on a 4-vCPU host), so one probed right
    # away reads slower than the post-sweep one, which the pre/post check
    # reads as throttling. Each probe call is 4 runs.
    for _ in range(5):
        _calibration_probe(spark)
    calib_pre, calib_pre_samples = _calibration_probe(spark)

    medians: dict[str, float] = {}
    query_samples: dict[str, list[float]] = {}
    for name in HEADLINE + PIPELINE:
        fn = queries[name]
        samples = timed_runs(lambda: fn(spark, sf_dir))
        medians[name] = sorted(samples)[1]
        query_samples[name] = [round(s, 3) for s in samples]
    total = sum(medians[name] for name in HEADLINE)
    per_query = {name: round(medians[name], 3) for name in HEADLINE}
    pipeline_q = {name: round(medians[name], 3) for name in PIPELINE}

    images_per_sec = inference_throughput(spark)

    calib_post, calib_post_samples = _calibration_probe(spark)

    pipeline_total = round(sum(pipeline_q.values()), 3)

    # Coverage contract (VERDICT r11 order #4): every registered query
    # gets a committed per-round timing trail. Queries outside
    # HEADLINE/PIPELINE are the relational/scalar-function families —
    # sub-second single-exchange Catalyst built-ins whose 3-sample
    # medians would double the bench wall time for near-zero signal —
    # so instead of re-timing them here, their per-round wall seconds
    # are PROMOTED from the committed full-registry parity artifact
    # (tools/check_parity.py --json PARITY_r{N}.json times every query
    # at sf0.01 every round). A perf regression in e.g. confusion_pivot
    # therefore still leaves a visible round-over-round trail, in
    # "registry_parity_sec" below (keyed by the artifact it came from).
    here = os.path.dirname(os.path.abspath(__file__))
    registry_parity = _registry_parity_timings(here)
    detail_path = os.path.join(here, "BENCH_SAMPLES.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "sf": sf,
                "pipeline_queries": pipeline_q,
                "query_samples": query_samples,
                "registry_parity_sec": registry_parity,
                "calibration_samples": {
                    "pre": calib_pre_samples,
                    "post": calib_post_samples,
                },
            },
            f,
            indent=1,
        )

    record = {
        "metric": "headline_query_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "pipeline_total_sec": pipeline_total,
        "pipeline_n": len(pipeline_q),
        "detail_file": "BENCH_SAMPLES.json",
        "sf": sf,
        "images_per_sec": round(images_per_sec, 1),
        "reference_images_per_sec": 102.2,
        "calib_sec": {
            "pre": round(calib_pre, 3),
            "post": round(calib_post, 3),
        },
    }
    # Hard guard against a repeat of round 5: the driver's tail capture is
    # 2000 bytes and the printed line is the LAST stdout line, so it must
    # fit whole. Fall back to the headline-only core, and then drop
    # "queries" too (it can outgrow the window if it gains entries or
    # long names), rather than emit an unparseable record.
    optional = ((), ("pipeline_total_sec", "pipeline_n", "detail_file", "reference_images_per_sec"), ("queries",))
    for keys in optional:
        for key in keys:
            del record[key]
        line = json.dumps(record)
        if len(line) <= 1900:
            break
    assert len(line) <= 1900, "bench output line still exceeds capture window"
    print(line)
    spark.stop()


if __name__ == "__main__":
    if "--refresh-registry-timings" in sys.argv:
        refresh_registry_timings()
    else:
        main()
