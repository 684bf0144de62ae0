"""Scale rehearsal (VERDICT r10 order #5): measure wall time + shuffle
write bytes for the heaviest production dedup/ANN paths at 1x (base SF
dir) vs FACTORx (the content-disjoint fixture built by
tools/make_scale_fixture.py), and print per-query scaling exponents
log(t_Nx / t_1x) / log(N). Sub-linear-to-linear exponents (<= ~1.2 on
wall time, ~1.0 on shuffle bytes) are the empirical evidence that the
banded/bucketed paths carry no hidden quadratic term.

The five targets run UNBOUNDED at the operator level (gate wrappers
slice their inputs for cheap oracles; the rehearsal must not):
repeated_passages_maximal, sentence_dedup, embedding_dedup (banded
candidates), minhash_lsh_candidates, ivf_topk.

Each query runs on bench.py's loop (``bench.timed_runs``): one warm run
(parquet footers, codegen), then three timed runs forced through the
noop sink; the MIN is the scaling estimator (robust to one-off GC
pauses). Shuffle-write and input bytes of the final timed run come from
Spark's status store (``bench.Readout``) and cover the whole run, the
frame's build (eager checkpoints and the like) as well as its write.

Usage: python tools/scale_rehearsal.py [BASE] [FIXTURE] [FACTOR] [OUT_JSON]
"""

from __future__ import annotations

import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from hdinsight_pyspark_cntk_integration_spark import get_spark
from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
from hdinsight_pyspark_cntk_integration_spark.operators import similarity as sim
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


def _relational_targets(spark, sf_dir):
    """Headline TPC-H-shape queries over the FACTOR-scaled fact tables
    (the fixture offsets o_orderkey/l_orderkey per copy, preserving join
    integrity; dimensions stay 1x as they would in a real warehouse).
    Registry wrappers are used directly — they are unbounded."""
    import __spark_entry__ as e  # noqa: deferred — tools add repo root to sys.path

    qs = e.queries()
    return {
        name: (lambda n=name: qs[n](spark, sf_dir))
        for name in [
            "pricing_summary",
            "top_revenue_orders",
            "region_revenue",
            "window_topn",
            "min_cost_supplier",
        ]
    }


def _texteval_targets(spark, sf_dir):
    """Round-11 corpus-scan eval paths: each explodes every document
    into (multi-order) grams, so the claim to verify is that shuffle
    volume tracks total gram count (linear), with no pairwise blowup —
    the clip/overlap joins are co-keyed on (doc, gram)."""
    from pyspark.sql import functions as F

    from hdinsight_pyspark_cntk_integration_spark.operators import text as tx

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    kept = F.filter(toks, lambda t, i: F.pmod(i + 1, F.lit(4)) != 0)
    gens = docs.select("doc_id", F.array_join(kept, " ").alias("text"))
    return {
        "bleu_clipped": lambda: tx.bleu_clipped_precision(docs, gens, n_max=2),
        "rouge_overlap": lambda: tx.rouge_n(docs, gens, n=2),
        "good_turing": lambda: tx.good_turing_counts(docs, r_max=10, n=3),
        "chao1_vocab": lambda: tx.chao1_vocab(docs, n=3),
    }


def _pipeline_targets(spark, sf_dir):
    """Training-data pipeline heavies: iterative BPE training (16
    corpus-wide pair-count rounds), Bloom-prefiltered decontamination
    (broadcast bucket filter + exact verify join), tf-idf (shared
    token exchange), and DSIR importance weights — the claim is that
    each round / join moves bytes linear in the corpus."""
    import __spark_entry__ as e  # noqa: deferred — tools add repo root to sys.path

    qs = e.queries()
    return {
        name: (lambda n=name: qs[n](spark, sf_dir))
        for name in [
            "bpe_vocab",
            "decontaminate_bloom",
            "tfidf_top_terms",
            "dsir_weights",
        ]
    }


def _graph_targets(spark, sf_dir):
    """Round-12 graph heavies (VERDICT r11 order #5): every one derives
    its graph FROM the lineitem fact log (the 10x fixture scales the
    log; the distilled nation / supplier-part graph stays roughly
    fixed, as fact-derived graphs do in production) — so the claim to
    verify is that the edge-extraction scan + groupBy dominates and
    scales linearly, while the iterative rounds run on the bounded
    distilled graph and add CONSTANT work, i.e. overall exponents well
    under 1 on wall time and ~<=1 on shuffle bytes."""
    import __spark_entry__ as e  # noqa: deferred — tools add repo root to sys.path

    qs = e.queries()
    return {
        name: (lambda n=name: qs[n](spark, sf_dir))
        for name in [
            "assortativity",
            "bfs_supply_chain",
            "k_truss_trade",
            "sssp_trade",
        ]
    }


def _linkage_targets(spark, sf_dir):
    """Record-linkage candidate generators over the customer-scaled
    fixture (tools/make_linkage_fixture.py — the ENTITY table grows,
    unlike the warehouse-shaped x10 fixture): equality blocking on a
    fixed-domain key is intrinsically quadratic in block depth (10x
    records -> ~100x within-block pairs — the claim to MEASURE, not
    hide), while sorted-neighborhood caps candidates at n*window
    (linear — the documented scale path)."""
    import __spark_entry__ as e  # noqa: deferred — tools add repo root to sys.path

    qs = e.queries()
    return {
        name: (lambda n=name: qs[n](spark, sf_dir))
        for name in ["fellegi_sunter", "sorted_neighborhood"]
    }


def _evalstats_targets(spark, sf_dir):
    """Round-12 eval/agreement additions that SCAN the corpus (the
    others are dimension-bounded): span_f1 explodes both sides to
    (id, token) counts with co-keyed clips, krippendorff/item_analysis
    cross the documents with a constant rater/item panel — all three
    should move bytes linear in the corpus with no pairwise term."""
    import __spark_entry__ as e  # noqa: deferred — tools add repo root to sys.path

    qs = e.queries()
    return {
        name: (lambda n=name: qs[n](spark, sf_dir))
        for name in ["span_f1", "krippendorff_alpha", "item_analysis"]
    }


def _pairjoin_targets(spark, sf_dir):
    """The exact prefix-filtered similarity JOINS — the one operator
    class where a quadratic candidate blowup is a genuine structural
    risk (every pair that survives the prefix filter is verified).
    The claim to measure: candidates (and hence shuffled bytes) track
    the PLANTED-overlap pair count, not n²."""
    docs = load_table(spark, sf_dir, "documents")
    return {
        "set_similarity_join": lambda: dd.set_similarity_join(
            docs, threshold=0.6
        ),
        "containment_join": lambda: dd.containment_join(docs, threshold=0.6),
    }


def _round13_targets(spark, sf_dir):
    """Round-13 additions that SCAN an SF-scaled input (the rest are
    dimension/battery-bounded): the two-corpus keyword statistics and
    Yule's K scan documents (x10 fixture: disjoint vocab per copy, so
    the vocab table also grows ~10x — the worst case for the
    materialized-join path); theil/winsorized/gains/spearman scan
    orders/customer; cusum/page_hinkley scan events (x10 = 10x the
    SERIES at equal length — the partitioned-window claim)."""
    import __spark_entry__ as e  # noqa: deferred — tools add repo root to sys.path

    qs = e.queries()
    targets = {
        name: (lambda n=name: qs[n](spark, sf_dir))
        for name in [
            "g_test_keywords",
            "jsd_divergence",
            "yules_k",
            "theil_index",
            "winsorized_mean",
            "gains_table",
            "spearman_rho",
            "cusum_drift",
            "page_hinkley",
        ]
    }

    # the cross-corpus LSH contamination path, PRODUCTION form (banded
    # candidates over the parity-tagged union — the gate form passes
    # exact bounded candidates instead): eval = every 10th vector,
    # train = the rest, so both sides scale with the fixture.
    def _contamination():
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_dir, "embeddings")
        ev = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 0)
        tr = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
        return dd.embedding_contamination(ev, tr, threshold=0.9)

    targets["embedding_contamination_lsh"] = _contamination
    return targets


def _round14_targets(spark, sf_dir):
    """Round-14 additions that SCAN an SF-scaled input (the
    spine/battery-bounded members — fisher, bayes, BY — are
    support-bounded by construction): the k-group rank family
    (kruskal_wallis, dunn_test, brunner_munzel — distinct-value
    aggregates whose value domain ALSO grows ~10x in the offset
    fixture, the worst case), the ordered-trend pair/grid joins
    (jonckheere_terpstra: |V|·k² grid; seasonal_mann_kendall:
    per-(priority, season) series² pair join), the drift/normality
    scans (ad_drift, jarque_bera), and the char-3-gram chrF corpus
    scan (documents, both sides)."""
    import __spark_entry__ as e  # noqa: deferred — tools add repo root to sys.path

    qs = e.queries()
    return {
        name: (lambda n=name: qs[n](spark, sf_dir))
        for name in [
            "kruskal_wallis",
            "dunn_test",
            "brunner_munzel",
            "jonckheere_terpstra",
            "seasonal_mann_kendall",
            "ad_drift",
            "jarque_bera",
            "chrf_score",
        ]
    }


def _targets(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return {
        "repeated_passages_maximal": lambda: dd.repeated_passages_maximal(
            docs, ns=(8, 16, 32), min_docs=2, adaptive=True
        ),
        "sentence_dedup": lambda: dd.sentence_dedup(docs, min_docs=2),
        "minhash_lsh_candidates": lambda: dd.minhash_lsh_candidates(
            dd.hashed_shingle_table(docs)
        ),
        "embedding_dedup": lambda: dd.embedding_dedup(emb),
        "ivf_topk": lambda: sim.ivf_topk(
            emb,
            sim.self_queries(emb, [0, 1, 2]),
            sim.grid_centroids(emb, num=8),
            k=10,
            nprobe=4,
        ),
    }


def run(base: str, fixture: str, factor: int, out_json: str,
        target_set: str = "dedup", only: str | None = None) -> None:
    # Cluster-realistic heap: the engine's local sessions never set
    # spark.driver.memory, so local mode runs on the 1g JVM default —
    # fine at sf0.1, but the 10x corpus OOMs the gram explode there
    # (measured: repeated_passages_maximal, 32 tasks, Java heap space).
    # A production executor gets 8-32g for its handful of task slots;
    # give the one local JVM the equivalent so the rehearsal measures
    # the ALGORITHM's scaling, not an artificial 1g ceiling.
    spark = get_spark(
        app_name="scale-rehearsal",
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark)
    readout = bench.Readout(spark)

    make_targets = {
        "relational": _relational_targets,
        "texteval": _texteval_targets,
        "pairjoin": _pairjoin_targets,
        "pipeline": _pipeline_targets,
        "graph": _graph_targets,
        "linkage": _linkage_targets,
        "evalstats": _evalstats_targets,
        "round13": _round13_targets,
        "round14": _round14_targets,
    }.get(target_set, _targets)
    keep = set(only.split(",")) if only else None
    results: dict[str, dict] = {}
    for scale, sf_dir in [("1x", base), (f"{factor}x", fixture)]:
        for name, make in make_targets(spark, sf_dir).items():
            if keep is not None and name not in keep:
                continue
            # 3 samples, exponent from t_min (VERDICT r12 "what's wrong"
            # #3: 2-sample minima under host-throttle noise made the
            # TIME exponents unreliable — e.g. 10x samples [3.03,
            # 11.11]; shuffle-BYTE exponents were always robust). The
            # shuffle/input counters are read for the LAST run only
            # (bytes are deterministic per plan, any run works).
            samples = [round(s, 3) for s in bench.timed_runs(make, readout)]
            work = readout.read()
            shuffle = round(work["execute.shuffle_write_mb"] * 1e6)
            inp = round(work["sources.input_mb"] * 1e6)
            rec = results.setdefault(name, {})
            rec[scale] = {
                "samples": samples,
                "t_min": min(samples),
                "shuffle_write_bytes": shuffle,
                "input_bytes": inp,
            }
            print(f"{scale:>4} {name}: {samples} shuffleMB="
                  f"{shuffle / 1e6:.1f} inputMB={inp / 1e6:.1f}",
                  flush=True)

    big = f"{factor}x"
    for name, rec in results.items():
        t_exp = math.log(rec[big]["t_min"] / rec["1x"]["t_min"]) / math.log(factor)
        sw1x = max(rec["1x"]["shuffle_write_bytes"], 1)
        s_exp = math.log(
            max(rec[big]["shuffle_write_bytes"], 1) / sw1x
        ) / math.log(factor)
        rec["time_exponent"] = round(t_exp, 3)
        rec["shuffle_exponent"] = round(s_exp, 3)
        print(f"{name}: time_exp={t_exp:.3f} shuffle_exp={s_exp:.3f}", flush=True)

    with open(out_json, "w") as f:
        json.dump({"factor": factor, "base": base, "fixture": fixture,
                   "results": results}, f, indent=2)
    print(f"wrote {out_json}")


if __name__ == "__main__":
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    fixture = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "fixtures", "x10")
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    out_json = sys.argv[4] if len(sys.argv) > 4 else "SCALING_DATA.json"
    target_set = sys.argv[5] if len(sys.argv) > 5 else "dedup"
    only = sys.argv[6] if len(sys.argv) > 6 else None
    run(base, fixture, factor, out_json, target_set, only)
