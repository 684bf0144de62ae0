"""Cost profile for repeated_passages_maximal(adaptive=True) (VERDICT r7
#6): the gate query doubled from ~3.8 s to ~8 s when it switched to the
adaptive sweep — this tool attributes the delta between the base
(8/16/32) sweep and the adaptive extension rounds, and within each
round between the three phases:

  (a) impossibility probe — ``limit(min_docs).count()`` over docs with
      >= L tokens (text column only, no gram construction);
  (b) frontier restriction — top-level grams of the long docs
      semi-joined against the (broadcast) survivor set, distinct doc ids;
  (c) extension aggregate — the L-gram explode + partial-agg groupBy +
      localCheckpoint over the frontier docs.

Usage: python tools/profile_adaptive_passages.py [sf_dir]
Prints one JSON line; paste the summary into README.md §Benchmarks.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark import get_spark
from hdinsight_pyspark_cntk_integration_spark.functions.textfns import normalized_text
from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_ngrams
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="profile-adaptive-passages", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")
    ns, min_docs = (8, 16, 32), 2
    out: dict[str, object] = {"sf_dir": sf_dir}

    t0 = time.perf_counter()
    base = dd.repeated_passages_maximal(docs, ns=ns, min_docs=min_docs, adaptive=False)
    out["base_rows"] = base.count()
    out["base_sweep_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    ada = dd.repeated_passages_maximal(docs, ns=ns, min_docs=min_docs, adaptive=True)
    out["adaptive_rows"] = ada.count()
    out["adaptive_total_sec"] = round(time.perf_counter() - t0, 3)

    # Phase attribution for each extension round the gate corpus hits
    # (both fixtures: L=64 produces survivors, L=128 is the empty stop).
    # Replicates the operator's loop with timers; the survivor set is the
    # base sweep's (localCheckpointed inside the operator, rebuilt here).
    surv = base  # base output suffices for the level-32 passage set
    rounds = []
    top = 32
    while top * 2 <= 4096:
        L = top * 2
        r: dict[str, object] = {"L": L}
        t0 = time.perf_counter()
        cand = docs.filter(F.size(F.split(normalized_text("text"), r"\s+")) >= L)
        n_long = cand.limit(min_docs).count()
        r["probe_sec"] = round(time.perf_counter() - t0, 3)
        if n_long < min_docs:
            r["stopped"] = "probe"
            rounds.append(r)
            break
        t0 = time.perf_counter()
        top_pass = surv.filter(F.col("n_words") == top).select("passage")
        frontier = (
            cand.select(F.col("doc_id"), F.explode(word_ngrams("text", top)).alias("passage"))
            .join(F.broadcast(top_pass), "passage", "left_semi")
            .select("doc_id")
            .distinct()
        )
        cand = cand.join(frontier, "doc_id", "left_semi")
        ext = (
            cand.select(F.col("doc_id"), F.explode(word_ngrams("text", L)).alias("passage"))
            .groupBy("passage")
            .agg(
                F.count_distinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_occurrences"),
                F.min("doc_id").alias("first_doc_id"),
            )
            .filter(F.col("n_docs") >= min_docs)
            .withColumn("n_words", F.lit(L))
            .select("n_words", "passage", "n_docs", "n_occurrences", "first_doc_id")
            .localCheckpoint(eager=True)
        )
        n_surv = ext.count()
        r["frontier_plus_ext_sec"] = round(time.perf_counter() - t0, 3)
        r["survivors"] = n_surv
        rounds.append(r)
        if n_surv == 0:
            r["stopped"] = "empty-level"
            break
        surv = surv.unionByName(ext)
        top = L
    out["extension_rounds"] = rounds
    out["extension_sec"] = round(
        sum(
            float(r.get("probe_sec", 0)) + float(r.get("frontier_plus_ext_sec", 0))
            for r in rounds
        ),
        3,
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
