"""Cost attribution for the embedding_dedup gate query (VERDICT r8 #5:
6.5 s at sf0.1, second-largest pipeline entry) — candidate generation
vs the exact-cosine verify (two id-keyed vector-fetch joins) vs the
pointer-jumping closure vs the final anti-join.

The headline finding this tool produced: connected_components consumed
its input `pairs` in EVERY pointer-jumping round (edges re-derived from
the un-checkpointed verify plan), so embedding_dedup's most expensive
stage — the all-pairs candidate join + two vector fetches + fp64 cosine
— re-executed once per round. The fix (localCheckpoint of the
deduplicated edge set inside connected_components, which every closure
caller inherits) makes the verify run exactly once; this tool measures
the phases and the end-to-end gate before/after any such change.

Usage: python tools/profile_embedding_dedup.py [sf_dir]
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
from hdinsight_pyspark_cntk_integration_spark.functions.vector import dot, l2_norm
from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


def timed(fn):
    t0 = time.perf_counter()
    v = fn()
    return round(time.perf_counter() - t0, 3), v


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="profile-embedding-dedup", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, object] = {"sf_dir": sf_dir}

    # The gate form: first 500 vectors, exact all-pairs candidates.
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    ids = emb.select("vec_id")
    cand = (
        ids.select(F.col("vec_id").alias("id_a"))
        .join(
            F.broadcast(ids.select(F.col("vec_id").alias("id_b"))),
            F.col("id_a") < F.col("id_b"),
        )
    )
    out["candidates_sec"], out["candidates"] = timed(cand.count)

    base = emb.select("vec_id", "embedding", l2_norm("embedding").alias("__nrm"))
    a = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    cos = F.when(denom == 0.0, F.lit(0.0)).otherwise(dot("__va", "__vb") / denom)
    dup_pairs = (
        cand.join(a, "id_a").join(b, "id_b").filter(cos >= 0.4).select("id_a", "id_b")
    )
    out["verify_sec"], out["dup_pairs"] = timed(dup_pairs.count)

    # Closure on a PRE-MATERIALIZED pair set: pointer-jumping cost alone.
    frozen = dup_pairs.localCheckpoint(eager=True)
    out["components_alone_sec"], out["component_rows"] = timed(
        lambda: dd.connected_components(frozen).count()
    )

    # Closure fed the LIVE verify plan: what embedding_dedup actually
    # pays for the same answer — the delta vs (verify + components_alone)
    # is the per-round re-derivation tax (zero once connected_components
    # checkpoints its edge set).
    out["components_live_sec"], _ = timed(
        lambda: dd.connected_components(dup_pairs).count()
    )

    # End-to-end gate query (includes the final anti-join).
    import __spark_entry__ as entrymod

    out["gate_total_sec"], out["kept_rows"] = timed(
        lambda: entrymod.q_embedding_dedup(spark, sf_dir).count()
    )
    out["anti_join_residual_sec"] = round(
        out["gate_total_sec"] - out["components_live_sec"] - out["verify_sec"], 3
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
