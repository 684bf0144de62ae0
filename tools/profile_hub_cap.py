"""Cost profile for the wedge-family hub cap (VERDICT r8 #4): quantify
how ``max_degree`` bends the Σ deg(z)·(deg(z)-1)/2 wedge-enumeration
curve in graph.jaccard_neighbors / graph.adamic_adar on a skewed graph.

The wedge self-join on the apex z is the inherent common-neighbor cost:
every apex of degree d contributes d·(d-1)/2 candidate pairs, so a
power-law hub dominates the whole job (deg 8000 ⇒ 32M pairs from ONE
node). ``max_degree`` drops hub APEXES only — true degrees still feed
the Jaccard denominator — a lossy-but-standard cut (hub-mediated
co-occurrence carries almost no similarity signal; cf. PPJoin-style
prefix pruning and the standard log-degree damping in Adamic-Adar).

Two measurements:

  1. Synthetic Zipf graph (deterministic, no RNG): hub z in [1, H] gets
     degree ~C/z via explode(sequence), spokes spread by xxhash64. For
     each cap: exact kept-wedge count (a cheap degree aggregate — the
     curve's x-axis), output rows, and wall time of the full
     jaccard_neighbors run (median of 3).

  2. The sf0.1 gate graphs, attributed: the jaccard_neighbors gate
     (strong nation trade graph) is 25 nodes — its sf0.1 cost is edge
     DERIVATION (the lineitem⋈orders⋈customer⋈supplier rollup), not
     wedges; the profile times the edge rollup alone vs the full query
     to show the wedge stage is noise there, and reports the supply
     bipartite graph (assortativity's) degree histogram for context.

Usage: python tools/profile_hub_cap.py [sf_dir]
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
from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr


def synthetic_zipf_edges(spark, C: int = 8000, H: int = 2000, M: int = 500_000):
    """Deterministic power-law-ish bipartite-flavored graph: hub z in
    [1, H] with ~C/z spokes; spoke ids spread over [H+1, H+M] by
    xxhash64 so spoke degrees stay small. No randomness — same graph
    every run."""
    hubs = spark.range(1, H + 1).select(F.col("id").alias("z"))
    return hubs.select(
        "z",
        F.explode(F.sequence(F.lit(1), (F.lit(C) / F.col("z")).cast("long"))).alias(
            "j"
        ),
    ).select(
        F.col("z").alias("src"),
        (
            F.lit(H)
            + 1
            + F.pmod(F.xxhash64(F.col("z") * 1_000_003 + F.col("j")), F.lit(M))
        ).alias("dst"),
    )


def kept_wedges(edges, max_degree: int | None) -> int:
    """Exact wedge-pair count the apex join will enumerate under the
    cap: Σ over kept apexes of deg·(deg-1)/2, from one degree agg."""
    lo, hi = F.least("src", "dst"), F.greatest("src", "dst")
    e = (
        edges.select(lo.alias("a"), hi.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = e.select(F.col("a").alias("z")).unionByName(
        e.select(F.col("b").alias("z"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("d")).filter(F.col("d") >= 2)
    if max_degree is not None:
        deg = deg.filter(F.col("d") <= max_degree)
    row = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("w")
    ).collect()[0]
    return int(row["w"] or 0)


def median3(fn) -> tuple[float, int]:
    rows = fn()  # warm (also returns the row count)
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        rows = fn()
        samples.append(time.perf_counter() - t0)
    return round(sorted(samples)[1], 3), rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # The UNCAPPED arm at C=8000 OOMs a default-heap (1g) driver JVM —
    # hub 1 alone emits deg²/2 = 32M wedge pairs into one task. That
    # crash is the cap's raison d'être, but the profile has to finish
    # to draw the curve, so this tool runs with an 8g heap and C=6000.
    spark = get_spark(
        app_name="profile-hub-cap",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, object] = {"sf_dir": sf_dir}

    edges = synthetic_zipf_edges(spark, C=6000).localCheckpoint(eager=True)
    out["synthetic_edges"] = edges.count()
    curve = []
    for cap in (None, 512, 128, 32):
        wedges = kept_wedges(edges, cap)
        sec, rows = median3(
            lambda c=cap: gr.jaccard_neighbors(edges, max_degree=c).count()
        )
        curve.append(
            {"max_degree": cap, "wedge_pairs": wedges, "rows": rows, "sec": sec}
        )
    out["synthetic_curve"] = curve

    # sf0.1 attribution: the trade-graph gate's cost is edge derivation,
    # not wedges (25 nodes). Time the rollup alone vs the full query.
    import __spark_entry__ as entrymod

    t0 = time.perf_counter()
    trade_edges = entrymod._strong_trade_edges(spark, sf_dir)
    n_trade = trade_edges.count()
    out["trade_edge_derivation_sec"] = round(time.perf_counter() - t0, 3)
    out["trade_edges"] = n_trade
    t0 = time.perf_counter()
    out["trade_jaccard_rows"] = entrymod.q_jaccard_neighbors(spark, sf_dir).count()
    out["trade_jaccard_total_sec"] = round(time.perf_counter() - t0, 3)

    # supply bipartite graph (assortativity's): degree histogram tail —
    # is there a hub the cap would ever need to cut at this scale?
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        (-F.col("l_suppkey") - 1).alias("src"), F.col("l_partkey").alias("dst")
    ).distinct()
    adj = e.select(F.col("src").alias("z")).unionByName(e.select(F.col("dst").alias("z")))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    stats = deg.agg(
        F.max("d").alias("max_deg"),
        F.expr("percentile_approx(d, 0.999)").alias("p999"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("wedge_pairs"),
        F.count(F.lit(1)).alias("nodes"),
    ).collect()[0]
    out["supply_graph"] = {
        "nodes": stats["nodes"],
        "max_deg": stats["max_deg"],
        "p999_deg": int(stats["p999"]),
        "wedge_pairs": stats["wedge_pairs"],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
