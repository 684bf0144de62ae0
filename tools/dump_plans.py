"""Dump formatted physical plans for the PLAN_QUERIES list to PLANS.md —
committed evidence of plan quality (pushed filters, pruned schemas,
broadcast joins, whole-stage codegen spans) so a reviewer can audit the
100 TB story without re-running Spark.

Usage: python tools/dump_plans.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from hdinsight_pyspark_cntk_integration_spark import get_spark

PLAN_QUERIES = [
    "pricing_summary",
    "top_revenue_orders",
    "region_revenue",
    "window_topn",
    "asof_join",
    "dedup_exact",
    "similarity_topk",
    "score_confusion",
    "decontaminate_bloom",
    "differential_join",
    "interval_overlap",
    "sliding_distinct",
    "skyline_parts",
    "gopher_rules",
    "contamination_overlap",
    "assoc_rules",
    "rfm_segments",
    "kmv_intersect",
    "sentence_dedup",
    "dsir_weights",
    "random_projection",
    "communities_trade",
    "mutual_information",
    "theil_sen",
    "weighted_reservoir",
    "funnel_steps",
    "zipf_slope",
    "pmi_cooccur",
    "burstiness",
    "markov_transitions",
    "kneser_ney",
    "autocorrelation",
    "target_encode",
    "adamic_adar",
    "dictionary_tag",
    "sparse_cosine",
    "harmonic_centrality",
    "heaps_law",
    # round-9 additions with plan stories worth auditing: the no-global-
    # window NTILE (lorenz), the broadcast-edge-array PSI binning, the
    # catalog-rank negative sampler, the cell-aggregate quantiles, and
    # the all-pairs knn vote
    "lorenz_customers",
    "psi_drift",
    "negative_samples",
    "exact_quantiles",
    "knn_label_noise",
    "bootstrap_mean",
]


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    spark = get_spark()
    queries = entrymod.queries()
    lines = [
        "# Physical plans (plan-audit queries)",
        "",
        f"`df.explain('formatted')` output at `{sf}`, regenerate with",
        "`python tools/dump_plans.py`. What to look for: `PushedFilters`",
        "and narrow `ReadSchema` on every scan (pushdown + pruning),",
        "`BroadcastHashJoin` on dim sides, wide `WholeStageCodegen`",
        "spans, and no `CartesianProduct` / corpus-sized global sorts",
        "anywhere (enforced registry-wide by `lint_plan` in",
        "`tests/plan_checks.py`, run over every query by `tests/test_plans.py`).",
        "",
    ]
    for name in PLAN_QUERIES:
        df = queries[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        lines.append(f"## {name}")
        lines.append("")
        lines.append("```")
        lines.append(plan.strip())
        lines.append("```")
        lines.append("")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out} ({len(PLAN_QUERIES)} plans)")


if __name__ == "__main__":
    main()
