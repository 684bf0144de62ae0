"""Isolated per-query measurement (guide §1): median-of-3 noop-sink
timing plus .explain("formatted") capture, mirroring bench.py's
methodology exactly (one unmeasured warm run, then 3 timed runs).

Usage:
  python tools/measure_queries.py q1 q2 ...            # time + plan
  python tools/measure_queries.py --plans-dir plans/r14 --suffix before q1
  python tools/measure_queries.py --time-only q1

Prints one line per query:  <name>  <median>s  [samples]  compiles=N  exchanges=N

compiles is the number of Janino compilations during the 3 timed runs
(Spark's CodegenMetrics). The warm run already compiled the query's code,
so a non-zero count marks a query whose generated code is not
cache-stable on its own. The usual cause is an AQE-replanned stage: its
code repeats from run to run, but the generated class name carries the
whole-stage codegen stage id (spark.sql.codegen.useIdInClassName, on by
default), AQE assigns that id as it re-plans, and so the cache key
changes.
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import __spark_entry__ as entrymod  # noqa: E402
from hdinsight_pyspark_cntk_integration_spark import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "before"
    time_only = False
    plans_only = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--plans-dir":
            plans_dir = args[i + 1]
            i += 2
        elif a == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif a == "--time-only":
            time_only = True
            i += 1
        elif a == "--plans-only":
            plans_only = True
            i += 1
        else:
            names.append(a)
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="measure-queries")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # Same warmup as bench.py: JVM codegen + Python worker pool.
    spark.range(1000).selectExpr("sum(id)").collect()
    par = spark.sparkContext.defaultParallelism

    def _noop(batches):
        yield from batches

    spark.range(par).repartition(par).mapInPandas(_noop, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def _compilations() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"measure:{name}")
        df = fn(spark, sf_dir)
        plan_txt = ""
        if not time_only:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan_txt = buf.getvalue()
            if plans_dir:
                os.makedirs(plans_dir, exist_ok=True)
                with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                    f.write(plan_txt)
        exchanges = plan_txt.count("- Exchange")
        py_nodes = (
            plan_txt.count("BatchEvalPython")
            + plan_txt.count("ArrowEvalPython")
            + plan_txt.count("MapInArrow")
            + plan_txt.count("MapInPandas")
            + plan_txt.count("FlatMapGroupsInPandas")
        )
        extra = "" if time_only else f"  exchanges={exchanges} py_nodes={py_nodes} plan_lines={len(plan_txt.splitlines())}"
        if plans_only:
            print(f"{name}  (plan captured){extra}", flush=True)
            spark.sparkContext.setJobDescription(None)
            continue
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        samples = []
        compiled = _compilations()
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        compiles = _compilations() - compiled
        med = sorted(samples)[1]
        print(
            f"{name}  {med:.3f}s  [{', '.join(f'{s:.3f}' for s in samples)}]"
            f"  compiles={compiles}{extra}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    spark.stop()


if __name__ == "__main__":
    main()
