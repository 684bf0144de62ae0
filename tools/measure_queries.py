"""Per-query measurement (guide §1) on bench.py's own method: its
warm-up, then per query one unmeasured warm run and 3 timed noop-sink
runs (``bench.timed_runs``), the last of them traced through
``bench.Readout``, plus the formatted physical plan.

Usage:
  python tools/measure_queries.py q1 q2 ...            # time + work + plan
  python tools/measure_queries.py --time-only q1       # no plan capture
  python tools/measure_queries.py --plans-dir plans/r14 --suffix before q1
  python tools/measure_queries.py --plans-dir OUT --suffix S --plans-only q1 q2
      # writes OUT/<query>_<S>.txt for each query and runs nothing

Prints one line per query:
  <name>  <median>s  [samples]  compiles=N  exchanges=N py_nodes=N plan_lines=N
  construct.jobs=N construct.tasks=N construct.wall_s=S
  execute.jobs=N execute.stages=N execute.tasks=N execute.cpu_s=S
  execute.run_s=S execute.shuffle_write_mb=M sources.input_mb=M

compiles is the number of Janino compilations during the 3 timed runs
(Spark's CodegenMetrics). The warm run already compiled the query's code,
so a non-zero count marks a query whose generated code is not
cache-stable on its own. The usual cause is an AQE-replanned stage: its
code repeats from run to run, but the generated class name carries the
whole-stage codegen stage id (spark.sql.codegen.useIdInClassName, on by
default), AQE assigns that id as it re-plans, and so the cache key
changes.

The construct.*, execute.* and sources.* fields come from Spark's status
store for the last timed run. execute.* and sources.input_mb cover the
whole run: building the frame and its noop write. construct.* is the
build's share of jobs, tasks and wall time (eager checkpoints, counts and
collects the build triggers); execute.jobs minus construct.jobs is the
write's. Executor CPU, run time and shuffle bytes are properties of the
plan's work, so they hold under host CPU steal where wall time does not.
perfbench/layers.py counts no CPU, stages or shuffle per operation, so
the build's share of those is not reported.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import bench  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from hdinsight_pyspark_cntk_integration_spark import get_spark  # noqa: E402

WORK_FIELDS = (
    "construct.jobs",
    "construct.tasks",
    "construct.wall_s",
    "execute.jobs",
    "execute.stages",
    "execute.tasks",
    "execute.cpu_s",
    "execute.run_s",
    "execute.shuffle_write_mb",
    "sources.input_mb",
)
PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("names", nargs="+", help="registry query names")
    ap.add_argument("--plans-dir", help="write each plan to PLANS_DIR/<query>_<suffix>.txt")
    ap.add_argument("--suffix", default="before", help="plan file suffix (default: before)")
    ap.add_argument("--time-only", action="store_true", help="skip plan capture")
    ap.add_argument("--plans-only", action="store_true", help="capture plans, run nothing")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="measure-queries")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    bench.warm_up(spark)
    readout = bench.Readout(spark)

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def _compilations() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    for name in args.names:
        fn = queries[name]
        extra = ""
        if not args.time_only:
            df = fn(spark, sf_dir)
            # the text df.explain("formatted") prints, without capturing stdout
            plan_txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            if args.plans_dir:
                os.makedirs(args.plans_dir, exist_ok=True)
                with open(os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                    f.write(plan_txt)
            py_nodes = sum(plan_txt.count(node) for node in PY_NODES)
            extra = (
                f"  exchanges={plan_txt.count('- Exchange')} py_nodes={py_nodes}"
                f" plan_lines={len(plan_txt.splitlines())}"
            )
        if args.plans_only:
            print(f"{name}  (plan captured){extra}", flush=True)
            continue

        def make():
            return fn(spark, sf_dir)

        bench.noop_run(make)  # warm
        compiled = _compilations()
        samples = bench.timed_runs(make, readout, warm=False)
        compiles = _compilations() - compiled
        work = readout.read()
        fields = " ".join(
            f"{k}={work[k]:.3f}" if k.endswith(("_s", "_mb")) else f"{k}={int(work[k])}"
            for k in WORK_FIELDS
        )
        print(
            f"{name}  {sorted(samples)[1]:.3f}s  [{', '.join(f'{s:.3f}' for s in samples)}]"
            f"  compiles={compiles}{extra}  {fields}",
            flush=True,
        )

    spark.stop()


if __name__ == "__main__":
    main()
