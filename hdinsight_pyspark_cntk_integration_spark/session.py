"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes its only physical knob — one RDD partition per
worker to amortize model loads (reference README.md:76,84). Here the
equivalent knobs are session-level and declarative: AQE for runtime
re-planning (partition coalescing, skew joins), Arrow for vectorized
Python interchange, and bounded Arrow batch sizes so wide array columns
(images/embeddings) don't blow executor memory (SURVEY.md §7 risks).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32]/128GiB test harness but expressed as
# ratios that hold on a real cluster: shuffle partitions ~= 2-4x cores is
# a starting point; AQE coalesces the excess at runtime, so oversizing is
# cheap while undersizing (giant partitions that spill) is not.
_DEFAULTS = {
    # Local-mode driver heap: Spark's 1g launch default is marginal for a
    # 32-thread local JVM — broadcast builds near the 64 MB threshold and
    # 10x-fixture explodes OOM it intermittently (measured round 11:
    # bench run died in notEnoughMemoryToBuildAndBroadcastTableError;
    # SCALING.md finding #3). Only effective when this process launches
    # the JVM (local mode — exactly where it's needed); on a real
    # cluster the externally configured session wins. Override via
    # extra_conf or SPARK_GRAFT_DRIVER_MEM.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, convert to broadcast joins when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow interchange for pandas UDFs / mapInPandas / toPandas — the
    # vectorized replacement for the reference's pickled-tuple boundary
    # (SURVEY.md §3 E1).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound batch width for scoring over wide ArrayType columns: 3072-float
    # images at 10k rows/batch ≈ 120 MB/batch/task — keep it smaller.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Broadcast generously: dimension tables in this schema are tiny and a
    # broadcast join removes a full shuffle of the fact table.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Respect parquet row-group boundaries but keep tasks big enough that
    # per-task overhead doesn't dominate at small SF.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as raw int64 ns and convert in the catalog
    # (sources.catalog normalizes to microsecond timestamps).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture timestamps lack the isAdjustedToUTC annotation; keep the
    # classic LTZ inference (not NTZ) so epoch functions apply directly
    # (sources.catalog also pins this at read time for foreign sessions).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Hold every generated class the engine compiles. Spark caches
    # compiled whole-stage and expression code in an LRU of 100 entries by
    # default, but one bench headline pass cycles through about 140, and
    # an LRU smaller than a cyclic working set misses on every access: at
    # 100, each steady pass recompiles the same code with Janino and
    # JIT-compiles it again. Measured on 4 vCPUs (SPARK_GRAFT_CPUS=4,
    # sf0.1, median of 4 steady passes): at 100 entries, 135 compilations
    # and 21.6 s of JVM CPU per pass, 5.5 s of it in C2 and 1.2 s in C1;
    # at 200, 400 or 2000 entries, 0 compilations and 13.2-13.4 s (C2
    # 2.2 s, C1 0.83 s, executor task threads 8.2 -> 6.4 s). A first sweep
    # of all 424 registry queries (sf0.001) compiles about 5,100 classes,
    # so 8192 holds the whole working set; after that sweep metaspace
    # grows by about 40 MB (190 -> 230 MB) and heap used after GC by
    # 90-175 MB, against the 16 GB driver heap. A hit returns the class
    # the same code string compiled to, so results do not change. The
    # conf is static: it applies only when get_spark() creates the
    # session (an existing session keeps its cache), and on a cluster it
    # belongs in spark-defaults.conf.
    "spark.sql.codegen.cache.maxEntries": "8192",
}


def get_spark(
    app_name: str = "hdinsight-pyspark-cntk-integration-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and bench share one code path; on a real
    cluster, pass ``master=None`` with an externally configured session
    or set the master explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)

    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    return spark
