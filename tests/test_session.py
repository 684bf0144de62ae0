"""Session defaults that the engine's speed depends on.

Spark caches compiled whole-stage and expression code in an LRU keyed by
the generated source. At Spark's default of 100 entries a headline pass,
which cycles through about 140 classes, misses on every access, so each
repeat pass recompiles the same code (136 Janino compilations per pass in
the test session) and JIT-compiles it again.
"""

from __future__ import annotations

import bench
import __spark_entry__ as entrymod

from hdinsight_pyspark_cntk_integration_spark.session import _DEFAULTS

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _headline_pass(spark, sf_dir) -> None:
    queries = entrymod.queries()
    for name in bench.HEADLINE:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_codegen_cache_is_sized_from_defaults(spark):
    assert spark.conf.get(CACHE_CONF) == _DEFAULTS[CACHE_CONF]


def test_repeat_headline_pass_compiles_nothing(spark, sf_dir):
    _headline_pass(spark, sf_dir)
    before = _compilations(spark)
    _headline_pass(spark, sf_dir)
    assert _compilations(spark) - before == 0
