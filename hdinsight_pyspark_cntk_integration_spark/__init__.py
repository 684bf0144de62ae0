"""PySpark-native analytics + batch-ML-scoring engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference (Azure-Samples/hdinsight-pyspark-cntk-integration,
a distributed CIFAR-10 batch-inference walkthrough — see SURVEY.md), plus the
relational and LLM-data-pipeline operator surface a 100 TB training-data
pipeline needs.

Design stance (SURVEY.md §7): declare logical plans with the DataFrame/SQL
API and let Catalyst/Tungsten pick physical strategy; Arrow-vectorized
pandas UDFs only where built-in operators can't express the semantics
(model scoring, multimodal decode).

Public surface:
    session      — tuned SparkSession builder
    sources      — table catalog + IO (parquet/csv readers, sinks)
    functions    — vector/text scalar helpers built on pyspark.sql.functions
    operators    — relational, scoring, dedup, similarity, text, multimodal
"""

from hdinsight_pyspark_cntk_integration_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
