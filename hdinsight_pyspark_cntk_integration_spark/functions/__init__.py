"""Scalar function helpers built on ``pyspark.sql.functions``.

Everything here stays JVM-side (whole-stage codegen / Catalyst
expressions) — no Python UDFs. These are the relational re-expressions of
the reference's per-record tensor math (SURVEY.md §2.2 P1-P5, §2.3 M2).
"""

from hdinsight_pyspark_cntk_integration_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_norm,
)
from hdinsight_pyspark_cntk_integration_spark.functions.textfns import (
    fingerprint_md5,
    normalized_text,
    punct_ratio,
    token_count,
    tokens,
)

__all__ = [
    "cosine_similarity",
    "dot",
    "l2_norm",
    "fingerprint_md5",
    "normalized_text",
    "punct_ratio",
    "token_count",
    "tokens",
]
