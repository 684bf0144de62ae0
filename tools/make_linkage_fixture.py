"""Build the record-linkage scale fixture: FACTOR x customer rows
derived from a base SF dir (offset custkeys; nation/segment/balance
distributions preserved with a deterministic balance jitter so copies
are distinct records, the way a real registry grows), every other
table symlinked. Separate from tools/make_scale_fixture.py on purpose:
the main x10 fixture keeps dimensions at 1x (the realistic warehouse
shape for the relational rehearsal), while LINKAGE scaling is exactly
about the entity table itself growing.

Usage: python tools/make_linkage_fixture.py [BASE_SF_DIR] [OUT_DIR] [FACTOR]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark import get_spark
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

_ID_OFFSET = 10_000_000


def build(base: str, out: str, factor: int) -> None:
    spark = get_spark(app_name="linkage-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)

    cust = load_table(spark, base, "customer")
    parts = []
    for k in range(factor):
        if k == 0:
            parts.append(cust)
            continue
        jitter = (
            F.pmod(
                F.pmod(F.col("c_custkey") * (k + 3), F.lit(1_000_003))
                * F.lit(2654435761),
                F.lit(1_000_003),
            )
            % 200
            - 100
        ) / 100.0
        parts.append(
            cust.select(
                (F.col("c_custkey") + F.lit(k * _ID_OFFSET)).alias("c_custkey"),
                "c_name",
                "c_nationkey",
                (F.col("c_acctbal") + jitter).alias("c_acctbal"),
                "c_mktsegment",
            )
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(8).write.mode("overwrite").parquet(
        os.path.join(out, "customer.parquet")
    )
    for name in [
        "region", "nation", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings",
    ]:
        src = os.path.join(base, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)
    n = spark.read.parquet(os.path.join(out, "customer.parquet")).count()
    print(f"fixture at {out}: customers={n} (factor {factor})")


if __name__ == "__main__":
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "fixtures", "x10cust")
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    build(base, out, factor)
