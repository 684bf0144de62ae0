"""Build the scale-rehearsal fixture (VERDICT r10 order #5): FACTOR x
documents/embeddings derived from a base SF dir — statistically similar
but CONTENT-DISJOINT copies, so banded dedup/ANN paths see FACTOR x the
data with the same per-bucket distribution (10 exact copies would
instead plant FACTOR-way duplicate clusters and measure an adversarial
skew case, not throughput scaling).

- documents: copy k>0 offsets doc_id by k*10_000_000 and suffixes every
  whitespace token with "q{k}" — each copy's vocabulary is disjoint, so
  no cross-copy shingle/sentence/minhash collisions; within-copy
  structure is identical to the base corpus.
- embeddings: copy k>0 offsets vec_id and adds deterministic xxhash64
  noise (about +/-0.1 per component) so vectors are distinct but
  identically distributed; labels unchanged.
- every other table is symlinked from the base dir so registry gate
  queries (which load dims) still run against the fixture dir.

Usage: python tools/make_scale_fixture.py [BASE_SF_DIR] [OUT_DIR] [FACTOR]
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


def build_events(spark, base: str, out: str, factor: int) -> None:
    dst = os.path.join(out, "events.parquet")
    if os.path.islink(dst):
        os.remove(dst)
    ev = load_table(spark, base, "events")
    parts = []
    for k in range(factor):
        off = F.lit(k * _ID_OFFSET)
        parts.append(
            ev.withColumn("event_id", F.col("event_id") + off)
            .withColumn("user_id", F.col("user_id") + off)
            if k
            else ev
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(16).write.mode("overwrite").parquet(dst)


def build(base: str, out: str, factor: int) -> None:
    spark = get_spark(app_name="scale-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)

    docs = load_table(spark, base, "documents")
    doc_parts = []
    for k in range(factor):
        if k == 0:
            doc_parts.append(docs)
            continue
        text_k = F.array_join(
            F.transform(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda t: F.concat(t, F.lit(f"q{k}")),
            ),
            " ",
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * _ID_OFFSET)).alias("doc_id"),
                text_k.alias("text"),
                "lang",
                "source",
                F.length(text_k).alias("n_chars"),
            )
        )
    big_docs = doc_parts[0]
    for p in doc_parts[1:]:
        big_docs = big_docs.unionByName(p)
    big_docs.repartition(16).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )

    emb = load_table(spark, base, "embeddings")
    emb_parts = []
    for k in range(factor):
        if k == 0:
            emb_parts.append(emb)
            continue
        noisy = F.transform(
            F.col("embedding"),
            lambda x, i: (
                x.cast("double")
                + (
                    F.pmod(F.xxhash64(F.col("vec_id"), F.lit(k), i), F.lit(1001))
                    - F.lit(500)
                ).cast("double")
                / F.lit(5000.0)
            ).cast("float"),
        )
        emb_parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * _ID_OFFSET)).alias("vec_id"),
                noisy.alias("embedding"),
                "label",
            )
        )
    big_emb = emb_parts[0]
    for p in emb_parts[1:]:
        big_emb = big_emb.unionByName(p)
    big_emb.repartition(16).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )

    # relational fact tables: copy k>0 offsets the ORDER KEY on both
    # sides consistently (join integrity preserved); dimension foreign
    # keys stay, so each customer/part/supplier simply carries factor x
    # the business — the realistic way a fact table grows.
    # a prior fixture build symlinked these into the (read-only) base
    # dir — remove the links BEFORE Spark's overwrite can follow them
    for name in ["orders", "lineitem"]:
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.islink(dst):
            os.remove(dst)

    orders = load_table(spark, base, "orders")
    li = load_table(spark, base, "lineitem")
    o_parts, l_parts = [], []
    for k in range(factor):
        off = F.lit(k * _ID_OFFSET)
        o_parts.append(
            orders.withColumn("o_orderkey", (F.col("o_orderkey") + off).alias("o_orderkey"))
            if k
            else orders
        )
        l_parts.append(
            li.withColumn("l_orderkey", (F.col("l_orderkey") + off).alias("l_orderkey"))
            if k
            else li
        )
    big_o, big_l = o_parts[0], l_parts[0]
    for p in o_parts[1:]:
        big_o = big_o.unionByName(p)
    for p in l_parts[1:]:
        big_l = big_l.unionByName(p)
    big_o.repartition(16).write.mode("overwrite").parquet(
        os.path.join(out, "orders.parquet")
    )
    big_l.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "lineitem.parquet")
    )

    # events: copy k>0 offsets BOTH event_id and user_id — disjoint
    # users, so the per-series window operators (sessionize, cusum,
    # page_hinkley) see factor x the series at the same per-series
    # length: the realistic way an event stream grows.
    build_events(spark, base, out, factor)

    for name in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
    ]:
        src = os.path.join(base, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)

    n_docs = spark.read.parquet(os.path.join(out, "documents.parquet")).count()
    n_emb = spark.read.parquet(os.path.join(out, "embeddings.parquet")).count()
    print(f"fixture at {out}: documents={n_docs} embeddings={n_emb} (factor {factor})")


if __name__ == "__main__":
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "fixtures", "x10")
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    build(base, out, factor)
