"""The engine's sinks and their read-back (single-file CSV, partitioned
parquet, JSON lines, ORC, the Z-order layout key), plus the skew-salting
join and per-group sampling."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
from hdinsight_pyspark_cntk_integration_spark.sources import io as eio
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


def test_single_csv_roundtrip(spark, tmp_path, sf_dir):
    """K1 (reference README.md:95,217): one CSV file with header,
    overwrite mode; K2: schema'd read-back."""
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    eio.write_single_csv(nation, out)
    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1  # repartition(1) => exactly one data file
    back = eio.read_csv(
        spark, out, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    assert back.count() == nation.count()
    a = {tuple(r) for r in nation.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b
    # overwrite is idempotent
    eio.write_single_csv(nation, out)
    assert len(glob.glob(f"{out}/part-*.csv")) == 1


def test_partitioned_parquet_write(spark, tmp_path, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    eio.write_parquet(docs, out, partition_by=["lang"])
    assert glob.glob(f"{out}/lang=*"), "hive-style partition dirs expected"
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # partition pruning: a lang filter should scan only one partition dir
    from plan_checks import formatted_plan

    pruned = back.filter(F.col("lang") == "en")
    assert pruned.count() == docs.filter(F.col("lang") == "en").count()
    assert "PartitionFilters: [isnotnull(lang" in formatted_plan(pruned)


def test_jsonl_roundtrip_partitioned(spark, tmp_path, sf_dir):
    """JSON-lines sink/source: gzip'd, lang-partitioned write; schema'd
    read-back preserves values; explicit-schema read prunes parsing."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    out = str(tmp_path / "docs_jsonl")
    eio.write_jsonl(docs, out, partition_by=["lang"])
    assert glob.glob(f"{out}/lang=*/*.json.gz"), "partition dirs + gzip expected"
    back = spark.read.schema("doc_id long, text string, source string, lang string").json(out)
    assert back.count() == docs.count()
    a = {tuple(sorted(r.asDict().items())) for r in docs.collect()}
    b = {tuple(sorted(r.asDict().items())) for r in back.collect()}
    assert a == b


def test_salted_join_rejects_right_and_full(spark):
    """right/full would emit unmatched right rows once per salt bucket —
    the operator refuses rather than silently duplicating."""
    import pytest

    df = spark.range(4).select(F.col("id").alias("k"))
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            rel.salted_join(df, df, "k", salt_buckets=2, how=how)


def test_salted_join_accepts_spark_aliases(spark):
    """Spark's standard alias spellings for left-preserving joins must not
    raise (left_outer/leftouter/left_semi/left_anti are all salt-safe)."""
    left = spark.createDataFrame([(1, "a"), (2, "b")], "k int, lv string")
    right = spark.createDataFrame([(1, "x")], "k int, rv string")
    assert rel.salted_join(left, right, "k", 2, how="left_outer").count() == 2
    assert rel.salted_join(left, right, "k", 2, how="leftouter").count() == 2
    assert rel.salted_join(left, right, "k", 2, how="left_semi").count() == 1
    anti = rel.salted_join(left, right, "k", 2, how="left_anti")
    assert [r["k"] for r in anti.collect()] == [2]


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plain = li.join(orders.select("o_orderkey", "o_orderstatus"),
                    li.l_orderkey == F.col("o_orderkey")).count()
    # salted variant with renamed key on both sides
    left = li.withColumnRenamed("l_orderkey", "k")
    right = orders.select(F.col("o_orderkey").alias("k"), "o_orderstatus")
    salted = rel.salted_join(left, right, "k", salt_buckets=4)
    assert salted.count() == plain


def test_orc_roundtrip_with_pushdown(spark, tmp_path, sf_dir):
    """ORC sink/source round-trip; filters reach the ORC scan the same
    way they do for parquet (PushedFilters in the formatted plan)."""
    from plan_checks import formatted_plan

    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    eio.write_orc(nation, out)
    back = spark.read.orc(out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}
    plan = formatted_plan(back.filter(F.col("n_nationkey") > 2).select("n_name"))
    assert "PushedFilters" in plan and "n_nationkey" in plan


def test_write_zordered_clusters_both_columns(spark, tmp_path, sf_dir):
    """Z-ordered write: after range-clustering on the Morton key of
    (l_partkey, l_suppkey), each output file covers a small slice of
    BOTH key ranges — the per-file min/max span must shrink vs the
    unclustered layout on both columns (that span is exactly what
    row-group skipping prunes on)."""
    import pyspark.sql.functions as SF

    from hdinsight_pyspark_cntk_integration_spark.functions.layout import zorder_key2

    # synthetic uniform 2-D points: both dims need cardinality >> file
    # count for clustering to be observable (sf0.001's l_suppkey has 10
    # distinct values — every layout spans all of them)
    li = spark.range(40_000).select(
        SF.col("id"),
        SF.pmod(SF.xxhash64("id"), SF.lit(4096)).alias("l_partkey"),
        SF.pmod(SF.xxhash64("id", SF.lit(1)), SF.lit(4096)).alias("l_suppkey"),
    )
    out = str(tmp_path / "li_z")
    (
        li.withColumn("__zkey", zorder_key2(SF.col("l_partkey"), SF.col("l_suppkey")))
        .repartitionByRange(8, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.parquet(out)
    )
    back = spark.read.parquet(out)
    assert back.count() == li.count()

    def mean_file_span(df, col):
        spans = (
            df.groupBy(SF.input_file_name().alias("f"))
            .agg((SF.max(col) - SF.min(col)).alias("span"))
            .agg(SF.avg("span"))
            .first()[0]
        )
        return spans

    # unclustered baseline: random 8-file split of the same data
    base = str(tmp_path / "li_plain")
    li.repartition(8).write.parquet(base)
    plain = spark.read.parquet(base)
    for col in ("l_partkey", "l_suppkey"):
        assert mean_file_span(back, col) < 0.8 * mean_file_span(plain, col), col


def test_sample_k_per_group_exact_and_stable(spark, sf_dir):
    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    docs = load_table(spark, sf_dir, "documents")
    s1 = pl.sample_k_per_group(docs, k=7, group_col="lang").select("doc_id", "lang")
    sizes = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in sizes.items():
        assert n == min(7, totals[lang]), lang
    # deterministic: same sample after an arbitrary repartition
    s2 = pl.sample_k_per_group(docs.repartition(13), k=7, group_col="lang").select("doc_id", "lang")
    assert {tuple(r) for r in s1.collect()} == {tuple(r) for r in s2.collect()}
    # nested-ish: the k=3 sample is a subset of the k=7 sample
    s3 = pl.sample_k_per_group(docs, k=3, group_col="lang").select("doc_id", "lang")
    assert {tuple(r) for r in s3.collect()} <= {tuple(r) for r in s1.collect()}
