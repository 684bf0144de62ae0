"""UDTF + grouped-aggregate UDF surface (SURVEY.md §2.7 additions)."""

from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.functions.udtf import (
    split_sentences,
    trimmed_mean,
)


def test_split_sentences_lateral(spark):
    spark.udtf.register("split_sentences", split_sentences())
    df = spark.createDataFrame(
        [(1, "Hello world. How are you? Fine!"), (2, ""), (3, "One sentence only")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("docs_udtf")
    out = spark.sql(
        """
        SELECT d.doc_id, s.sentence, s.n_tokens
        FROM docs_udtf d, LATERAL split_sentences(d.text) s
        ORDER BY d.doc_id, s.sentence
        """
    ).collect()
    assert [(r.doc_id, r.sentence, r.n_tokens) for r in out] == [
        (1, "Fine", 1),
        (1, "Hello world", 2),
        (1, "How are you", 3),
        (3, "One sentence only", 3),
    ]


def test_trimmed_mean_grouped(spark):
    vals = [float(i) for i in range(1, 11)] + [1000.0]  # outlier
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v double")
    got = df.groupBy("k").agg(trimmed_mean()("v").alias("tm")).collect()[0]["tm"]
    plain = df.groupBy("k").agg(F.avg("v").alias("m")).collect()[0]["m"]
    assert got < plain  # outlier trimmed away
    assert 1.0 <= got <= 11.0
