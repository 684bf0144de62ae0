"""Phase-0 smoke: every fixture table loads and counts (SURVEY.md §7)."""

from __future__ import annotations

from hdinsight_pyspark_cntk_integration_spark.sources.catalog import TABLE_NAMES, load_table

EXPECTED_MIN_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


def test_all_tables_load_and_count(spark, sf_dir):
    assert set(EXPECTED_MIN_ROWS) == set(TABLE_NAMES)
    for name in TABLE_NAMES:
        assert load_table(spark, sf_dir, name).count() >= EXPECTED_MIN_ROWS[name], name


def test_events_ts_is_timestamp(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    assert events.schema["ts"].dataType.typeName().startswith("timestamp")


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"label", "label_name", "predicted_label", "n"}
    # queries/oracle contract shape
    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 25


def test_readme_quickstart_runs(spark):
    """The README quickstart must stay executable verbatim (modulo the
    session, which the test supplies)."""
    from pyspark.sql import functions as F

    from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl
    from hdinsight_pyspark_cntk_integration_spark.operators import text as tx

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    clean = tx.quality_filter(tx.redact_pii(docs), min_tokens=5)
    keepers = dd.exact_dedup(clean).select("doc_id")
    unique = clean.join(F.broadcast(keepers), "doc_id")
    split = pl.stratified_split(unique, "lang", train_frac=0.9)
    train = split.filter(F.col("split") == "train")
    toks = train.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("tokens")
    )
    windows = pl.chunk_with_overlap(toks, size=256, stride=192)
    ordered = pl.epoch_shuffle(windows.select("doc_id").distinct(), epoch=0)
    n = ordered.count()
    assert n > 0
    assert ordered.columns == ["doc_id", "sort_key", "pos"]


def test_hashed_bow_dense_matches_long_form(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b"), (3, "")], "doc_id long, text string"
    )
    long_form = {
        (r["doc_id"], r["bucket"]): r["n"]
        for r in tx.hashed_bow(df, dim=8).collect()
    }
    dense = {r["doc_id"]: r["features"] for r in tx.hashed_bow(df, dim=8, dense=True).collect()}
    assert sum(long_form.values()) == 6  # 4 + 2 tokens; empty doc drops
    for (doc, bucket), n in long_form.items():
        assert dense[doc][bucket] == n
    for doc, feats in dense.items():
        assert len(feats) == 8
        assert sum(feats) == sum(n for (d, _), n in long_form.items() if d == doc)
