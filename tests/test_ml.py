"""MLlib integration: distributed training + scoring, KMeans-IVF,
MinHashLSH cross-check of the native dedup implementation."""

from __future__ import annotations

import numpy as np
import pytest

from hdinsight_pyspark_cntk_integration_spark import ml as eml
from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
from hdinsight_pyspark_cntk_integration_spark.operators import similarity as sim
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def separable_df(spark):
    """Linearly separable 2-class data: training must reach ~100%."""
    rng = np.random.default_rng(5)
    n = 400
    x = rng.normal(0, 1, size=(n, 8))
    y = (x[:, 0] + 0.5 * x[:, 1] > 0).astype(int)
    x[:, 0] += np.where(y == 1, 2.0, -2.0)  # widen the margin
    rows = [(int(i), x[i].astype(float).tolist(), int(y[i])) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_train_and_score_distributed(spark, separable_df):
    model = eml.fit_classifier(separable_df)
    scored = eml.score_with_model(model, separable_df)
    acc = rel.accuracy(scored, "label", "predicted_label").collect()[0]
    assert acc["num_total"] == 400
    assert acc["num_correct"] / acc["num_total"] >= 0.98


def test_kmeans_ivf_improves_over_grid(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = eml.kmeans_centroids(emb, k=8)
    assert centroids.count() == 8
    queries = sim.self_queries(emb, [0])
    out = sim.ivf_topk(emb, queries, centroids, k=10, nprobe=3).toPandas()
    assert len(out) == 10
    # exact brute-force for recall measurement
    exact = sim.cosine_topk(emb, queries, k=10).toPandas()
    recall = len(set(out["vec_id"]) & set(exact["vec_id"])) / 10
    assert recall >= 0.4


def test_ml_minhash_agrees_with_native(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "a completely different document about spark query engines and shuffles"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (5, "unrelated text mentioning embeddings vectors and cosine similarity search"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ml_pairs = {
        (r["id_a"], r["id_b"])
        for r in eml.ml_minhash_candidates(docs, jaccard_distance_threshold=0.6).collect()
    }
    native_sh = dd.hashed_shingle_table(docs)
    native_cands = dd.minhash_lsh_candidates(native_sh, num_hashes=64, bands=16)
    native_pairs = {
        (r["id_a"], r["id_b"])
        for r in dd.jaccard_pairs(native_sh, native_cands, threshold=0.4).collect()
    }
    assert (1, 3) in ml_pairs and (1, 3) in native_pairs
    # both find the near-dup chain around 1/3/4, neither drags in 2 or 5
    for pairs in (ml_pairs, native_pairs):
        assert all(a not in (2, 5) and b not in (2, 5) for a, b in pairs)
