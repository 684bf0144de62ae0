"""Training-data pipeline operators: splits, mixture sampling, packing,
BPE-ish token counts (operators.pipeline)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

N = 10_000


@pytest.fixture(scope="module")
def ids_df(spark):
    return spark.range(N).select(F.col("id").alias("doc_id"))


def test_split_assign_proportions_and_determinism(spark, ids_df):
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = pl.split_assign(ids_df, weights).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    for name, w in weights.items():
        assert abs(counts[name] / N - w) < 0.02  # xxhash64 mixes well
    # determinism: identical assignment on re-run and after repartition
    a = pl.split_assign(ids_df, weights).collect()
    b = pl.split_assign(ids_df.repartition(13), weights).collect()
    assert {(r["doc_id"], r["split"]) for r in a} == {
        (r["doc_id"], r["split"]) for r in b
    }


def test_split_assign_rejects_bad_weights(ids_df):
    with pytest.raises(ValueError, match="sum to 1"):
        pl.split_assign(ids_df, {"train": 0.5, "test": 0.4})


def test_mixture_sample_fractions_and_nesting(spark):
    df = spark.range(N).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    kept = pl.mixture_sample(df, {"src0": 1.0, "src1": 0.25})
    counts = {
        r["source"]: r["count"] for r in kept.groupBy("source").count().collect()
    }
    assert counts["src0"] == N // 2  # fraction 1.0 keeps everything
    assert abs(counts["src1"] / (N // 2) - 0.25) < 0.03
    # nesting: the 10% sample is a subset of the 25% sample
    small = pl.mixture_sample(df, {"src0": 0.0, "src1": 0.10})
    small_ids = {r["doc_id"] for r in small.select("doc_id").collect()}
    big_ids = {
        r["doc_id"]
        for r in kept.filter(F.col("source") == "src1").select("doc_id").collect()
    }
    assert small_ids <= big_ids
    # unlisted group default drops
    none_kept = pl.mixture_sample(df, {"src0": 0.5})
    assert none_kept.filter(F.col("source") == "src1").count() == 0


def test_pack_chunks_invariants(spark):
    rows = [(i, (i * 7) % 23) for i in range(200)]  # varied token counts, some 0
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = pl.pack_chunks(df, budget=16, n_shards=4).collect()
    assert len(packed) == 200  # every doc placed exactly once
    by_id = {r["doc_id"]: r for r in packed}
    # recompute expected spans locally per shard
    for shard in range(4):
        docs = sorted((i, t) for i, t in rows if i % 4 == shard)
        cum = 0
        for i, t in docs:
            start, end = cum, cum + t
            cum = end
            r = by_id[i]
            assert r["shard"] == shard
            assert r["first_block"] == start // 16
            assert r["last_block"] == (start if t == 0 else end - 1) // 16
            assert r["offset_in_block"] == start % 16
            # a doc never spans more blocks than its tokens require
            assert r["last_block"] - r["first_block"] <= t // 16 + 1


def test_pack_chunks_global_disjoint_block_ranges(spark):
    """Global ids from the distributed prefix-sum must give every shard a
    disjoint block range, preserve shard-local geometry, and stay dense
    (offsets = running sum of per-shard block counts)."""
    rows = [(i, (i * 11) % 37) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pl.pack_chunks_global(df, budget=32, n_shards=4).collect()
    assert len(out) == 120
    local = {r["doc_id"]: r for r in pl.pack_chunks(df, 32, 4).collect()}
    # expected offsets: floor(shard_total/32)+1 blocks per shard, cumulative
    totals = [sum(t for i, t in rows if i % 4 == s) for s in range(4)]
    blocks = [t // 32 + 1 for t in totals]
    offsets = [sum(blocks[:s]) for s in range(4)]
    for r in out:
        lr = local[r["doc_id"]]
        off = offsets[r["shard"]]
        assert r["global_first_block"] == lr["first_block"] + off
        assert r["global_last_block"] == lr["last_block"] + off
        assert r["offset_in_block"] == lr["offset_in_block"]
        # inside the shard's reserved range
        assert off <= r["global_first_block"] < off + blocks[r["shard"]]
        assert off <= r["global_last_block"] < off + blocks[r["shard"]]


def test_pack_chunks_single_shuffle(spark):
    from plan_checks import count_shuffles

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 9).alias("n_tokens")
    )
    assert count_shuffles(pl.pack_chunks(df, budget=8, n_shards=4)) == 1


def test_bpe_token_count_matches_python_re(spark):
    texts = [
        (1, "Hello, world! 42 times"),
        (2, "tabs\tand\nnewlines  here"),
        (3, ""),
        (4, None),
        (5, "...!!!??? 2026 mixedCASE"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in pl.bpe_token_count(df).collect()}
    for i, t in texts:
        if t is None:
            assert got[i] is None
        else:
            assert got[i] == len(re.findall(pl.BPE_PRETOKEN_PATTERN, t)), t


def test_decontaminate_drops_planted_overlap(spark):
    """A train doc sharing a trigram with the eval set is flagged and
    dropped; unrelated docs survive; the eval probe is broadcast."""
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text about spark shuffles here"),
            (3, "we saw the quick brown fox yesterday evening"),  # shares trigram
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "a story of the quick brown fox")], "doc_id long, text string"
    )
    hits = {r["doc_id"]: r["n_hits"] for r in pl.contamination_hits(train, eval_df).collect()}
    assert 1 in hits and 3 in hits and 2 not in hits
    clean = {r["doc_id"] for r in pl.decontaminate(train, eval_df).collect()}
    assert clean == {2}
    # both share exactly "the quick brown" + "quick brown fox"
    assert hits[1] == hits[3] == 2
    # min_hits above the overlap keeps everything
    lenient = {
        r["doc_id"] for r in pl.decontaminate(train, eval_df, min_hits=3).collect()
    }
    assert lenient == {1, 2, 3}
    from plan_checks import has_broadcast_join

    assert has_broadcast_join(pl.contamination_hits(train, eval_df))


def test_hash_bucket_methods_disagree_but_both_mix(spark, ids_df):
    """knuth is the cross-engine oracle mixer; both must spread buckets."""
    both = ids_df.select(
        pl.hash_bucket("doc_id", "xxhash64").alias("hx"),
        pl.hash_bucket("doc_id", "knuth").alias("hk"),
    )
    row = both.agg(
        F.countDistinct("hx").alias("dx"), F.countDistinct("hk").alias("dk")
    ).collect()[0]
    assert row["dx"] > N * 0.98
    assert row["dk"] > N * 0.98
    with pytest.raises(ValueError, match="unknown hash method"):
        pl.hash_bucket("doc_id", "md5")


def test_weighted_sample_properties(spark):
    from pyspark.sql import functions as F

    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    # weight 1 keeps everything, weight 0 drops everything
    assert pl.weighted_sample(df, F.lit(1.0)).count() == 2000
    assert pl.weighted_sample(df, F.lit(0.0)).count() == 0
    # approximate rate for a constant mid weight
    n_half = pl.weighted_sample(df, F.lit(0.5)).count()
    assert 800 < n_half < 1200
    # monotone nesting: the 0.3 sample is a subset of the 0.7 sample
    s3 = {r["doc_id"] for r in pl.weighted_sample(df, F.lit(0.3)).collect()}
    s7 = {r["doc_id"] for r in pl.weighted_sample(df, F.lit(0.7)).collect()}
    assert s3 <= s7
    # null weights drop
    dfw = df.withColumn("w", F.when(F.col("doc_id") < 100, None).otherwise(F.lit(1.0)))
    assert pl.weighted_sample(dfw, "w").count() == 1900


def test_stratified_split_exact_proportions(spark):
    rows = [(i, "big" if i < 10 else "tiny") for i in range(13)]  # strata 10 + 3
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = pl.stratified_split(df, "stratum", train_frac=0.8).toPandas()
    counts = out.groupby(["stratum", "split"]).size().to_dict()
    assert counts[("big", "train")] == 8 and counts[("big", "test")] == 2
    # ceil(0.8 * 3) = 3: a tiny stratum still gets its proportional share,
    # rounded up, instead of a Bernoulli draw that might take 0 or 3.
    assert counts.get(("tiny", "train"), 0) == 3
    # deterministic across reruns
    again = pl.stratified_split(df, "stratum", train_frac=0.8).toPandas()
    assert sorted(map(tuple, out.values.tolist())) == sorted(map(tuple, again.values.tolist()))


def test_stratified_split_validates_frac(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, stratum string")
    with pytest.raises(ValueError, match="train_frac"):
        pl.stratified_split(df, "stratum", train_frac=1.0)


def test_chunk_with_overlap_windows(spark):
    df = spark.createDataFrame(
        [(1, [str(i) for i in range(10)]), (2, ["a", "b"])],
        "doc_id long, tokens array<string>",
    )
    out = pl.chunk_with_overlap(df, size=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # n=10, size=4, stride=3 -> starts 0, 3, 6 (6 = n - size, inclusive)
    d1 = sorted(by_doc[1], key=lambda r: r["start"])
    assert [r["start"] for r in d1] == [0, 3, 6]
    assert [r["chunk_index"] for r in d1] == [0, 1, 2]
    assert d1[0]["chunk"] == ["0", "1", "2", "3"]
    assert d1[1]["chunk"] == ["3", "4", "5", "6"]
    assert d1[2]["chunk"] == ["6", "7", "8", "9"]
    assert all(r["chunk_len"] == 4 for r in d1)
    # short doc: single (short) chunk
    d2 = by_doc[2]
    assert len(d2) == 1 and d2[0]["chunk"] == ["a", "b"] and d2[0]["chunk_len"] == 2


def test_chunk_with_overlap_validates(spark):
    df = spark.createDataFrame([(1, ["a"])], "doc_id long, tokens array<string>")
    with pytest.raises(ValueError, match="stride"):
        pl.chunk_with_overlap(df, size=4, stride=5)


def test_epoch_shuffle_is_permutation_and_epoch_dependent(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    e0 = pl.epoch_shuffle(df, epoch=0).toPandas().sort_values("doc_id")
    e1 = pl.epoch_shuffle(df, epoch=1).toPandas().sort_values("doc_id")
    # positions form an exact 1..n permutation (prefix-sum offsets leave
    # no gaps across buckets)
    assert sorted(e0["pos"]) == list(range(1, 501))
    assert sorted(e1["pos"]) == list(range(1, 501))
    # different epochs give a different order; the same epoch replays
    assert list(e0["pos"]) != list(e1["pos"])
    again = pl.epoch_shuffle(df, epoch=0).toPandas().sort_values("doc_id")
    assert list(e0["pos"]) == list(again["pos"])
    with pytest.raises(ValueError, match="epoch"):
        pl.epoch_shuffle(df, epoch=-1)


def test_contamination_prefiltered_equals_exact(spark):
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eval_df = docs.filter(F.col("doc_id") % 10 == 0)
    exact = {
        r["doc_id"]: r["n_hits"]
        for r in pl.contamination_hits(docs, eval_df).collect()
    }
    # Tiny bucket space forces real false positives through the prefilter;
    # the verify join must eliminate every one of them.
    pre = {
        r["doc_id"]: r["n_hits"]
        for r in pl.contamination_hits_prefiltered(
            docs, eval_df, prefilter_buckets=64
        ).collect()
    }
    assert pre == exact and len(exact) > 0


def test_shard_manifest_partitions_corpus_exactly(spark):
    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i + 2}") for i in range(200)],
        "doc_id long, text string",
    )
    for method in ("xxhash64", "knuth"):
        man = pl.shard_manifest(df, n_shards=8, method=method).toPandas()
        assert man["n_docs"].sum() == 200
        assert man["n_tokens"].sum() == 600  # 3 tokens per doc
        assert set(man["shard"]) <= set(range(8))
        # checksum is order-insensitive membership: permuting input rows
        # cannot change it
        man2 = pl.shard_manifest(
            df.orderBy(F.desc("doc_id")), n_shards=8, method=method
        ).toPandas()
        a = man.sort_values("shard").reset_index(drop=True)
        b = man2.sort_values("shard").reset_index(drop=True)
        assert a.equals(b)
    with pytest.raises(ValueError, match="n_shards"):
        pl.shard_manifest(df, n_shards=0)


def test_temperature_mixture_quota_and_determinism(spark):
    """alpha=0 gives equal per-group quotas regardless of group size;
    a group smaller than its quota keeps everything; the sample is
    deterministic (same rows on rerun / repartition)."""
    rows = [(i, "big") for i in range(1000)] + [(10_000 + i, "small") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = pl.temperature_mixture(df, target_rows=100, alpha=0.0, method="knuth")
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # quota 50/50; 'small' has only 5 rows -> keeps all 5, no redistribution
    assert counts["small"] == 5
    assert 35 <= counts["big"] <= 65  # hash-Bernoulli around the 50-row quota
    again = pl.temperature_mixture(df.repartition(7), target_rows=100, alpha=0.0, method="knuth")
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # alpha=1 is proportional sampling: uniform keep-rate across groups
    prop = pl.temperature_mixture(df, target_rows=500, alpha=1.0, method="knuth")
    n_prop = prop.count()
    assert 400 <= n_prop <= 600
    with pytest.raises(ValueError, match="alpha"):
        pl.temperature_mixture(df, target_rows=10, alpha=-1)


def test_temperature_mixture_flattens_skew(spark):
    """0 < alpha < 1 gives the small group a LARGER share than its
    corpus proportion and the big group a smaller one."""
    rows = [(i, "big") for i in range(900)] + [(10_000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = pl.temperature_mixture(df, target_rows=200, alpha=0.5, method="knuth")
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # weights 30:10 -> quotas 150:50; small's corpus share was 10%,
    # sampled share should be well above it (25% expected)
    assert counts["small"] / (counts["small"] + counts["big"]) > 0.15


def test_key_skew_profile_exact_values(spark):
    df = spark.createDataFrame(
        [(1,)] * 6 + [(2,)] * 3 + [(3,)] * 1, "k long"
    )
    out = pl.key_skew_profile(df, "k", top_k=2).collect()
    assert [r["k"] for r in out] == [1, 2]
    top = out[0]
    assert (top["cnt"], top["total_rows"], top["n_keys"]) == (6, 10, 3)
    assert top["share_ppm"] == 600_000
    assert top["skew_x"] == pytest.approx(1.8)  # 6 * 3 / 10


def test_dq_checks_and_fk_violations(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (None, 4.0)], "id long, price double"
    )
    out = {r["check"]: r for r in pl.dq_checks(
        df,
        {
            "positive_price": F.col("price") > 0,
            "id_not_null": F.col("id").isNotNull(),
        },
    ).collect()}
    # -5 fails; NULL price counts as a violation too
    assert out["positive_price"]["n_violations"] == 2
    assert not out["positive_price"]["passed"]
    assert out["id_not_null"]["n_violations"] == 1
    assert all(r["n_rows"] == 4 for r in out.values())
    with pytest.raises(ValueError, match="at least one"):
        pl.dq_checks(df, {})

    parent = spark.createDataFrame([(1,), (2,)], "pid long")
    fk = pl.fk_violations(df, parent, "id", "pid").collect()[0]
    # id=3 orphaned, NULL id orphaned by definition
    assert (fk["n_rows"], fk["n_violations"], fk["passed"]) == (4, 2, False)
    assert fk["check"] == "fk_id_in_pid"


def _bpe_train_reference(word_counts: dict[str, int], num_merges: int):
    """Single-node reference BPE trainer (Sennrich et al. 2016): plain
    dicts and lists, greedy left-to-right non-overlapping merge, argmax
    tie-broken on (count desc, lhs asc, rhs asc)."""
    words = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for rank in range(1, num_merges + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] = (
                    pair_counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), _ = best
        merges.append((rank, a, b, a + b))
        new_words = {}
        for syms, c in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + c
        words = new_words
    return merges


def test_bpe_train_matches_single_node_reference(spark):
    """Distributed trainer vs the classic single-node algorithm on the
    sf0.001 documents corpus: identical merge tables, 20 rounds."""
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = pl.bpe_train(docs, num_merges=20)

    wc = {
        r["word"]: r["cnt"]
        for r in pl.bpe_word_counts(docs).collect()
    }
    want = _bpe_train_reference(wc, 20)
    assert got == want


def test_bpe_train_greedy_run_semantics(spark):
    """Runs of a repeated symbol merge non-overlapping left-to-right:
    'aaaa' -> [aa, aa], 'aaa' -> [aa, a] — the corner where naive
    single-space replace diverges from greedy BPE."""
    df = spark.createDataFrame(
        [(1, "aaaa aaa ab"), (2, "aaaa ab ab")], "doc_id long, text string"
    )
    merges = pl.bpe_train(df, num_merges=2)
    wc = {r["word"]: r["cnt"] for r in pl.bpe_word_counts(df).collect()}
    assert merges == _bpe_train_reference(wc, 2)
    assert merges[0][1] == "a" and merges[0][2] == "a"  # (a,a) is top pair


# --------------------------------------------------------------------------
# incremental aggregate maintenance
# --------------------------------------------------------------------------
def test_aggregate_state_merge_equals_recompute(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    rows = [(i % 3, float(i) + 0.25) for i in range(90)]
    df = spark.createDataFrame(rows, "k int, v double")
    full = {
        r["k"]: (r["n"], str(r["sum"]), r["min"], r["max"])
        for r in pl.aggregate_state(df, ["k"], "v").collect()
    }
    # three-way split merged pairwise and in one call — associativity
    a, b, c = (df.filter(f"v < 30"), df.filter("v >= 30 AND v < 60"), df.filter("v >= 60"))
    sa, sb, sc = (pl.aggregate_state(x, ["k"], "v") for x in (a, b, c))
    merged_once = pl.merge_aggregate_state(sa, sb, sc)
    merged_nested = pl.merge_aggregate_state(pl.merge_aggregate_state(sa, sb), sc)
    for m in (merged_once, merged_nested):
        got = {
            r["k"]: (r["n"], str(r["sum"]), r["min"], r["max"]) for r in m.collect()
        }
        assert got == full


def test_merge_aggregate_state_requires_two(spark):
    import pytest as _pytest

    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    df = spark.createDataFrame([(1, 1.0)], "k int, v double")
    s = pl.aggregate_state(df, ["k"], "v")
    with _pytest.raises(ValueError):
        pl.merge_aggregate_state(s)


def test_balanced_buckets_on_skewed_data(spark):
    import numpy as np

    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    rng = np.random.default_rng(17)
    vals = rng.lognormal(0.0, 2.0, size=8000)  # heavy right tail
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    ).repartition(8)
    out = pl.balanced_buckets(df, "v", n_buckets=8)
    sizes = {
        r["bucket"]: r["n"]
        for r in out.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    assert set(sizes) == set(range(8))
    target = 8000 / 8
    for b, n in sizes.items():
        assert abs(n - target) / target <= 0.25, (b, n)


def test_balanced_buckets_validates(spark):
    import pytest as _pytest

    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with _pytest.raises(ValueError, match="n_buckets"):
        pl.balanced_buckets(df, "v", n_buckets=1)


def test_table_diff_statuses(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)], "k long, s string, v double"
    )
    b = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 99.0), (4, "w", 4.0)], "k long, s string, v double"
    )
    got = {r["k"]: r["status"] for r in pl.table_diff(a, b, ["k"], ["s", "v"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_table_diff_null_vs_literal_null_string(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    a = spark.createDataFrame([(1, None)], "k long, s string")
    b = spark.createDataFrame([(1, "\x00")], "k long, s string")
    [r] = pl.table_diff(a, b, ["k"], ["s"]).collect()
    # NULL and the sentinel byte collide by construction of the tag —
    # document the limitation: the tag byte never appears in REAL data
    assert r["status"] in ("unchanged", "changed")


def test_aggregate_state_raises_out_of_domain_non_ansi(spark):
    """Round-6 pin: in a non-ANSI session the DECIMAL cast would
    overflow-to-NULL, silently dropping the value from the sum while
    still counting it in n (corrupting the derived avg). The explicit
    raise_error guard must fire instead — and input_precision=38 must
    widen the domain so the same value aggregates cleanly."""
    df = spark.createDataFrame(
        [("k", 1.5), ("k", 10.0**17)], "k string, v double"
    )
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="aggregate_state|USER_RAISED_EXCEPTION"):
            pl.aggregate_state(df, ["k"], "v").collect()  # default precision 18
        [row] = pl.aggregate_state(df, ["k"], "v", input_precision=38).collect()
        assert row["n"] == 2
        assert float(row["sum"]) == pytest.approx(10.0**17 + 1.5, rel=1e-12)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


# --- negative_sampling --------------------------------------------------------


def test_negative_sampling_deterministic_and_valid(spark):
    pos = spark.createDataFrame(
        [(u, i) for u in range(5) for i in range(u, u + 3)],
        "user long, item long",
    )
    items = spark.createDataFrame([(i,) for i in range(20)], "item long")
    out1 = pl.negative_sampling(pos, items, k=3).collect()
    out2 = pl.negative_sampling(pos, items, k=3).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # no RNG
    pos_set = {(r["user"], r["item"]) for r in pos.collect()}
    for r in out1:
        # negatives never collide with the user's own positives
        assert (r["user"], r["neg_item"]) not in pos_set
        assert 0 <= r["neg_item"] < 20
        assert 1 <= r["j"] <= 3
    # yield is at most k per positive, and near k with a 20-item catalog
    assert len(out1) <= 15 * 3
    assert len(out1) >= 15 * 2


def test_negative_sampling_duplicate_positives_collapse(spark):
    pos = spark.createDataFrame([(1, 5), (1, 5), (1, 5)], "user long, item long")
    items = spark.createDataFrame([(i,) for i in range(10)], "item long")
    out = pl.negative_sampling(pos, items, k=2).collect()
    # one distinct positive → at most 2 negatives
    assert len(out) <= 2
    assert all(r["neg_item"] != 5 for r in out)


def test_negative_sampling_validation(spark):
    pos = spark.createDataFrame([(1, 2)], "user long, item long")
    items = spark.createDataFrame([(1,)], "item long")
    with pytest.raises(ValueError):
        pl.negative_sampling(pos, items, k=0)
    with pytest.raises(ValueError):
        pl.negative_sampling(pos, items, method="xxhash64")


# --- span_corruption_plan (round 10) ---


@pytest.fixture(scope="module")
def span_plan(spark):
    base = spark.range(1, 400).select(
        F.col("id").alias("doc_id"),
        # token counts 7..405 — spans the drop threshold (nt*3 < 20)
        (F.col("id") + 6).cast("long").alias("n_tokens"),
    )
    return base, pl.span_corruption_plan(base).collect()


def test_span_plan_invariants(span_plan):
    """Every span lies inside its stratum of the token range, spans never
    overlap, and the total masked length matches the exact integer noise
    budget (capped by stratum width)."""
    base, rows = span_plan
    nts = {r["doc_id"]: r["doc_id"] + 6 for r in base.collect()}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, spans in by_doc.items():
        nt = nts[doc_id]
        noise = max(1, nt * 3 // 20)
        n_spans = max(1, noise // 3)
        w = nt // n_spans
        assert len(spans) == n_spans
        spans.sort(key=lambda r: r["span_id"])
        for r in spans:
            j = r["span_id"]
            assert 1 <= j <= n_spans
            assert r["length"] >= 1
            # span stays inside stratum j → non-overlap by construction
            assert (j - 1) * w <= r["start"]
            assert r["start"] + r["length"] <= j * w
        total = sum(r["length"] for r in spans)
        assert total == sum(
            min(w, noise // n_spans + (1 if j <= noise % n_spans else 0))
            for j in range(1, n_spans + 1)
        )


def test_span_plan_deterministic_and_rate(spark, span_plan):
    base, rows = span_plan
    again = pl.span_corruption_plan(base).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # docs below the rate threshold (nt*3 < 20, i.e. nt <= 6) are dropped
    assert all(r["doc_id"] + 6 >= 7 for r in rows)
    # realized corruption rate tracks 15% for long docs (cap rarely binds)
    long_docs = [r for r in rows if r["doc_id"] + 6 >= 100]
    masked = sum(r["length"] for r in long_docs)
    tokens = sum(
        doc_id + 6
        for doc_id in {r["doc_id"] for r in long_docs}
    )
    assert abs(masked / tokens - 0.15) < 0.02


def test_span_plan_validation(spark):
    base = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit(100).alias("n_tokens")
    )
    with pytest.raises(ValueError):
        pl.span_corruption_plan(base, noise_num=0)
    with pytest.raises(ValueError):
        pl.span_corruption_plan(base, noise_num=20, noise_den=20)
    with pytest.raises(ValueError):
        pl.span_corruption_plan(base, mean_span=0)


# --- pack_bestfit (round 11, oracle-provable BFD packing) ---


def test_pack_bestfit_planted(spark):
    """Known BFD trace, one shard: items (8,5,4,3,2) budget 10 ->
    8 opens bin1; 5 opens bin2 (8+5>10); 4 joins bin2 (fullest fit:
    bin2=5 vs none eligible... bin1=8+4>10, bin2=5+4<=10) -> bin2=9;
    3 -> bin1=8+3>10, bin2=9+3>10 -> bin3; 2 -> fullest eligible is
    bin2(9)? 9+2>10; bin1 8+2=10 ok -> bin1."""
    rows = [(i * 1, sz) for i, sz in enumerate([8, 5, 4, 3, 2])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {
        r["doc_id"]: r["bin"]
        for r in pl.pack_bestfit(df, budget=10, n_shards=1).collect()
    }
    assert out == {0: 1, 1: 2, 2: 2, 3: 3, 4: 1}


def test_pack_bestfit_properties(spark, sf_dir):
    """Every doc assigned once; no bin exceeds budget unless it holds a
    single oversized item; bins are contiguous 1..max per shard."""
    from hdinsight_pyspark_cntk_integration_spark.functions.textfns import token_count
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    out = pl.pack_bestfit(docs, budget=120, n_shards=4)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    sizes = {r["doc_id"]: r["n_tokens"] for r in docs.collect()}
    loads: dict[tuple, int] = {}
    members: dict[tuple, int] = {}
    for r in rows:
        key = (r["shard"], r["bin"])
        loads[key] = loads.get(key, 0) + sizes[r["doc_id"]]
        members[key] = members.get(key, 0) + 1
    for key, load in loads.items():
        assert load <= 120 or members[key] == 1, (key, load, members[key])
    by_shard: dict[int, set] = {}
    for shard, b in loads:
        by_shard.setdefault(shard, set()).add(b)
    for shard, bins in by_shard.items():
        assert bins == set(range(1, max(bins) + 1)), (shard, bins)


def test_pack_bestfit_oversized_item_own_bin(spark):
    df = spark.createDataFrame(
        [(0, 50), (1, 3), (2, 3)], "doc_id long, n_tokens long"
    )
    out = {r["doc_id"]: r["bin"] for r in pl.pack_bestfit(df, budget=10, n_shards=1).collect()}
    # 50 opens bin1 (overfull, never eligible again); 3 and 3 share bin2
    assert out == {0: 1, 1: 2, 2: 2}


def test_pack_bestfit_validation(spark):
    df = spark.range(3).select(F.col("id").alias("doc_id"), F.lit(5).alias("n_tokens"))
    with pytest.raises(ValueError):
        pl.pack_bestfit(df, budget=0, n_shards=2)
    with pytest.raises(ValueError):
        pl.pack_bestfit(df, budget=10, n_shards=0)


# --- curriculum_schedule (round 11, temporal temperature twin) ---


def test_curriculum_schedule_shares_and_endpoints(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "doc_id long, source string",
    )
    out = pl.curriculum_schedule(df, steps=17, group_col="source").collect()
    assert len(out) == 17 * 2
    by_step: dict[int, dict[str, int]] = {}
    for r in out:
        by_step.setdefault(r["step"], {})[r["source"]] = r["share_ppm"]
        if r["step"] == 0:
            assert r["alpha_64"] == 64
        if r["step"] == 16:
            assert r["alpha_64"] == 16
    for step, shares in by_step.items():
        total = sum(shares.values())
        assert 1_000_000 - 2 <= total <= 1_000_000, (step, total)
    # annealing flattens: the big group's share is non-increasing in step
    big = [by_step[s]["big"] for s in range(17)]
    assert all(a >= b for a, b in zip(big, big[1:])), big
    # alpha=1 start is exactly proportional: 90/100 of a million (floor)
    assert by_step[0]["big"] == 900_000


def test_curriculum_schedule_validation(spark):
    df = spark.range(4).select(F.col("id").alias("doc_id"), F.lit("s").alias("source"))
    with pytest.raises(ValueError):
        pl.curriculum_schedule(df, steps=1, group_col="source")
    with pytest.raises(ValueError):
        # 16 steps -> 15 intervals, span 48 not divisible by 15
        pl.curriculum_schedule(df, steps=16, group_col="source")


# --- packing_efficiency (round 11, packer dashboard) ---


def test_packing_efficiency_matches_pack_chunks_blocks(spark, sf_dir):
    """n_blocks must equal the actual block count pack_chunks cuts per
    shard (max last_block + 1), and fill_ppm the exact integer ratio."""
    from hdinsight_pyspark_cntk_integration_spark.functions.textfns import token_count
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    eff = {r["shard"]: r for r in pl.packing_efficiency(docs, budget=256, n_shards=8).collect()}
    packed = pl.pack_chunks(docs, budget=256, n_shards=8).collect()
    actual_blocks: dict[int, int] = {}
    for r in packed:
        actual_blocks[r["shard"]] = max(actual_blocks.get(r["shard"], 0), r["last_block"] + 1)
    for shard, r in eff.items():
        assert r["n_blocks"] == actual_blocks[shard], (shard, r, actual_blocks[shard])
        assert r["fill_ppm"] == r["total_tokens"] * 1_000_000 // (256 * r["n_blocks"])
        assert 0 < r["fill_ppm"] <= 1_000_000


def test_packing_efficiency_empty_shard_and_validation(spark):
    df = spark.createDataFrame([(0, 0), (1, 10)], "doc_id long, n_tokens long")
    out = {r["shard"]: r for r in pl.packing_efficiency(df, budget=8, n_shards=2).collect()}
    assert out[0]["n_blocks"] == 0 and out[0]["fill_ppm"] == 0  # zero tokens
    assert out[0]["n_docs"] == 1
    assert out[1]["n_blocks"] == 2 and out[1]["fill_ppm"] == 625_000
    with pytest.raises(ValueError):
        pl.packing_efficiency(df, budget=0, n_shards=2)
    with pytest.raises(ValueError):
        pl.packing_efficiency(df, budget=8, n_shards=0)


# --- k_anonymity (round 11, governance audit) ---


def test_k_anonymity_counts_exposure(spark):
    rows = [("a", 1)] * 2 + [("b", 1)] * 5
    df = spark.createDataFrame(rows, "seg string, nat int")
    [r] = pl.k_anonymity(df, ["seg", "nat"], k=3).collect()
    assert (r["n_rows"], r["n_classes"], r["min_class_size"]) == (7, 2, 2)
    assert (r["n_violating_classes"], r["n_violating_rows"]) == (1, 2)


def test_k_anonymity_anonymous_table(spark):
    rows = [("a", 1)] * 3 + [("b", 2)] * 4
    df = spark.createDataFrame(rows, "seg string, nat int")
    [r] = pl.k_anonymity(df, ["seg", "nat"], k=3).collect()
    assert r["min_class_size"] == 3 and r["n_violating_rows"] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pl.k_anonymity(df, [], k=3)
    with _pytest.raises(ValueError):
        pl.k_anonymity(df, ["seg"], k=0)


# --- ablation_arms (round 11, ablation bookkeeping) ---


def test_ablation_arms_matches_python_mixer(spark):
    ids = list(range(1, 101))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {
        (r["arm_i"], r["arm_j"]): r["n_docs"]
        for r in pl.ablation_arms(df, n_arms=4).collect()
    }
    from collections import Counter

    ref = Counter()
    for i in ids:
        m = ((i % 1_000_003) * 2654435761) % 1_000_003
        arms = [a for a in range(4) if (m >> a) & 1]
        for x in arms:
            for y in arms:
                ref[(x, y)] += 1
    assert out == dict(ref)


def test_ablation_arms_matrix_invariants(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    rows = pl.ablation_arms(df, n_arms=8).collect()
    m = {(r["arm_i"], r["arm_j"]): r["n_docs"] for r in rows}
    for (i, j), n in m.items():
        assert m[(j, i)] == n  # symmetric
        if i != j:
            assert n <= min(m[(i, i)], m[(j, j)])  # overlap bound
    # every arm is a rough half-sample of 500 docs
    for a in range(8):
        assert 150 <= m[(a, a)] <= 350
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pl.ablation_arms(df, n_arms=0)


def test_ablation_arms_duplicate_ids_count_once(spark):
    """ADVICE r11: a duplicate id must not inflate overlap cells
    quadratically — n_docs counts DISTINCT ids per cell."""
    ids = list(range(1, 51))
    once = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    doubled = spark.createDataFrame([(i,) for i in ids + ids], "doc_id long")
    m1 = {
        (r["arm_i"], r["arm_j"]): r["n_docs"]
        for r in pl.ablation_arms(once, n_arms=4).collect()
    }
    m2 = {
        (r["arm_i"], r["arm_j"]): r["n_docs"]
        for r in pl.ablation_arms(doubled, n_arms=4).collect()
    }
    assert m1 == m2


# --- fim_split (round 11, fill-in-the-middle transform) ---


def test_fim_split_spans_partition_text(spark):
    rows = [(i, "abcdefghij"[: 2 + i]) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for r in pl.fim_split(df).collect():
        # the three spans partition the text exactly, in order
        assert r["prefix"] + r["middle"] + r["suffix"] == dict(rows)[r["doc_id"]]
        assert len(r["prefix"]) + len(r["middle"]) + len(r["suffix"]) == r["n_chars"]
        # middle and suffix are non-empty for n >= 2; PSM reorders only
        assert len(r["middle"]) >= 1 and len(r["suffix"]) >= 1
        assert sorted(r["psm_text"]) == sorted(r["prefix"] + r["middle"] + r["suffix"])
        assert r["psm_text"] == r["prefix"] + r["suffix"] + r["middle"]


def test_fim_split_replayable_and_degenerate(spark):
    df = spark.createDataFrame(
        [(7, "hello world"), (8, "x"), (9, "")], "doc_id long, text string"
    )
    a = {r["doc_id"]: r for r in pl.fim_split(df).collect()}
    b = {r["doc_id"]: r for r in pl.fim_split(df).collect()}
    assert a == b  # deterministic replay
    # cuts derive from the id alone: same id -> same cut on same text
    m = ((7 % 1_000_003) * 2654435761) % 1_000_003
    assert a[7]["cut_a"] == 1 + m % max(len("hello world") - 1, 1)
    # degenerate single-char / empty docs stay in-bounds
    assert a[8]["prefix"] == "" and a[8]["middle"] == "x" and a[8]["suffix"] == ""
    assert a[9]["psm_text"] == ""


# --- round-12 governance + mixture ops ---


def test_l_diversity_hand_case(spark):
    # class (30, 94xxx): 3 rows, ONE sensitive value -> homogeneity
    # violation at l=2; class (40, 95xxx): 2 rows, 2 distinct -> ok
    rows = [
        (30, "94xxx", "flu"), (30, "94xxx", "flu"), (30, "94xxx", "flu"),
        (40, "95xxx", "flu"), (40, "95xxx", "cold"),
    ]
    df = spark.createDataFrame(rows, "age long, zip string, dx string")
    [r] = pl.l_diversity(df, ["age", "zip"], "dx", l=2).collect()
    assert (r["l"], r["n_rows"], r["n_classes"]) == (2, 5, 2)
    assert r["min_distinct"] == 1
    assert (r["n_violating_classes"], r["n_violating_rows"]) == (1, 3)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pl.l_diversity(df, [], "dx")
    with _pytest.raises(ValueError):
        pl.l_diversity(df, ["age"], "dx", l=0)


def test_mixture_reweight_matches_python_replay(spark):
    # 2 domains, constant per-doc losses 0.2 / 0.8 -> the lossier
    # domain must gain share; replay the integer update exactly
    rows = [("web", 0.2)] * 3 + [("code", 0.8)] * 2
    df = spark.createDataFrame(rows, "domain string, loss double")
    out = {
        r["domain"]: r
        for r in pl.mixture_reweight(df, "domain", "loss", rounds=3).collect()
    }
    SCALE = 1_000_000
    per = {"web": 200_000, "code": 800_000}
    w = {d: SCALE for d in per}
    for _ in range(3):
        bar = sum(w[d] * per[d] for d in per) // sum(w.values())
        w = {
            d: max(
                max(w[d] * (SCALE * 2 + 1 * (per[d] - bar)), w[d] * 2)
                // (SCALE * 2),
                1,
            )
            for d in per
        }
    tw = sum(w.values())
    for d in per:
        assert out[d]["loss_micro"] == per[d]
        assert out[d]["weight"] == w[d]
        assert out[d]["share_micro"] == w[d] * SCALE // tw
    assert out["code"]["share_micro"] > out["web"]["share_micro"]
    assert out["web"]["n_docs"] == 3


def test_mixture_reweight_floor_keeps_weights_positive(spark):
    # an extreme eta would zero the low-loss domain without the floor
    rows = [("a", 0.0)] * 5 + [("b", 1.0)] * 5
    df = spark.createDataFrame(rows, "domain string, loss double")
    out = {
        r["domain"]: r["weight"]
        for r in pl.mixture_reweight(
            df, "domain", "loss", rounds=4, eta_num=10, eta_den=1
        ).collect()
    }
    assert out["a"] >= 1 and out["b"] > out["a"]


# --- wordpiece_train (round 12, likelihood-objective merges) ---


def test_wordpiece_vs_bpe_first_merge(spark):
    """WordPiece's likelihood score must pick the rarely-apart pair
    (c,d) over the more frequent (a,b) that BPE picks: score(c,d) =
    3/(3*3) > score(a,b) = 5/(15*15)."""
    rows = [("ab",)] * 5 + [("a",)] * 10 + [("b",)] * 10 + [("cd",)] * 3
    df = spark.createDataFrame(rows, "text string")
    bpe = pl.bpe_train(df, num_merges=1)
    assert [(m[1], m[2]) for m in bpe] == [("a", "b")]
    wp = pl.wordpiece_train(df, num_merges=2, min_pair_count=2)
    assert [(m[1], m[2]) for m in wp] == [("c", "d"), ("a", "b")]


def test_wordpiece_frequency_floor_and_validation(spark):
    import pytest as _pytest

    rows = [("xy",)] + [("ab",)] * 5
    df = spark.createDataFrame(rows, "text string")
    # min_pair_count=2 excludes the singleton (x,y) pair entirely
    wp = pl.wordpiece_train(df, num_merges=3, min_pair_count=2)
    assert [(m[1], m[2]) for m in wp] == [("a", "b")]  # stops when dry
    with _pytest.raises(ValueError):
        pl.bpe_train(df, score="entropy")
    with _pytest.raises(ValueError):
        pl.bpe_train(df, min_pair_count=0)


def test_t_closeness_hand_case(spark):
    """Class A: 3 rows all value x; class B: 1 x + 2 y. Global: 4 x,
    2 y (G=6). TVD_A = |3*6-4*3| + 3*(6-4) over 2*3*6 = 12/36 = 1/3;
    TVD_B = (|1*6-4*3| + |2*6-2*3|)/(2*3*6) = 12/36 = 1/3."""
    rows = [("A", "x")] * 3 + [("B", "x")] + [("B", "y")] * 2
    df = spark.createDataFrame(rows, "grp string, dx string")
    [r] = pl.t_closeness(df, ["grp"], "dx", t_micro=300_000).collect()
    assert (r["n_rows"], r["n_classes"]) == (6, 2)
    assert r["max_tvd_micro"] == 333_333
    assert (r["n_violating_classes"], r["n_violating_rows"]) == (2, 6)
    # loose threshold: nothing violates
    [r2] = pl.t_closeness(df, ["grp"], "dx", t_micro=400_000).collect()
    assert (r2["n_violating_classes"], r2["n_violating_rows"]) == (0, 0)
    # a class mirroring the global distribution has TVD 0
    uni = spark.createDataFrame(
        [("A", "x"), ("A", "y"), ("B", "x"), ("B", "y")], "grp string, dx string"
    )
    [r3] = pl.t_closeness(uni, ["grp"], "dx").collect()
    assert r3["max_tvd_micro"] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pl.t_closeness(df, [], "dx")
    with _pytest.raises(ValueError):
        pl.t_closeness(df, ["grp"], "dx", t_micro=2_000_000)
