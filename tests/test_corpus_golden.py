"""Golden end-to-end LLM-corpus pipeline: JSONL ingest → quality filter
→ exact dedup → transitive near-dedup → benchmark decontamination →
deterministic split → token counting → sequence packing → partitioned
parquet, with planted documents proving each stage does its one job.

This is the corpus twin of test_cifar_golden (the reference's scoring
pipeline): one test that a user could read as "the whole pipeline,
wired".
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.functions.textfns import fingerprint_md5
from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl
from hdinsight_pyspark_cntk_integration_spark.operators import text as tx
from hdinsight_pyspark_cntk_integration_spark.sources import io as eio

N_CLEAN = 30
EVAL_PASSAGE = "zeta omega theta kappa lambda sigma delta epsilon gamma rho"


def _doc(i: int) -> str:
    return " ".join(f"tok{i}a{j}" for j in range(20))


def _corpus(spark):
    rows = [(i, _doc(i)) for i in range(1, N_CLEAN + 1)]
    rows.append((101, _doc(1)))  # exact duplicate of doc 1
    rows.append((102, _doc(2)))  # exact duplicate of doc 2
    near = _doc(3).split()
    near[10] = "mutated"  # one word off doc 3 -> Jaccard ~0.7
    rows.append((103, " ".join(near)))
    rows.append((104, f"prefix words here {EVAL_PASSAGE} trailing words again"))
    rows.append((105, "x y"))  # too short for the quality gate
    rows.append((106, "!!! ??? !!! ??? !!! ??? !!! ??? !!! ???"))  # all punct
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    raw = _corpus(spark)
    src = str(tmp_path / "corpus_jsonl")
    eio.write_jsonl(raw, src)
    docs = spark.read.schema("doc_id long, text string").json(src)
    assert docs.count() == N_CLEAN + 6

    # 1. quality gate drops the short + all-punct docs
    q = tx.quality_filter(docs, min_tokens=5, max_punct_ratio=0.3)
    kept = {r["doc_id"] for r in q.select("doc_id").collect()}
    assert 105 not in kept and 106 not in kept and 1 in kept

    # 2. exact dedup (keep min id per fingerprint)
    w = Window.partitionBy(fingerprint_md5("text")).orderBy("doc_id")
    ex = q.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    kept = {r["doc_id"] for r in ex.select("doc_id").collect()}
    assert 101 not in kept and 102 not in kept and 1 in kept and 2 in kept

    # 3. transitive near-dedup removes the one-word-off copy, keeps doc 3:
    # verified MinHash pairs -> connected components -> drop every
    # member that is not its component's min id
    pairs = dd.minhash_pairs(ex, threshold=0.6)
    comps = dd.connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    nd = ex.join(losers, "doc_id", "left_anti")
    kept = {r["doc_id"] for r in nd.select("doc_id").collect()}
    assert 103 not in kept and 3 in kept

    # 4. decontamination drops the doc sharing the eval passage
    eval_df = spark.createDataFrame([(0, EVAL_PASSAGE)], "doc_id long, text string")
    clean = pl.decontaminate(nd, eval_df, min_hits=5)
    kept = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert kept == set(range(1, N_CLEAN + 1)), kept  # exactly the 30 clean docs

    # 5. deterministic split + token counts + packing
    split = pl.split_assign(clean, {"train": 0.8, "val": 0.1, "test": 0.1})
    again = pl.split_assign(clean, {"train": 0.8, "val": 0.1, "test": 0.1})
    assert {tuple(r) for r in split.select("doc_id", "split").collect()} == {
        tuple(r) for r in again.select("doc_id", "split").collect()
    }
    with_tokens = pl.bpe_token_count(split)
    packed = pl.pack_chunks(with_tokens, budget=128, n_shards=4, tokens_col="n_bpe_tokens")
    n_tok = {r["doc_id"]: r["n_bpe_tokens"] for r in with_tokens.select("doc_id", "n_bpe_tokens").collect()}
    offsets = packed.select("doc_id", "first_block", "last_block", "offset_in_block").collect()
    assert {r["doc_id"] for r in offsets} == set(range(1, N_CLEAN + 1))
    for r in offsets:  # offsets inside the budget; block spans consistent
        assert 0 <= r["offset_in_block"] < 128
        end_block = (r["offset_in_block"] + max(n_tok[r["doc_id"]], 1) - 1) // 128
        assert r["last_block"] == r["first_block"] + end_block, r

    # 6. partitioned sink + read-back round-trip
    out = str(tmp_path / "corpus_out")
    eio.write_parquet(split.select("doc_id", "text", "split"), out, partition_by=["split"])
    back = eio.read_parquet(spark, out)
    assert back.count() == N_CLEAN
    assert set(back.select("split").distinct().toPandas()["split"]) <= {"train", "val", "test"}


# --- bigram_crossentropy (round 11, LM contamination score) ---


def test_bigram_crossentropy_planted(spark):
    """A verbatim train copy scores lower cross-entropy and full overlap
    vs a novel-words doc; counts are exact."""
    train = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "a dog ran")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(10, "the cat sat"), (11, "purple zebra quantum")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.bigram_crossentropy(train, ev).collect()}
    leak, novel = out[10], out[11]
    assert leak["n_bigrams"] == 2 and leak["n_seen"] == 2
    assert novel["n_bigrams"] == 2 and novel["n_seen"] == 0
    assert leak["mean_xent_micro"] < novel["mean_xent_micro"]
    # exact value: V=6 train words {the,cat,sat,ran,a,dog};
    # P(cat|the)=(2+1)/(2+6), P(sat|cat)=(1+1)/(2+6)
    import math
    lp1 = math.floor(math.log(3 / 8) * 1e6)
    lp2 = math.floor(math.log(2 / 8) * 1e6)
    assert leak["xent_micro"] == -(lp1 + lp2)
    # unseen bigrams with unseen w1: ln(1/V)
    lpu = math.floor(math.log(1 / 6) * 1e6)
    assert novel["xent_micro"] == -2 * lpu


def test_bigram_crossentropy_partition_invariance(spark, sf_dir):
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    ev = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    a = sorted(map(tuple, tx.bigram_crossentropy(train, ev).collect()))
    b = sorted(
        map(
            tuple,
            tx.bigram_crossentropy(train.repartition(13), ev.repartition(3)).collect(),
        )
    )
    assert a == b


# --- quality_calibration (round 11, per-domain classifier calibration) ---


def test_quality_calibration_bins_partition_docs(spark, sf_dir):
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = tx.quality_calibration(docs, dim=64, n_bins=10, min_tokens=60).collect()
    # per domain: bin doc counts sum to the domain's doc count and bins
    # are 1..10 with sizes differing by at most one (ntile contract)
    per_domain: dict[str, list] = {}
    for r in out:
        per_domain.setdefault(r["domain"], []).append(r)
    totals = {
        r["source"]: r["n"]
        for r in docs.groupBy(F.col("source").alias("source"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for dom, rows in per_domain.items():
        assert sum(r["n_docs"] for r in rows) == totals[dom]
        sizes = [r["n_docs"] for r in rows]
        assert max(sizes) - min(sizes) <= 1
        assert {r["bin"] for r in rows} == set(range(1, len(rows) + 1))
        assert all(0 <= r["n_pos"] <= r["n_docs"] for r in rows)
        # bins are ordered by score: min/max ranges must not overlap
        srt = sorted(rows, key=lambda r: r["bin"])
        for a, b in zip(srt, srt[1:]):
            assert a["max_score"] <= b["min_score"]


def test_quality_calibration_score_is_exact_weighted_bow(spark):
    """One known doc: score equals the hand-computed Knuth-mixed sum."""
    import hashlib

    text = "alpha beta alpha"
    df = spark.createDataFrame([(7, text, "d")], "doc_id long, text string, source string")
    out = tx.quality_calibration(df, dim=64, n_bins=1, min_tokens=2).collect()
    assert len(out) == 1
    expected = 0
    for tok, cnt in [("alpha", 2), ("beta", 1)]:
        b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 64
        expected += cnt * (((b + 1) * 2654435761) % 1_000_003 % 17 - 8)
    r = out[0]
    assert r["min_score"] == r["max_score"] == expected
    assert r["n_pos"] == 1  # 3 tokens >= 2


# --- rouge_n (round 11, generation-eval overlap) ---


def test_rouge_n_planted_exact(spark):
    refs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z"), (3, "only")],
        "doc_id long, text string",
    )
    gens = spark.createDataFrame(
        [(1, "a b c d"), (2, "p q r"), (3, "only")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.rouge_n(refs, gens, n=2).collect()}
    # identical -> perfect scores
    assert out[1]["n_ref"] == out[1]["n_gen"] == out[1]["n_match"] == 3
    assert out[1]["recall_micro"] == out[1]["precision_micro"] == out[1]["f1_micro"] == 1_000_000
    # disjoint -> zeros
    assert out[2]["n_match"] == 0 and out[2]["f1_micro"] == 0
    # single-token docs form one 1-token gram; identical -> perfect
    assert out[3]["n_ref"] == 1 and out[3]["f1_micro"] == 1_000_000


def test_rouge_n_partial_overlap_dice(spark):
    refs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    gens = spark.createDataFrame([(1, "a b x")], "doc_id long, text string")
    r = tx.rouge_n(refs, gens, n=2).collect()[0]
    # ref grams {a b, b c}; gen grams {a b, b x}; match {a b}
    assert (r["n_ref"], r["n_gen"], r["n_match"]) == (2, 2, 1)
    assert r["recall_micro"] == 500_000 and r["precision_micro"] == 500_000
    assert r["f1_micro"] == 500_000


def test_rouge_n_validation(spark):
    import pytest as _pytest
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        tx.rouge_n(df, df, n=0)


# --- bleu_clipped_precision (round 11, multiset-clipped BLEU core) ---


def test_bleu_clip_caps_repeated_grams(spark):
    # the BLEU motivating case: gen = "the the the", ref has ONE "the"
    # -> unigram credit clips at 1 of 3 (set-based rouge would give 1/1)
    refs = spark.createDataFrame([(1, "the cat sat")], "doc_id long, text string")
    gens = spark.createDataFrame([(1, "the the the")], "doc_id long, text string")
    out = {r["n"]: r for r in tx.bleu_clipped_precision(refs, gens, n_max=2).collect()}
    assert (out[1]["total_gen"], out[1]["total_clipped"]) == (3, 1)
    assert out[1]["precision_micro"] == 333_333
    # bigrams: gen {"the the": 2}, ref has none -> 0
    assert (out[2]["total_gen"], out[2]["total_clipped"]) == (2, 0)
    assert out[2]["precision_micro"] == 0


def test_bleu_clip_identical_is_perfect(spark):
    refs = spark.createDataFrame(
        [(1, "a b a b"), (2, "x y")], "doc_id long, text string"
    )
    out = {r["n"]: r for r in tx.bleu_clipped_precision(refs, refs, n_max=2).collect()}
    for n in (1, 2):
        assert out[n]["total_ref"] == out[n]["total_gen"] == out[n]["total_clipped"]
        assert out[n]["precision_micro"] == 1_000_000
    # multiset check: doc 1 has "a b" twice and both count
    assert out[2]["total_clipped"] == 3 + 1


def test_bleu_clip_validation(spark):
    import pytest as _pytest
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        tx.bleu_clipped_precision(df, df, n_max=0)


def test_bleu_clip_one_sided_order_still_emits_row(spark):
    """ADVICE r11: an n-gram order with grams on only one side must
    emit its row with the missing total 0 and precision 0, not vanish
    — a caller iterating 1..n_max gets exactly n_max rows."""
    # ref text is empty -> no ref grams at ANY order (word_ngrams
    # clamps short-but-nonempty docs to one gram, so empty is the
    # genuinely one-sided case); gen has grams at both orders
    refs = spark.createDataFrame([(1, "")], "doc_id long, text string")
    gens = spark.createDataFrame([(1, "the cat sat")], "doc_id long, text string")
    out = {r["n"]: r for r in tx.bleu_clipped_precision(refs, gens, n_max=2).collect()}
    assert sorted(out) == [1, 2]
    for n in (1, 2):
        assert out[n]["total_ref"] == 0 and out[n]["total_gen"] > 0
        assert out[n]["total_clipped"] == 0 and out[n]["precision_micro"] == 0
    # the mirror case: no gen grams; precision_micro is 0 by the
    # documented total_gen=0 convention (never a divide error)
    out2 = {r["n"]: r for r in tx.bleu_clipped_precision(gens, refs, n_max=2).collect()}
    assert sorted(out2) == [1, 2]
    for n in (1, 2):
        assert out2[n]["total_ref"] > 0 and out2[n]["total_gen"] == 0
        assert out2[n]["precision_micro"] == 0


# --- good_turing_counts (round 11, count-of-counts smoothing) ---


def test_good_turing_known_counts(spark):
    # tokens: a x3, b x2, c x1 -> N_1 = N_2 = N_3 = 1
    df = spark.createDataFrame([(1, "a b c a b a")], "doc_id long, text string")
    out = {r["r"]: r for r in tx.good_turing_counts(df, r_max=3, n=1).collect()}
    assert {r: out[r]["n_r"] for r in out} == {1: 1, 2: 1, 3: 1}
    assert out[1]["r_star_micro"] == 2_000_000  # 2 * N_2 / N_1
    assert out[2]["r_star_micro"] == 3_000_000  # 3 * N_3 / N_2
    assert out[3]["r_star_micro"] == 0  # N_4 = 0


def test_good_turing_gap_uses_join_not_lead(spark):
    # freqs: a x1, b x1, c x3 -> N_1 = 2, N_2 = 0, N_3 = 1.
    # a lead() over existing rows would wrongly pair N_1 with N_3.
    df = spark.createDataFrame([(1, "a b c c c")], "doc_id long, text string")
    out = {r["r"]: r for r in tx.good_turing_counts(df, r_max=3, n=1).collect()}
    assert out[1]["n_r"] == 2 and out[1]["n_r_next"] == 0
    assert out[1]["r_star_micro"] == 0
    assert out[3]["n_r"] == 1
    assert 2 not in out  # no N_2 row


def test_good_turing_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        tx.good_turing_counts(df, r_max=0)
    with _pytest.raises(ValueError):
        tx.good_turing_counts(df, n=0)


# --- chao1_vocab (round 11, vocabulary richness estimate) ---


def test_chao1_known_counts(spark):
    # unigrams: a x1, b x1, c x2, d x3 -> S=4, N1=2, N2=1
    # chao1 = 4 + 2*1/(2*2) = 4.5
    df = spark.createDataFrame([(1, "a b c c d d d")], "doc_id long, text string")
    [r] = tx.chao1_vocab(df, n=1).collect()
    assert (r["s_obs"], r["n1"], r["n2"]) == (4, 2, 1)
    assert r["chao1_micro"] == 4_500_000


def test_chao1_no_doubletons_defined(spark):
    # N2 = 0: bias-corrected form stays finite: 2 + 1*0/(2*1)... N1=2:
    # chao1 = 2 + 2*1/2 = 3
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    [r] = tx.chao1_vocab(df, n=1).collect()
    assert (r["s_obs"], r["n1"], r["n2"]) == (2, 2, 0)
    assert r["chao1_micro"] == 3_000_000


def test_chao1_closed_vocab_no_extra(spark):
    # every type seen >= 3 times -> N1 = N2 = 0 -> chao1 == S_obs
    df = spark.createDataFrame([(1, "a a a b b b")], "doc_id long, text string")
    [r] = tx.chao1_vocab(df, n=1).collect()
    assert r["chao1_micro"] == r["s_obs"] * 1_000_000


# --- span_f1 (round 12, QA token-overlap eval) ---


def test_span_f1_hand_case(spark):
    gold = spark.createDataFrame(
        [(1, "the cat sat"), (2, "alpha beta"), (3, "")],
        "doc_id long, text string",
    )
    pred = spark.createDataFrame(
        [(1, "the cat"), (2, "gamma delta"), (3, "")],
        "doc_id long, text string",
    )
    [r] = tx.span_f1(gold, pred).collect()
    # item 1: o=2, lg=3, lp=2 -> f1 = 4e6 DIV 5 = 800000
    # item 2: no overlap -> 0; item 3: both empty -> 1e6 (vacuous)
    assert r["n_items"] == 3
    assert r["mean_f1_micro"] == (800_000 + 0 + 1_000_000) // 3
    assert r["n_perfect"] == 1
    assert (r["total_overlap"], r["total_gold_tokens"], r["total_pred_tokens"]) == (2, 5, 4)


def test_span_f1_multiset_clip_and_pairing(spark):
    # repeated token: gold "a a b", pred "a a a" -> o = min(2,3)=2 for
    # 'a' -> f1 = 2*2/(3+3) = 666666 micro (truncated)
    gold = spark.createDataFrame([(1, "a a b"), (9, "only gold")], "doc_id long, text string")
    pred = spark.createDataFrame([(1, "a a a"), (8, "only pred")], "doc_id long, text string")
    [r] = tx.span_f1(gold, pred).collect()
    assert r["n_items"] == 1  # unpaired ids drop by contract
    assert r["mean_f1_micro"] == 4_000_000 // 6
