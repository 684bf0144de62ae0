"""Text-operator unit tests (the bulk of the text family is covered in
test_corpus_golden.py / test_dedup_text.py; this module holds the
per-doc metric hand cases and the checks of the one tokenization
policy)."""

import re

import pytest
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.functions.textfns import token_count, tokens
from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl
from hdinsight_pyspark_cntk_integration_spark.operators import similarity as sim
from hdinsight_pyspark_cntk_integration_spark.operators import text as tx


def test_lexical_diversity_hand_case(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a b A c"), (2, "x"), (3, "t t t t")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.lexical_diversity(df).collect()}
    r1 = out[1]  # tokens a b a c -> N=4 V=3
    assert (r1["n_tokens"], r1["n_types"]) == (4, 3)
    assert r1["ttr_micro"] == 750_000
    assert r1["herdan_c_micro"] == math.floor(
        math.log(3.0) / math.log(4.0) * 1e6
    )
    assert r1["guiraud_r_micro"] == 1_500_000
    # single-token doc: TTR/Guiraud defined, Herdan NULL (ln 1 = 0)
    assert out[2]["ttr_micro"] == 1_000_000
    assert out[2]["herdan_c_micro"] is None
    # fully templated doc scores minimal diversity
    assert out[3]["ttr_micro"] == 250_000 and out[3]["n_types"] == 1


# Whitespace the tokenizer must see through: leading tab, trailing
# newline, CR, FF, doubled spaces, tab-separated words, empty text,
# whitespace-only text and NULL. (VT is left out: Java's \s holds it,
# DuckDB's RE2 \s does not — see the ``tokens`` docstring.)
_WS_TEXTS = [
    "\tThe cat sat on the mat\n",
    "the  the cat and the dog",
    "A dog\tand\ta cat\r\nran.  The end.",
    "the cat sat on the mat.\fThe dog sat too",
    "\tcat dog\n",
    "",
    " \t\n\r\f ",
    None,
    "De  kat en de hond\n\nthe cat and the dog",
]
_WS = r"[^ \t\n\r\f]+"


def _py_tokens(s):
    return [] if s is None else re.findall(_WS, s.lower())


def test_tokens_and_token_count_match_python(spark):
    df = spark.createDataFrame(list(enumerate(_WS_TEXTS)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["t"], r["n"])
        for r in df.select(
            "doc_id", tokens("text").alias("t"), token_count("text").alias("n")
        ).collect()
    }
    for i, s in enumerate(_WS_TEXTS):
        want = _py_tokens(s)
        assert got[i] == (want, len(want)), repr(s)


def test_language_scores_hits_match_python_count(spark):
    """Stopword hits are counted on tokens: adjacent repeats both count
    and tab-adjacent words are seen."""
    texts = ["the the cat", "\tthe cat\n", "Der und die\tder", "", None]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.language_scores(df).collect()}
    for i, s in enumerate(texts):
        toks = _py_tokens(s)
        for lang, words in tx._STOPWORDS.items():
            want = sum(t in words for t in toks) / len(toks) if toks else 0.0
            assert out[i][f"score_{lang}"] == want, (repr(s), lang)
    assert [out[i]["lang_pred"] for i in range(5)] == ["en", "en", "de", "unknown", "unknown"]


def test_tokenize_to_ids_broadcast_guard_counts_before_collect(spark, monkeypatch):
    """Past ``_MAX_VOCAB`` the broadcast form raises after a bounded
    count — no vocabulary row is collected; under the cap it maps each
    token to its id and NULL text to an empty sequence."""
    from pyspark.sql import DataFrame

    docs = spark.createDataFrame([(1, "\tThe cat  sat\n"), (2, None)], "doc_id long, text string")
    vocab = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(["the", "cat", "sat", "mat"])],
        "token string, token_id int",
    )
    monkeypatch.setattr(tx, "_MAX_VOCAB", 3)
    with monkeypatch.context() as m:

        def no_collect(self):
            raise AssertionError("vocabulary collected before the size guard")

        m.setattr(DataFrame, "collect", no_collect)
        with pytest.raises(ValueError, match="exceeds 3"):
            tx.tokenize_to_ids_broadcast(docs, vocab)
    small = vocab.filter("token_id <= 3")
    got = {r["doc_id"]: r["ids"] for r in tx.tokenize_to_ids_broadcast(docs, small).collect()}
    assert got == {1: [1, 2, 3], 2: []}


def _rejoined(texts):
    return [None if s is None else " ".join(re.findall(_WS, s)) for s in texts]


_REFS = _WS_TEXTS
_HYPS = [
    "the cat sat\ton a mat",
    "\nthe dog and the cat",
    "a dog ran.\r\n The  end",
    "the cat sat on the mat.  the dog sat",
    "cat\tdog",
    "  ",
    "the cat",
    None,
    "de kat\n\nen de hond",
]
def _two(op):
    return lambda f, g: op(f.filter(F.col("source") == "x"), f.filter(F.col("source") == "y"))


# op(F, G) for every operator that reads the tokenizer, with the output
# columns to compare (None: all). Columns that read raw characters —
# whitespace included — are left out by name: quality_features'
# n_chars, punct_ratio and upper_ratio, gopher_rules' line rules
# (r_bullet_lines, r_ellipsis_lines), and quality_filter's pass-through
# input columns.
_TOKEN_OPS = {
    "quality_features": (
        lambda f, g: tx.quality_features(f),
        ["doc_id", "n_tokens", "mean_token_len"],
    ),
    "quality_filter": (
        lambda f, g: tx.quality_filter(f, min_tokens=3, max_punct_ratio=1.0),
        ["doc_id"],
    ),
    "language_scores": (lambda f, g: tx.language_scores(f), None),
    "repetition_stats": (lambda f, g: tx.repetition_stats(f), None),
    "build_vocab": (lambda f, g: tx.build_vocab(f, top_v=8), None),
    "tokenize_to_ids_broadcast": (
        lambda f, g: tx.tokenize_to_ids_broadcast(f, tx.build_vocab(f, top_v=8)),
        None,
    ),
    "token_histogram": (lambda f, g: tx.token_histogram(f, top_n=8), None),
    "tfidf_top_terms": (lambda f, g: tx.tfidf_top_terms(f, min_token_len=3), None),
    "bm25_scores": (lambda f, g: tx.bm25_scores(f, ["the", "cat", "dog"]), None),
    "unigram_logprob": (lambda f, g: tx.unigram_logprob(f), None),
    "build_inverted_index": (lambda f, g: tx.build_inverted_index(f), None),
    "corpus_divergence": (_two(tx.corpus_divergence), None),
    "hashed_bow": (lambda f, g: tx.hashed_bow(f, dim=8), None),
    "token_entropy": (lambda f, g: tx.token_entropy(f), None),
    "bigram_logprob": (lambda f, g: tx.bigram_logprob(f), None),
    "gopher_rules": (
        lambda f, g: tx.gopher_rules(f, min_words=3),
        ["doc_id", "n_words", "r_word_count", "r_mean_word_len", "r_symbol_ratio",
         "r_alpha_words", "r_stopwords"],
    ),
    "ngram_diversity": (lambda f, g: tx.ngram_diversity(f), None),
    "dsir_weights": (lambda f, g: tx.dsir_weights(f, F.col("source") == "x", dim=8), None),
    "zipf_slope": (lambda f, g: tx.zipf_slope(f, lang_col="lang", top_n=4), None),
    "pmi_cooccur": (lambda f, g: tx.pmi_cooccur(f, min_pairs=1), None),
    "kneser_ney_bigram": (lambda f, g: tx.kneser_ney_bigram(f), None),
    "textrank_keywords": (lambda f, g: tx.textrank_keywords(f, min_cooccur=1), None),
    "dictionary_tag": (lambda f, g: tx.dictionary_tag(f, {"the": 1, "cat": 2}), None),
    "dictionary_tag_join": (
        lambda f, g: tx.dictionary_tag(f, {"the": 1, "cat": 2}, use_join=True),
        None,
    ),
    "heaps_law": (lambda f, g: tx.heaps_law(f, n_buckets=2), None),
    "simpson_diversity": (lambda f, g: tx.simpson_diversity(f, "lang"), None),
    "readability": (lambda f, g: tx.readability(f), None),
    "ngram_novelty": (lambda f, g: tx.ngram_novelty(f, n=2), None),
    "oov_rate": (lambda f, g: tx.oov_rate(f, top_v=4), None),
    "bigram_crossentropy": (lambda f, g: tx.bigram_crossentropy(f, g), None),
    "quality_calibration": (
        lambda f, g: tx.quality_calibration(f, dim=8, n_bins=2, min_tokens=3),
        None,
    ),
    "bleu_clipped_precision": (lambda f, g: tx.bleu_clipped_precision(f, g), None),
    "span_f1": (lambda f, g: tx.span_f1(f, g), None),
    "chrf_score": (lambda f, g: tx.chrf_score(f, g), None),
    "g_test_keywords": (_two(lambda a, b: tx.g_test_keywords(a, b, min_count=1)), None),
    "log_odds_dirichlet": (
        _two(lambda a, b: tx.log_odds_dirichlet(a, b, min_count=1)),
        None,
    ),
    "jsd_divergence": (_two(tx.jsd_divergence), None),
    "two_corpus_vocab_tagged": (
        lambda f, g: tx.two_corpus_vocab_tagged(f, F.col("source") == "x"),
        None,
    ),
    "lexical_diversity": (lambda f, g: tx.lexical_diversity(f), None),
    "yules_k": (lambda f, g: tx.yules_k(f), None),
    "feature_hashing": (lambda f, g: tx.feature_hashing(f, dim=8), None),
    "repeated_passages": (lambda f, g: dd.repeated_passages(f, n=2), None),
    "repeated_passages_maximal": (
        lambda f, g: dd.repeated_passages_maximal(f, ns=(2, 3)),
        None,
    ),
    "bpe_word_counts": (lambda f, g: pl.bpe_word_counts(f), None),
    "shard_manifest": (lambda f, g: pl.shard_manifest(f, 2), None),
    "sparse_cosine_pairs": (lambda f, g: sim.sparse_cosine_pairs(f), None),
}


def _collect(df, cols):
    df = df.select(*cols) if cols else df
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def corpora(spark):
    """(refs, hyps) frames as planted and as re-joined with single
    spaces, each built once and held in one partition; one shuffle
    partition while they are in use keeps every stage one task."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1")

    def frame(texts):
        rows = [
            (i, t, "en" if i % 3 else "de", "x" if i % 2 else "y")
            for i, t in enumerate(texts)
        ]
        schema = "doc_id long, text string, lang string, source string"
        return spark.createDataFrame(rows, schema).coalesce(1).localCheckpoint()

    yield {
        "planted": (frame(_REFS), frame(_HYPS)),
        "rejoined": (frame(_rejoined(_REFS)), frame(_rejoined(_HYPS))),
    }
    spark.conf.set(key, saved)


@pytest.mark.parametrize("name", sorted(_TOKEN_OPS))
def test_token_ops_see_through_whitespace(corpora, name):
    """Metamorphic check: an operator that reads words gives the same
    rows whether each text carries tabs, newlines, CR, FF and doubled
    spaces or is re-joined with single spaces."""
    op, cols = _TOKEN_OPS[name]
    want = _collect(op(*corpora["planted"]), cols)
    assert want, name
    assert _collect(op(*corpora["rejoined"]), cols) == want
