"""Text-analysis operators over document tables (SURVEY.md §2.7 addition).

All per-row Catalyst expressions (functions.textfns) — shuffle-free,
codegen'd, and each exactly reproducible in ANSI SQL for the oracle gate.

One tokenization policy: every word-level operator reads
``functions.textfns.tokens`` — the lowercased runs of non-whitespace, in
document order, ``[]`` for NULL or blank text — either as the per-row
array (positional and per-document operators) or through
:func:`token_table`, the family's one explode.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.functions.textfns import (
    fingerprint_md5,
    normalized_text,
    punct_ratio,
    token_count,
    tokens,
)

# Largest vocabulary tokenize_to_ids_broadcast collects to the driver.
_MAX_VOCAB = 5_000_000

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small so the oracle SQL stays writable.
_STOPWORDS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}


def token_table(
    df: DataFrame, keys: Sequence[Column | str], text_col: str
) -> DataFrame:
    """(*keys, token): one row per element of ``tokens(text_col)`` — the
    text family's one explode. A document with no tokens (NULL, empty or
    blank text) emits no row."""
    return df.select(*keys, F.explode(tokens(text_col)).alias("token"))


def quality_features(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: char count, token count, mean token
    length, punctuation ratio, uppercase ratio. One projection pass."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    n_tokens = token_count(t)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(F.length(F.regexp_replace(t, r"\s+", "")).cast("double") / n_tokens.cast("double"))
        .alias("mean_token_len"),
        punct_ratio(t).alias("punct_ratio"),
        F.when(n_chars == 0, F.lit(0.0))
        .otherwise(F.length(F.regexp_replace(t, r"[^A-Z]", "")).cast("double") / n_chars.cast("double"))
        .alias("upper_ratio"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
) -> DataFrame:
    """Gopher-style keep/drop filter on cheap heuristics — the standard
    first pass of an LLM data pipeline. Pure filter: pushdown-friendly."""
    return df.filter(
        (token_count(text_col) >= min_tokens) & (punct_ratio(text_col) <= max_punct_ratio)
    )


def language_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-ratio language ID: per language, hits/tokens; prediction =
    argmax language with deterministic tie order (en>de>fr>es),
    'unknown' when no stopword hits at all."""
    n_tokens = token_count(text_col)
    cols = [F.col(id_col)]
    for lang, words in _STOPWORDS.items():
        hits = F.size(F.filter(tokens(text_col), lambda t: t.isin(*words)))
        score = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
            hits.cast("double") / n_tokens.cast("double")
        )
        cols.append(score.alias(f"score_{lang}"))
    scored = df.select(*cols)
    langs = list(_STOPWORDS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.withColumn("lang_pred", F.when(best > 0, pred).otherwise(F.lit("unknown")))


def fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprints (md5 of normalized text) for exact dedup /
    lineage joins."""
    return df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction and the share of n-grams taken by the single most frequent
    n-gram (high values flag boilerplate / degenerate generations).

    Shaped as explode → two partial aggregations → broadcast-size join
    back on id, NOT a per-row higher-order-function fold: the per-(doc,
    gram) counts combine map-side so the shuffle carries distinct grams
    only, and nothing materializes a per-document hash map in one
    executor row — safe for 100 TB with arbitrarily long documents.

    Returns (id, n_words, n_distinct_words, dup_word_frac, n_ngrams,
    top_ngram_count, top_ngram_frac) — fractions 0.0 when empty.
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_ngrams

    ids = df.select(F.col(id_col))
    toks = token_table(df, [id_col], text_col).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.count_distinct("token").alias("n_distinct_words"),
    )
    grams = (
        df.select(F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram"))
        .filter(F.length("gram") > 0)
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.sum("cnt").alias("n_ngrams"), F.max("cnt").alias("top_ngram_count"))
    )
    out = ids.join(toks, id_col, "left").join(grams, id_col, "left")
    n_words = F.coalesce(F.col("n_words"), F.lit(0))
    n_distinct = F.coalesce(F.col("n_distinct_words"), F.lit(0))
    n_ngrams = F.coalesce(F.col("n_ngrams"), F.lit(0))
    top_cnt = F.coalesce(F.col("top_ngram_count"), F.lit(0))
    return out.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        F.when(n_words == 0, F.lit(0.0))
        .otherwise((n_words - n_distinct).cast("double") / n_words.cast("double"))
        .alias("dup_word_frac"),
        n_ngrams.alias("n_ngrams"),
        top_cnt.alias("top_ngram_count"),
        F.when(n_ngrams == 0, F.lit(0.0))
        .otherwise(top_cnt.cast("double") / n_ngrams.cast("double"))
        .alias("top_ngram_frac"),
    )


def build_vocab(df: DataFrame, text_col: str = "text", top_v: int = 1000) -> DataFrame:
    """Top-``top_v`` token vocabulary with dense ids: (token, freq,
    token_id), ids 1..V assigned by (freq desc, token) — fully
    deterministic, so two builds over the same corpus agree.

    The corpus-wide count is a partial-agg groupBy (shuffle carries
    distinct tokens per partition); the top-V cut is TakeOrderedAndProject
    (distributed). Only the id assignment runs in a single-partition
    window, and that operates on <= top_v rows — bounded by the vocab
    size you asked for, never by the corpus."""
    from pyspark.sql import Window

    counts = (
        token_table(df, [], text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(top_v)
    )
    w = Window.orderBy(F.desc("freq"), "token")
    return counts.withColumn("token_id", F.row_number().over(w))


def tokenize_to_ids_broadcast(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = 0,
) -> DataFrame:
    """Map each document to its token-id sequence against a vocabulary
    (token, token_id): (id, ids array<int>), OOV tokens -> ``unk_id``.
    The (bounded) vocabulary is collected to a plain dict, broadcast,
    and each document is mapped in one Arrow-batched projection — the
    way production tokenizers run (the vocab ships to workers; the
    corpus never moves, so no token-stream shuffle).

    Tokenization mirrors ``functions.textfns.tokens``: lowercase, split
    on ASCII whitespace runs, drop empties. (Exotic unicode whitespace is
    the one place the JVM and Python regex engines could disagree; both
    sides here treat only ASCII space/tab/newline/CR/FF/VT as
    separators.)

    The vocabulary must hold at most ``_MAX_VOCAB`` rows; a larger one
    raises ``ValueError`` after a bounded count, before any row reaches
    the driver.

    Unicode-lowercase caveat: this form lowercases with Python
    ``str.lower()`` while ``tokens`` uses Spark's JVM ``lower()``; the
    two agree on ASCII (and on most of Unicode) but can diverge on
    locale-sensitive edge cases — e.g. ``'İ'`` (U+0130) lowercases to
    ``'i̇'`` (two code points) in Python but may map differently on the
    JVM. For corpora where these edge cases matter, pre-normalize the
    text column before building the vocabulary and tokenizing.
    """
    import re as _re

    # Size guard: the dict is bounded BY CONTRACT (BPE-scale vocab), but
    # a caller handing a raw token table would otherwise OOM the driver.
    # Counting limit(N+1) first keeps every row off the driver until the
    # contract is known to hold.
    vocab = vocab.select("token", "token_id")
    if vocab.limit(_MAX_VOCAB + 1).count() > _MAX_VOCAB:
        raise ValueError(
            f"tokenize_to_ids_broadcast: vocabulary exceeds {_MAX_VOCAB} "
            "entries — pass a bounded vocabulary (build_vocab's top_v)"
        )
    vmap = {r["token"]: r["token_id"] for r in vocab.collect()}
    bc = df.sparkSession.sparkContext.broadcast(vmap)
    ws = _re.compile(r"[ \t\n\r\f\v]+")

    @F.pandas_udf("array<int>")
    def ids_of(texts: pd.Series) -> pd.Series:
        m = bc.value

        def conv(t):
            if t is None:
                return []
            return [m.get(tok, unk_id) for tok in ws.split(t.lower()) if tok]

        return texts.map(conv)

    return df.select(F.col(id_col), ids_of(F.col(text_col)).alias("ids"))


def token_histogram(df: DataFrame, text_col: str = "text", top_n: int = 100) -> DataFrame:
    """Corpus-level token frequency: explode tokens → count → top-n.
    Partial aggregation combines map-side, so the shuffle carries one row
    per distinct token per partition, not one per token occurrence."""
    return (
        token_table(df, [], text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(top_n)
    )


# PII categories for redact_pii. RE2-compatible (no backrefs/lookaround)
# so the same patterns run verbatim in DuckDB oracles and in Java regex.
_PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+\d[\d-]{6,}\d",
    "ipv4": r"\b\d{1,3}(\.\d{1,3}){3}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    replacement: str = "[PII]",
    with_counts: bool = True,
) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 addresses from a text column,
    optionally emitting per-category match counts (computed BEFORE the
    rewrite). Pure Catalyst projection — codegen'd, shuffle-free, scales
    linearly with the scan; the standard compliance pass before a corpus
    leaves the ingest zone."""
    out = df
    if with_counts:
        for name, pat in _PII_PATTERNS.items():
            out = out.withColumn(
                f"n_{name}",
                F.size(
                    F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
                ).cast("bigint"),
            )
    red = F.col(text_col)
    for pat in _PII_PATTERNS.values():
        red = F.regexp_replace(red, pat, replacement)
    return out.withColumn(text_col, red)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_token_len: int = 4,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf
    (tf * ln(N / df)). Output is integer-exact (doc id, token, tf, df,
    rank) — the float score only orders the window, with (tf DESC, token)
    tiebreakers so mathematically-tied scores rank deterministically.

    Shape: explode → ONE explicit repartition on the token — hash
    partitioning on ``token`` co-locates every (doc, token) pair AND
    every token, so both the per-document term counts and the
    document-frequency window run on that single exchange with no
    further shuffle and no tf-vs-df self-join (the naive join form plans
    two independent scan+explode+aggregate subtrees — measured: 5
    exchanges and a double explode; this form: 2 exchanges, the second
    being the final per-document ranking window). The explicit partition
    count keeps AQE from coalescing the CPU-heavy explode into too few
    tasks.
    """
    from pyspark.sql.window import Window

    n_shuffle = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    toks = (
        token_table(df, [id_col], text_col)
        .filter(F.length("token") >= min_token_len)
        .repartition(n_shuffle, "token")
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # one tf row per (doc, token), so rows-per-token == documents-per-token.
    # The per-token document frequency is a vocab-grain aggregate
    # re-attached with a SHUFFLE_HASH hint, not a count window: both
    # sides inherit the token repartition above (zero new exchanges),
    # and the hash join needs no sort of the (doc, token) tf stream
    # (§2.4/§3.1).
    dfc = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df_docs"))
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs") / F.col("df_docs"))
    w = Window.partitionBy(id_col).orderBy(
        score.desc(), F.col("tf").desc(), F.col("token")
    )
    return (
        tf.join(dfc.hint("shuffle_hash"), "token")
        .join(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df_docs", "rank")
    )


def bm25_scores(
    df: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 relevance ranking of documents against a fixed term set —
    the retrieval-scoring primitive behind corpus search / RAG candidate
    generation. score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
    with the Robertson idf ln(1 + (N−df+½)/(df+½)).

    Cross-engine determinism: ``ln`` is NOT correctly-rounded identically
    across engines (measured: Spark vs DuckDB differ in the last ulp on
    ~8% of inputs), so the idf is quantized to integer micro-units
    (floor(ln·1e6) as BIGINT) the moment it is computed; every downstream
    op is IEEE basic arithmetic on values derived from exact integers,
    which IS correctly rounded and therefore bit-identical in any IEEE
    engine. Per-document term scores are summed in the fixed written
    term order (conditional-aggregation pivot, not a groupBy over an
    arbitrary row order), keeping the float sum deterministic.

    Scale shape: one explode pass repartitioned on token for tf+df (same
    single-exchange trick as ``tfidf_top_terms``), doc lengths from one
    materialized projection-only pass whose 1-row (N, avgdl) aggregate
    broadcasts into the same plan (no driver actions), final top-k via a
    bounded sort. The corpus is never self-joined.
    """
    terms = list(terms)
    if not terms:
        raise ValueError("bm25_scores needs at least one term")
    # N and avgdl come from the doc-length table (id, len — the narrow
    # per-doc proxy), materialized ONCE, as a broadcast 1-row aggregate
    # inside the one plan: no driver action, no extra corpus scan, no
    # py4j sync before the main job. avgdl is long/long in IEEE double,
    # N the row count as double.
    lens = df.select(
        F.col(id_col), token_count(F.col(text_col)).alias("__dl")
    ).localCheckpoint(eager=True)
    stats = lens.agg(
        F.count(F.lit(1)).cast("long").alias("__nd"),
        F.sum("__dl").cast("long").alias("__tt"),
    ).select(
        F.col("__nd").cast("double").alias("__ndocs"),
        (F.col("__tt").cast("double") / F.col("__nd").cast("double")).alias(
            "__avgdl"
        ),
    )

    # Single-exchange token stats (the tfidf_top_terms trick): ONE explode
    # pass repartitioned on token computes per-(doc,term) tf, per-term df
    # (count window — one tf row per (doc,term), so rows-per-term ==
    # docs-per-term), and the micro-quantized idf, all without a second
    # scan or a tf-vs-df self-join.
    from pyspark.sql.window import Window

    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    toks = (
        token_table(df, [id_col], text_col)
        .filter(F.col("token").isin(terms))
        .repartition(n_shuffle, "token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("token")).cast("long")
    scored = tf.withColumn("__df", dfreq)
    # Pivot (tf, df) into per-term columns BEFORE touching doc lengths:
    # one groupBy(doc) exchange, then the lens join runs on that same
    # partitioning. The idf is applied after the 1-row stats broadcast
    # attaches — the SAME formula on the SAME per-term df value, just
    # evaluated where N lives now (it is a deterministic function of
    # __df and N, so quantization is unchanged). Scores are added in
    # fixed written term order — never a float SUM over an
    # engine-chosen row order.
    per_term = scored.groupBy(id_col).agg(
        *[
            c
            for i, t in enumerate(terms)
            for c in (
                F.max(F.when(F.col("token") == t, F.col("tf"))).alias(f"__tf{i}"),
                F.max(F.when(F.col("token") == t, F.col("__df"))).alias(f"__dfv{i}"),
            )
        ]
    )
    joined = per_term.join(lens, id_col).join(F.broadcast(stats))

    def term_score(i: int):
        # idf quantized to micro-units at first evaluation (see
        # docstring); the operand order is the oracle's.
        dfv = F.col(f"__dfv{i}").cast("double")
        idf_micro = F.floor(
            F.log(
                F.lit(1.0)
                + (F.col("__ndocs") - dfv + F.lit(0.5)) / (dfv + F.lit(0.5))
            )
            * F.lit(1_000_000.0)
        ).cast("long")
        tfc = F.col(f"__tf{i}").cast("double")
        tnorm = tfc * F.lit(k1 + 1.0) / (
            tfc
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("__dl").cast("double") / F.col("__avgdl")
            )
        )
        return F.coalesce(
            (idf_micro.cast("double") / F.lit(1_000_000.0)) * tnorm, F.lit(0.0)
        )

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    return (
        joined.select(
            F.col(id_col),
            F.col("__dl").alias("doc_len"),
            score.alias("bm25"),
        )
        .orderBy(F.desc("bm25"), id_col)
        .limit(top_k)
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram model — the classic cheap perplexity proxy for training-data
    quality filtering (a doc of rare/garbled tokens scores high, natural
    text scores low).

    Determinism: per-token logprobs ln(ctf/T) are quantized to integer
    micro-units (floor(ln·1e6) BIGINT) at the vocabulary level — the
    vocabulary aggregate is exact integer counts, so the only
    transcendental is evaluated once per DISTINCT token, and every
    per-document reduction is an exact BIGINT sum (order-independent,
    hash-gate-safe). The emitted mean is one int/int IEEE division.

    Scale shape: explode → repartition(token) computes (doc,token) tf,
    the vocab-grain ctf aggregate AND the logprob re-attach join on one
    exchange (hash join, no stream sort); the per-doc total is a BIGINT
    partial-agg sum. No self-joins, no float accumulation anywhere.
    """
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    toks = token_table(df, [id_col], text_col).repartition(n_shuffle, "token")
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    # The corpus total joins as a broadcast 1-row frame inside the one
    # plan — a build-time collect would derive the token stream a
    # second time before the main job starts.
    total = tf.agg(F.sum("tf").cast("double").alias("__t"))
    # The per-token corpus frequency is a vocab-grain aggregate joined
    # back with a SHUFFLE_HASH hint, not a window over partitionBy(token):
    # both sides inherit the token repartition above (zero new
    # exchanges), and the hash join needs no sort of the (doc, token) tf
    # stream (§2.4 — share one exchange; §3.1 — hash beats sort when the
    # build side is the bounded vocab slice). lp_micro is a
    # deterministic function of (ctf, __t), computed once per DISTINCT
    # token.
    vocab = tf.groupBy("token").agg(F.sum("tf").cast("long").alias("__ctf"))
    lp = vocab.join(F.broadcast(total)).select(
        "token",
        F.floor(
            F.log(F.col("__ctf").cast("double") / F.col("__t")) * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    with_lp = tf.join(lp.hint("shuffle_hash"), "token")
    return (
        with_lp.groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (-F.sum(F.col("tf") * F.col("lp_micro"))).cast("long").alias("surprisal_micro"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "surprisal_micro",
            (
                F.col("surprisal_micro").cast("double")
                / F.lit(1_000_000.0)
                / F.col("n_tokens").cast("double")
            ).alias("mean_nll"),
        )
    )


def build_inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    sample_postings: int = 10,
) -> DataFrame:
    """Corpus inverted index summary: per token, document frequency,
    total term frequency, an order-insensitive posting checksum (sum of
    doc ids — lets two index builds be diffed without comparing lists),
    and the first ``sample_postings`` posting ids as a string sample.

    The full posting LISTS are deliberately not collected into rows —
    at 100 TB a stopword's posting list is larger than an executor; the
    real index artifact is the (token, doc_id, tf) frame this summary is
    derived from, written out partitioned by token prefix. One explode
    pass → one repartition on token (per-(doc,token) tf and all per-token
    aggregates share that exchange); sort_array bounds the sample
    deterministically.
    """
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    toks = token_table(df, [id_col], text_col).repartition(n_shuffle, "token")
    tf = toks.groupBy("token", id_col).agg(F.count(F.lit(1)).cast("long").alias("tf"))
    return (
        tf.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df_docs"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.sum(F.col(id_col)).cast("long").alias("posting_checksum"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list(F.col(id_col))), 1, sample_postings),
                ",",
            ).alias("posting_sample"),
        )
        .filter(F.col("df_docs") >= min_df)
    )


def corpus_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    top_k: int = 15,
) -> DataFrame:
    """Token-distribution KL-divergence contributors between two corpus
    versions — the drift monitor a training-data pipeline runs when a
    filter/dedup/mixture change ships: which tokens does version A
    over-represent relative to version B, and by how much?

    Per-token contribution to KL(P_A || P_B) with add-one smoothing on
    the B side (so tokens absent from B stay finite):

        contrib_t = cnt_a(t) * floor( ln( (cnt_a(t) * (T_B + V))
                                        / (T_A * (cnt_b(t) + 1)) ) * 1e6 )

    Determinism discipline (same as ``unigram_logprob``): the only
    transcendental is evaluated once per DISTINCT token on exact
    integer-derived doubles and floor-quantized to BIGINT micro-units at
    birth; every downstream reduction is integer. The ln argument is
    assembled in a fixed operand order mirrored by the oracle, so both
    engines feed ln identical doubles.

    Scale shape: one token groupBy per version (partial agg; vocab-sized
    outputs), one vocab-sized FULL OUTER join serving both the union
    vocabulary and the contributor rows, the three scalar totals as ONE
    in-plan broadcast 1-row aggregate of that join (no driver actions,
    so no blocking job or py4j sync per scalar), and a bounded top-k.
    The corpus is touched once per version.
    """
    # Materialize the vocab-sized FULL OUTER join ONCE: the totals
    # aggregate and the contributor rows both read it, and as a lazy
    # reference each read would re-run both corpus scans + explodes —
    # the docstring's "touched once per version" only holds
    # materialized. A token in neither corpus cannot appear, so
    # count(*) over this join IS the union-vocabulary size V; sum over
    # a side's counts (nulls ignored) IS that side's total.
    fo = (
        _token_counts(df_a, text_col)
        .withColumnRenamed("c", "ca")
        .join(
            _token_counts(df_b, text_col).withColumnRenamed("c", "cb"),
            "token",
            "full_outer",
        )
        .localCheckpoint(eager=True)
    )
    # an all-NULL side sums to NULL (e.g. when one corpus is empty):
    # its total reads 0
    totals = fo.agg(
        F.coalesce(F.sum("ca"), F.lit(0)).cast("long").alias("__ta"),
        F.coalesce(F.sum("cb"), F.lit(0)).cast("long").alias("__tb"),
        F.count(F.lit(1)).cast("long").alias("__v"),
    )
    j = (
        fo.filter(F.col("ca").isNotNull())
        .select(
            "token",
            F.col("ca").alias("cnt_a"),
            F.coalesce(F.col("cb"), F.lit(0)).cast("long").alias("cnt_b"),
        )
        .join(F.broadcast(totals))
    )
    # operand order mirrors the oracle: (cnt_a · (T_B + V)) / (T_A ·
    # (cnt_b + 1)); the totals are exact BIGINTs well under 2^53, so
    # the double cast of the in-plan sum is exact.
    arg = (
        F.col("cnt_a").cast("double")
        * (F.col("__tb") + F.col("__v")).cast("double")
    ) / (
        F.col("__ta").cast("double") * (F.col("cnt_b") + F.lit(1)).cast("double")
    )
    out = j.select(
        "token",
        "cnt_a",
        "cnt_b",
        (F.col("cnt_a") * F.floor(F.log(arg) * F.lit(1_000_000.0)).cast("long"))
        .cast("long")
        .alias("contrib_micro"),
    )
    return out.orderBy(F.desc("contrib_micro"), "token").limit(top_k)


def _hashed_token_buckets(
    df: DataFrame,
    dim: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared hashing-trick token stream: one row per token of
    ``text_col`` (:func:`token_table`), with ``bucket`` = md5-hex-prefix int mod ``dim``
    (the cross-engine-reproducible hash — NOT xxhash64 — so ANSI oracles
    rebuild bucket ids bit-for-bit). Single definition used by both
    :func:`hashed_bow` and :func:`dsir_weights` so the tokenization and
    bucket hash can never silently diverge between featurizers."""
    toks = token_table(df, [id_col, *extra_cols], text_col)
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
        % F.lit(dim)
    ).alias("bucket")
    return toks.select(id_col, *extra_cols, bucket)


def hashed_bow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 32,
    dense: bool = False,
) -> DataFrame:
    """Hashing-trick bag-of-words (feature hashing, Weinberger et al.
    2009): token → bucket via an md5-derived integer mod ``dim``, counts
    per (doc, bucket) — the fixed-dimension vectorizer that needs NO
    vocabulary pass, no driver state, and no shuffle beyond the one
    counting aggregate, which is why it is the featurizer that still
    works at 100 TB when a vocab build would be its own job.

    The bucket hash is md5-hex-prefix → int — deliberately NOT xxhash64:
    md5 exists in every engine, so an ANSI oracle reproduces bucket ids
    bit-for-bit (same cross-engine-determinism discipline as the knuth
    split mixer). Long form (doc, bucket, n) by default; ``dense=True``
    adds a ``features`` array<long> of length ``dim`` built JVM-side
    (map lookup over a static sequence — no UDF).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1 (got {dim})")
    counts = _hashed_token_buckets(df, dim, id_col, text_col).groupBy(
        id_col, "bucket"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    if not dense:
        return counts
    entries = counts.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("n")))
        ).alias("__m")
    )
    features = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.col("__m")[i.cast("long")], F.lit(0).cast("long")),
    )
    return entries.select(id_col, features.alias("features"))


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Per-group Shannon entropy (nats) of the token distribution — the
    vocabulary-diversity signal (near-zero entropy = templated/
    boilerplate text; the corpus-level cousin of the per-doc repetition
    stats).

    Cross-engine float discipline (same as bm25/unigram_logprob): JVM
    and DuckDB ``ln`` differ in the last ulp, so ``ln(count)`` is
    quantized to integer MICRO-NATS at birth; Σ c·ln_micro(c) is then
    an exact BIGINT under any partitioning, and the final
    ``entropy = ln_micro(n)·1e−6 − (Σ c·ln_micro(c))/n·1e−6`` is one
    deterministic fp64 expression from exact integers. Two partial-agg
    shuffles: (group, token) counts, then per-group sums over the
    count table — never the raw token stream twice.
    """
    counts = (
        token_table(df, [group_col], text_col)
        .groupBy(group_col, "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ln_micro = F.round(F.log(F.col("c").cast("double")) * 1_000_000).cast("long")
    agg = counts.groupBy(group_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c") * ln_micro).cast("long").alias("__s"),
    )
    n_d = F.col("n_tokens").cast("double")
    ln_n_micro = F.round(F.log(n_d) * 1_000_000).cast("long")
    entropy = (
        ln_n_micro.cast("double") - F.col("__s").cast("double") / n_d
    ) * F.lit(1e-6)
    return agg.select(group_col, "n_tokens", entropy.alias("entropy_nats"))


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean NLL under the corpus's own add-one-smoothed
    BIGRAM model — the context-aware upgrade of ``unigram_logprob``
    (word salad with plausible unigrams scores high here, which is the
    quality signal unigram perplexity cannot see):

        P(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V)

    Same micro-unit float discipline: the only transcendental is
    evaluated once per DISTINCT corpus bigram on exact integer counts
    (floor(ln·1e6) BIGINT); every per-document reduction is an exact
    integer sum, so the gate hash-matches under any partitioning.

    Scale shape: one explode produces the doc-bigram tf table; corpus
    bigram counts and the w₁ marginal are re-aggregations of THAT table
    (never a second corpus scan); the logprob join is co-keyed on
    (w₁,w₂). Docs with <2 tokens have no bigrams and drop out — same
    semantics both engines.
    """
    tf = (
        _pair_stream(df, text_col, 1, [id_col])
        .groupBy(id_col, F.col("a").alias("w1"), F.col("b").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # The |bigram-types|-row LM table is built ONCE and materialized —
    # the model-scale frame a real pipeline would persist — so c1, the
    # vocabulary size and the scoring join read it instead of each
    # re-deriving the bigram stream. The vocabulary size comes from the
    # distinct-bigram table itself (every token of the pair stream
    # appears in some corpus row, so distinct(w1 ∪ w2) is the same set)
    # and joins as a broadcast 1-row frame, not a build-time count. The
    # token stream is derived exactly twice (model build, scoring), the
    # minimum without materializing the token-scale tf table.
    corpus = (
        tf.groupBy("w1", "w2")
        .agg(F.sum("tf").cast("long").alias("c12"))
        .localCheckpoint(eager=True)
    )
    c1 = corpus.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vsize = (
        corpus.select(F.col("w1").alias("w"))
        .union(corpus.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("__v"))
    )
    lp = (
        corpus.join(c1, "w1")
        .join(F.broadcast(vsize))
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    (F.col("c12") + F.lit(1)).cast("double")
                    / (F.col("c1") + F.col("__v")).cast("double")
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        tf.join(lp, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            (-F.sum(F.col("tf") * F.col("lp_micro"))).cast("long").alias("surprisal_micro"),
        )
        .select(
            id_col,
            "n_bigrams",
            "surprisal_micro",
            (
                F.col("surprisal_micro").cast("double")
                / F.lit(1_000_000.0)
                / F.col("n_bigrams").cast("double")
            ).alias("mean_nll"),
        )
    )


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Composite Gopher-style quality-rule evaluation (Rae et al. 2021,
    arXiv:2112.11446 §A1.1 — the published rule set the big English
    pipelines standardized on): per document, one boolean per rule plus
    the conjunction, so pipelines can both FILTER (``keep``) and AUDIT
    (which rule fires how often — the per-rule booleans feed a one-line
    ``avg`` dashboard).

    Rules (thresholds per the paper, word-count bounds parameterized):

    - ``r_word_count``   — word count in [min_words, max_words]
    - ``r_mean_word_len``— mean word length in [3, 10] characters
    - ``r_symbol_ratio`` — ('#' + '…'-as-'...') per word <= 0.1
    - ``r_bullet_lines`` — <= 10 % of lines start with a bullet
      ('- ', '* ', '• ')
    - ``r_ellipsis_lines`` — <= 30 % of lines end with '...'
    - ``r_alpha_words``  — >= 80 % of words contain a letter
    - ``r_stopwords``    — >= 2 occurrences of a core stopword
      (the/be/to/of/and/that/have/with)

    Every rule is evaluated in EXACT INTEGER arithmetic (counts and
    cross-multiplied thresholds — e.g. ``30·hash + 10·ell3 <= 3·words``
    instead of a float ratio), so the output is hash-identical across
    engines and partitionings. One projection pass, no shuffle, no UDF —
    the 100 TB posture for a first-pass filter.
    """
    t = F.col(text_col)
    words = tokens(t)
    lines = F.split(t, "\n")
    n_words = F.size(words).cast("long")
    n_lines = F.size(lines).cast("long")
    word_chars = F.length(F.regexp_replace(t, r"\s+", "")).cast("long")
    hash_count = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast("long")
    # '...' occurrences × 3 (length delta of non-overlapping replace)
    ell3 = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("• "),
        )
    ).cast("long")
    n_ell_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).endswith("..."))
    ).cast("long")
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    stop = F.array(*[F.lit(s) for s in ("the", "be", "to", "of", "and", "that", "have", "with")])
    n_stop = F.size(
        F.filter(words, lambda w: F.array_contains(stop, w))
    ).cast("long")

    r_word_count = (n_words >= min_words) & (n_words <= max_words)
    r_mean_word_len = (word_chars >= 3 * n_words) & (word_chars <= 10 * n_words)
    r_symbol_ratio = (30 * hash_count + 10 * ell3) <= (3 * n_words)
    r_bullet_lines = (10 * n_bullet) <= n_lines
    r_ellipsis_lines = (10 * n_ell_lines) <= (3 * n_lines)
    r_alpha_words = (5 * n_alpha) >= (4 * n_words)
    r_stopwords = n_stop >= 2

    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        r_word_count.alias("r_word_count"),
        r_mean_word_len.alias("r_mean_word_len"),
        r_symbol_ratio.alias("r_symbol_ratio"),
        r_bullet_lines.alias("r_bullet_lines"),
        r_ellipsis_lines.alias("r_ellipsis_lines"),
        r_alpha_words.alias("r_alpha_words"),
        r_stopwords.alias("r_stopwords"),
        (
            r_word_count
            & r_mean_word_len
            & r_symbol_ratio
            & r_bullet_lines
            & r_ellipsis_lines
            & r_alpha_words
            & r_stopwords
        ).alias("keep"),
    )


def ngram_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Per-document n-gram diversity counts — the distinct/total n-gram
    ratios (n = 1, 2, 3 by default) that quantify repetitiveness the way
    Self-BLEU-style audits do: a spammy or template-stuffed document has
    a LOW distinct fraction at higher n. Counts are returned as exact
    integers (``total_n``, ``distinct_n``); consumers derive the ratio,
    so output hash-matches any engine.

    Same tokenization as the dedup stack (``word_ngrams`` over
    ``tokens``, empty grams dropped; a document shorter than n
    emits itself as its single "n-gram", consistent with the passage
    operators). One projection pass, zero shuffle, codegen'd.
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_ngrams

    cols = [F.col(id_col)]
    for n in ns:
        grams = F.filter(word_ngrams(text_col, n), lambda g: F.length(g) > 0)
        cols.append(F.size(grams).cast("long").alias(f"total_{n}"))
        cols.append(F.size(F.array_distinct(grams)).cast("long").alias(f"distinct_{n}"))
    return df.select(*cols)


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): score every document with the corpus bigram LM
    (:func:`bigram_logprob`, micro-nat discipline) and label it
    ``head`` / ``middle`` / ``tail`` by the corpus NLL terciles — the
    standard quality stratification pipelines sample from (head = most
    fluent, tail = candidates for dropping).

    Determinism: mean_nll derives from exact integer micro-nat sums;
    the tercile thresholds are exact interpolating percentiles (the
    order-statistic definition both engines share); bucket comparisons
    are then exact fp64. Boundary docs (mean_nll == threshold) land in
    the LOWER bucket in both engines.

    Shape: the LM scoring plan (one explode + co-keyed re-aggregations),
    then ONE 1-row global percentile aggregate broadcast back over the
    per-doc score table (|docs| rows, never the token stream).
    """
    # `scored` is referenced twice (tercile thresholds + final
    # projection); unmaterialized, BOTH the LM build and the scoring
    # join would run twice. The per-doc score table is the narrow
    # decision proxy (4 numeric cols/doc — guide §8 "decide with small
    # rows"): materializing it costs |docs|·~32 B and halves the
    # pipeline, at any scale cheaper than a second full LM pass.
    scored = bigram_logprob(df, id_col=id_col, text_col=text_col).localCheckpoint(
        eager=True
    )
    th = scored.agg(
        F.expr("percentile(mean_nll, CAST(1 AS DOUBLE)/3)").alias("__t1"),
        F.expr("percentile(mean_nll, CAST(2 AS DOUBLE)/3)").alias("__t2"),
    )
    return scored.crossJoin(F.broadcast(th)).select(
        F.col(id_col),
        "n_bigrams",
        "surprisal_micro",
        "mean_nll",
        F.when(F.col("mean_nll") <= F.col("__t1"), F.lit("head"))
        .when(F.col("mean_nll") <= F.col("__t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def dsir_weights(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every document by how much its
    hashed-unigram distribution looks like a TARGET slice of the corpus
    versus the rest, log p_target(doc) − log p_raw(doc) under bag-of-
    hashed-ngram models. High scores = raw documents that resemble the
    target domain — the standard recipe for tilting a 100 TB crawl
    toward a quality/domain slice without training a classifier.

    ``target_pred`` is a boolean Column splitting the corpus (e.g.
    ``F.col("source") == "src18"``). Token → bucket uses the md5-prefix
    hash (cross-engine-reproducible, same discipline as
    :func:`hashed_bow`); both bucket models are add-one smoothed over
    ``dim`` buckets. Per-bucket log-ratios are quantized to integer
    micro-nats at the MODEL level (dim rows), so each document's score
    is an exact integer sum — deterministic and oracle-matchable.

    Returns (id_col, n_tokens, dsir_micro) for RAW (non-target) docs,
    the candidates for importance resampling.

    Scale: the model is two aggregates over the token stream (one
    shuffle each, partial-agg) reduced to a ``dim``-row broadcast table;
    scoring is the token stream joined to that broadcast + one groupBy
    doc. No vocabulary pass, no driver state beyond the dim-row map.
    """
    if dim < 2:
        raise ValueError(f"dim must be >= 2 (got {dim})")
    # coalesce: a NULL predicate (e.g. NULL source column) routes to the
    # RAW model — matching SQL's CASE WHEN ... ELSE semantics — instead
    # of silently dropping the doc from both models.
    tagged = _hashed_token_buckets(
        df.withColumn("__is_t", F.coalesce(target_pred, F.lit(False))),
        dim,
        id_col,
        text_col,
        extra_cols=("__is_t",),
    )

    # The model is checkpointed (dim rows — trivially bounded) and the
    # corpus totals are ITS column sums, so the hashed token stream is
    # derived twice — model build and scoring — the minimum without
    # materializing token-scale data.
    model = (
        tagged.groupBy("bucket")
        .agg(
            F.sum(F.col("__is_t").cast("long")).alias("__ct"),
            F.sum((~F.col("__is_t")).cast("long")).alias("__cr"),
        )
        .localCheckpoint(eager=True)
    )
    totals = model.agg(
        F.sum("__ct").alias("__tt"),
        F.sum("__cr").alias("__tr"),
    )
    # log((ct+1)/(tt+dim)) - log((cr+1)/(tr+dim)) over exact integers,
    # quantized to micro-nats once per bucket (dim rows, not per token).
    lw = (
        model.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            # Difference of two log-ratios, each a single long/long IEEE
            # division — no ct·tr integer product that would overflow
            # 2^63 at corpus token counts, and the same expression shape
            # an ANSI oracle computes, so quantization matches.
            F.round(
                (
                    F.log(
                        (F.col("__ct") + 1).cast("double")
                        / (F.col("__tt") + F.lit(dim)).cast("double")
                    )
                    - F.log(
                        (F.col("__cr") + 1).cast("double")
                        / (F.col("__tr") + F.lit(dim)).cast("double")
                    )
                )
                * F.lit(1_000_000.0)
            ).cast("long")
            .alias("lw_micro"),
        )
    )
    raw_toks = tagged.filter(~F.col("__is_t"))
    return (
        raw_toks.join(F.broadcast(lw), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lw_micro").cast("long").alias("dsir_micro"),
        )
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    top_n: int = 256,
) -> DataFrame:
    """Zipf's-law fit per corpus slice: OLS slope of ln(frequency) on
    ln(rank) over the ``top_n`` most frequent tokens — the classic
    corpus-health diagnostic (natural language sits near slope −1;
    template/boilerplate-heavy or synthetic corpora drift off it; see
    Piantadosi 2014 for the empirical law).

    Returns one row per slice: (lang?, n_terms, slope_micro,
    intercept_micro), micro-scaled integers.

    Float discipline (engine-wide): ranks and counts are exact
    integers, so ln(rank)/ln(count) are lns OF IDENTICAL DOUBLES in
    any engine — each is floor-quantized to micro-nats at birth, and
    the OLS runs entirely on those micro-integers: sums are exact
    longs, the final slope/intercept are fixed-order double ratios of
    those longs, floored to micro. Bit-identical cross-engine.

    Scale shape: one explode + partial-agg groupBy collapses the
    corpus to its vocabulary (domain-bounded); the rank window runs
    over the VOCABULARY per slice (cnt DESC, token tiebreak —
    deterministic total order), the regression is a second partial agg
    over ≤ top_n rows per slice. No global sort of rows, no collect.
    """
    from pyspark.sql import Window

    if top_n < 2:
        raise ValueError(f"top_n must be >= 2 (got {top_n})")
    keys = [lang_col] if lang_col else []
    vocab = (
        token_table(df, keys, text_col)
        .groupBy(*keys, "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy(*keys).orderBy(F.col("cnt").desc(), F.col("token"))
    ranked = (
        vocab.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            *keys,
            F.floor(F.log(F.col("rank").cast("double")) * F.lit(1_000_000.0))
            .cast("long")
            .alias("x"),
            F.floor(F.log(F.col("cnt").cast("double")) * F.lit(1_000_000.0))
            .cast("long")
            .alias("y"),
        )
    )
    agg = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_terms").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    slope = (n * F.col("sxy").cast("double") - sx * sy) / (
        n * F.col("sxx").cast("double") - sx * sx
    )
    intercept = (sy - slope * sx) / n
    return agg.select(
        *keys,
        "n_terms",
        F.floor(slope * F.lit(1_000_000.0)).cast("long").alias("slope_micro"),
        F.floor(intercept).cast("long").alias("intercept_micro"),
    )


def _pair_stream(
    df: DataFrame, text_col: str, window: int, keys: Sequence[str] = ()
) -> DataFrame:
    """Ordered in-window token-pair stream (*keys, a, b) (a precedes b
    by 1..window), one row per pair SLOT: emitted per document row by a
    transform×transform over the LAMBDA-BOUND token array — zero
    shuffles, no positional self-join, no re-tokenization per slot
    (``_bind_once``). ``window=1`` is exactly the consecutive-bigram
    stream. Shared by :func:`pmi_cooccur`, :func:`kneser_ney_bigram`,
    :func:`textrank_keywords` and the bigram language models."""
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import _bind_once

    if window < 1:
        raise ValueError(f"window must be >= 1 (got {window})")

    def pair_slots(t: Column) -> Column:
        # sequence() with stop < start yields a DESCENDING range, never
        # an empty array — docs with < 2 tokens must short-circuit.
        slots = F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(window), F.size(t) - 1 - i)
                    ),
                    lambda d: F.struct(
                        F.element_at(t, (i + 1).cast("int")).alias("a"),
                        F.element_at(t, (i + d + 1).cast("int")).alias("b"),
                    ),
                ),
            )
        )
        empty = F.array().cast("array<struct<a:string,b:string>>")
        return F.when(F.size(t) >= 2, slots).otherwise(empty)

    return df.select(
        *keys, F.explode(_bind_once(tokens(text_col), pair_slots)).alias("p")
    ).select(*keys, F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def pmi_cooccur(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
    min_pairs: int = 5,
) -> DataFrame:
    """Collocation mining: pointwise mutual information of ORDERED
    token pairs co-occurring within ``window`` positions (a precedes b
    by 1..window) — the classic Church & Hanks (1990) association
    measure that surfaces multiword expressions ("new york") a unigram
    vocabulary cannot see.

    pmi = ln( P(a,b) / (P(a)·P(b)) ) with P(a,b) = c_ab/N_pairs over
    in-window pair slots and P(·) = cnt/N_tokens over unigrams,
    quantized to micro-nats at birth. The ln argument is a fixed-order
    chain of double ratios of exact longs — (c_ab/N_pairs)·
    (N_tok/c_a)·(N_tok/c_b) — no long·long product ever materializes,
    so nothing can pass 2^63 at corpus scale.

    Returns (a, b, n_ab, n_a, n_b, pmi_micro) for pairs with
    n_ab >= ``min_pairs``.

    Scale shape: pair slots are emitted PER ROW by a
    transform×transform over the token array (zero shuffle — no
    positional self-join of an exploded token table); one partial-agg
    groupBy on the pair, two broadcast joins against the
    (domain-bounded) unigram vocabulary, corpus totals via 1-row
    broadcast crossJoins. The min_pairs cut applies before the
    marginal joins, so the joined stream is the collocation table, not
    the pair stream. The token array is LAMBDA-BOUND (``_bind_once``)
    into the slot expression — element_at references a bound variable,
    not the tokenizer, which un-bound would re-tokenize the
    document once per slot reference (measured 32 s → 1 s at sf0.1).
    """
    vocab = _token_counts(df, text_col).withColumnRenamed("c", "cnt")
    n_tok = vocab.groupBy().agg(F.sum("cnt").cast("long").alias("n_tokens"))

    pairs = _pair_stream(df, text_col, window)
    pair_cnt = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_ab")
    )
    n_pairs = pair_cnt.groupBy().agg(F.sum("n_ab").cast("long").alias("n_pairs"))

    cut = pair_cnt.filter(F.col("n_ab") >= min_pairs)
    # vocabulary margins grow with the corpus (Heaps' law — unbounded
    # unique tokens at 100 TB), so no forced broadcast on them; AQE
    # still broadcasts when the observed vocab is small.
    joined = (
        cut.join(
            vocab.select(F.col("token").alias("a"), F.col("cnt").alias("n_a")),
            "a",
        )
        .join(
            vocab.select(F.col("token").alias("b"), F.col("cnt").alias("n_b")),
            "b",
        )
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_tok))
    )
    ratio = (
        (F.col("n_ab").cast("double") / F.col("n_pairs").cast("double"))
        * (F.col("n_tokens").cast("double") / F.col("n_a").cast("double"))
        * (F.col("n_tokens").cast("double") / F.col("n_b").cast("double"))
    )
    return joined.select(
        "a", "b", "n_ab", "n_a", "n_b",
        F.floor(F.log(ratio) * F.lit(1_000_000.0)).cast("long").alias("pmi_micro"),
    )


def script_histogram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-class histogram per document — the cheap corpus-QA
    screen that catches mojibake, base64 blobs, ASCII art, and
    digit-dump rows before any tokenizer runs: counts of letters,
    digits, whitespace, punctuation, and other, plus an integer-ppm
    alpha ratio.

    Each count is length(text) − length(regexp_replace(text, class,
    '')) — pure integer arithmetic over one projection, zero shuffles,
    whole-stage codegen; 'other' is the remainder, so the five counts
    always sum to n_chars (pinned in pytest). Classes are explicit
    ASCII-safe regexes (no \\p{L} engine-dependence — identical
    semantics in any regex engine an oracle might use). NULL text
    yields no row.

    Returns (id, n_chars, n_letters, n_digits, n_space, n_punct,
    n_other, alpha_ppm).
    """
    t = F.col(text_col)

    def n_of(pattern: str) -> Column:
        return (F.length(t) - F.length(F.regexp_replace(t, pattern, ""))).cast("long")

    n_chars = F.length(t).cast("long")
    n_letters = n_of("[A-Za-z]")
    n_digits = n_of("[0-9]")
    n_space = n_of(r"[ \t\n\r]")
    n_punct = n_of(r"[!-/:-@\[-`{-~]")
    counts = df.filter(t.isNotNull()).select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_letters.alias("n_letters"),
        n_digits.alias("n_digits"),
        n_space.alias("n_space"),
        n_punct.alias("n_punct"),
        (n_chars - n_letters - n_digits - n_space - n_punct).alias("n_other"),
    )
    return counts.withColumn(
        "alpha_ppm",
        F.when(
            F.col("n_chars") > 0,
            F.expr("1000000 * n_letters div n_chars"),
        ).otherwise(F.lit(0)).cast("long"),
    )


def kneser_ney_bigram(
    df: DataFrame,
    text_col: str = "text",
    discount_centi: int = 75,
    min_count: int = 1,
) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram language model (Kneser &
    Ney 1995; Chen & Goodman 1999 eq. 4.2) — THE standard n-gram
    smoothing, distinguishing itself from add-one/backoff
    (``bigram_condprob`` / ``bigram_logprob``) by the CONTINUATION
    count: "francisco" is frequent but only ever follows "san", so its
    unigram backoff weight should be tiny — which only #distinct left
    contexts captures:

        P_KN(w2|w1) = max(c12 − d, 0)/c1
                      + (d·N1+(w1·)/c1) · (N1+(·w2)/T)

    with d = ``discount_centi``/100 (default 0.75 — exactly
    representable in binary, so the subtraction is exact), N1+(w1·) =
    #distinct followers of w1, N1+(·w2) = #distinct left contexts of
    w2, T = #distinct bigram types.

    Returns (w1, w2, c12, c1, n_follow, n_context, t_types, pkn_micro)
    for bigrams with c12 >= ``min_count`` — every column an exact
    integer except the final fixed-order double ratio chain, floored
    to micro at birth. Σ_w2 P_KN(w2|w1) = 1 exactly (over ALL observed
    w2 — the mass identity is pinned in pytest at min_count=1).

    Scale shape: the consecutive-bigram stream comes from the
    zero-shuffle ``_pair_stream`` (window=1); ONE partial-agg groupBy
    collapses it to bigram types (domain-bounded); c1/N1+(w1·) are
    windows partitioned on w1 and N1+(·w2) on w2 — both over the TYPE
    table, never the token stream; T attaches as a broadcast 1-row
    aggregate. No global window, no collect.
    """
    from pyspark.sql import Window

    if not 0 < discount_centi < 100:
        raise ValueError(f"discount_centi must be in (0,100) (got {discount_centi})")
    bigrams = _pair_stream(df, text_col, window=1)
    types = bigrams.groupBy(
        F.col("a").alias("w1"), F.col("b").alias("w2")
    ).agg(F.count(F.lit(1)).cast("long").alias("c12"))
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    enriched = types.select(
        "w1", "w2", "c12",
        F.sum("c12").over(w1w).cast("long").alias("c1"),
        F.count(F.lit(1)).over(w1w).cast("long").alias("n_follow"),
        F.count(F.lit(1)).over(w2w).cast("long").alias("n_context"),
    )
    t_types = types.groupBy().agg(F.count(F.lit(1)).cast("long").alias("t_types"))
    d = F.lit(discount_centi / 100.0)
    pkn = (
        F.greatest(F.col("c12").cast("double") - d, F.lit(0.0))
        / F.col("c1").cast("double")
        + (d * F.col("n_follow").cast("double") / F.col("c1").cast("double"))
        * (F.col("n_context").cast("double") / F.col("t_types").cast("double"))
    )
    return (
        enriched.crossJoin(F.broadcast(t_types))
        .filter(F.col("c12") >= min_count)
        .select(
            "w1", "w2", "c12", "c1", "n_follow", "n_context", "t_types",
            F.floor(pkn * F.lit(1_000_000.0)).cast("long").alias("pkn_micro"),
        )
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    window: int = 2,
    min_cooccur: int = 3,
    iters: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the token co-occurrence graph — a token matters if it
    co-occurs with tokens that matter, which plain frequency (and even
    tf-idf) cannot express. Composes two existing engine pieces: the
    zero-shuffle in-window pair stream (:func:`_pair_stream`) and the
    exact integer micro-unit PageRank (``graph.pagerank_integer``) —
    so the iterative fixpoint stays ORACLE-PROVABLE (unrolled CTEs),
    unlike float PageRank whose neighbor sums are partition-order
    dependent.

    Graph: undirected (each a→b co-occurrence count also contributes
    b→a), edges with count >= ``min_cooccur`` (the stopword-free
    denoising knob — we have no POS tagger). Returns the ``top_k``
    (token, rank_micro) rows by (rank DESC, token) — a bounded
    TakeOrderedAndProject, never a global sort.
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.graph import pagerank_integer

    pairs = _pair_stream(df, text_col, window)
    cnt = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    cnt = cnt.filter(F.col("n") >= min_cooccur)
    fwd = cnt.select(F.col("a").alias("src"), F.col("b").alias("dst"), F.col("n").alias("weight"))
    rev = cnt.select(F.col("b").alias("src"), F.col("a").alias("dst"), F.col("n").alias("weight"))
    # a→b and b→a counts merge so self-pairs ("the the") don't emit two
    # parallel edges; out-weight sums are over the merged edge list
    edges = (
        fwd.unionByName(rev)
        .groupBy("src", "dst")
        .agg(F.sum("weight").cast("long").alias("weight"))
        .localCheckpoint(eager=True)
    )
    ranks = pagerank_integer(edges, iters=iters)
    return (
        ranks.orderBy(F.col("rank_micro").desc(), F.col("node"))
        .limit(top_k)
        .select(F.col("node").alias("token"), "rank_micro")
    )


def dictionary_tag(
    df: DataFrame,
    terms: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    use_join: bool = False,
) -> DataFrame:
    """Weighted-lexicon tagging: score every document against a term
    dictionary (term → integer weight) — the workhorse behind topic
    flagging, policy screens, and lexicon sentiment at corpus scale.
    Per document: token count, dictionary hits (with multiplicity),
    distinct terms matched, and the weight sum over matched tokens.

    Two physical strategies, IDENTICAL results (twin-tested):

    - ``use_join=False`` (default, small lexicons): the dictionary is a
      LITERAL map baked into the plan — matching is a per-row
      filter/aggregate over the lambda-bound token array, so the doc
      stream is scanned ONCE with ZERO shuffles and ZERO joins (the
      aggregation state is per-row, not per-key). The lexicon and the
      token array are bound together in one struct (``_bind_once``) so
      neither re-evaluates per element.
    - ``use_join=True`` (lexicons too big for a plan literal): explode
      tokens, broadcast-hash-join the term table, re-aggregate per doc
      — one shuffle on the doc id, dictionary never leaves the
      broadcast.

    All outputs are exact integers — no float anywhere.

    Returns (id, n_tokens, n_hits, n_terms, score).
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import _bind_once

    if not terms:
        raise ValueError("terms dictionary must be non-empty")
    items = sorted(terms.items())
    # NULL text tags as an empty document: tokens() gives [], and the
    # join path's explode_outer keeps the document as one NULL-term row
    toks = tokens(text_col)
    if use_join:
        spark = df.sparkSession
        dict_df = spark.createDataFrame(items, "__term string, __w long")
        exploded = df.select(
            F.col(id_col).alias("__id"), F.explode_outer(toks).alias("__term")
        )
        joined = exploded.join(F.broadcast(dict_df), "__term", "left")
        hit = F.col("__w").isNotNull()
        return (
            joined.groupBy("__id")
            .agg(
                F.count("__term").cast("long").alias("n_tokens"),
                F.sum(hit.cast("long")).cast("long").alias("n_hits"),
                F.count_distinct(F.when(hit, F.col("__term"))).cast("long").alias("n_terms"),
                F.sum(F.coalesce(F.col("__w"), F.lit(0))).cast("long").alias("score"),
            )
            .select(F.col("__id").alias(id_col), "n_tokens", "n_hits", "n_terms", "score")
        )
    mp = F.map_from_arrays(
        F.array(*[F.lit(k) for k, _ in items]),
        F.array(*[F.lit(int(v)).cast("long") for _, v in items]),
    )

    def build(bound: Column) -> Column:
        t, m = bound["t"], bound["m"]
        matched = F.filter(t, lambda x: F.map_contains_key(m, x))
        return F.struct(
            F.size(t).cast("long").alias("n_tokens"),
            F.size(matched).cast("long").alias("n_hits"),
            F.size(F.array_distinct(matched)).cast("long").alias("n_terms"),
            F.aggregate(
                matched,
                F.lit(0).cast("long"),
                lambda acc, x: acc + F.coalesce(F.try_element_at(m, x), F.lit(0)),
            ).alias("score"),
        )

    tagged = _bind_once(F.struct(toks.alias("t"), mp.alias("m")), build)
    return df.select(
        F.col(id_col).alias(id_col), tagged.alias("__r")
    ).select(
        id_col,
        F.col("__r.n_tokens").alias("n_tokens"),
        F.col("__r.n_hits").alias("n_hits"),
        F.col("__r.n_terms").alias("n_terms"),
        F.col("__r.score").alias("score"),
    )


def heaps_law(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ≈ K·N^β over the
    corpus read in ``id_col`` order — the sublinearity constant (β ≈
    0.4–0.6 for natural language) that sizes vocabularies, predicts
    OOV rates, and flags TEMPLATED corpora (β near 0: new documents
    stop contributing types) before training does.

    Fully distributed, despite "cumulative vocabulary" sounding
    sequential: a token's contribution to the growth curve is exactly
    one type-birth at its FIRST document — so V = cumsum of
    (#tokens whose min-doc falls in the slice), and N = cumsum of
    slice token counts. One token groupBy (min doc), one rollup, and
    the curve is sampled at ``n_buckets`` equal-width doc-id slices so
    the only unpartitioned window runs over ≤ n_buckets rows — a
    CONSTANT, never the doc count (a per-doc cumsum would be a
    single-task window over the whole corpus at 100 TB; the OLS fit
    needs a few hundred curve points, not a billion). Bucket width is
    derived from the exact min/max id by ceil division — all integer,
    oracle-replicable.

    Exactness: counts are exact longs; ln N_d and ln V_d are quantized
    to integer micro-nats AT BIRTH (a raw Σln over docs would be
    partition-order dependent); the OLS moments over those micro-ints
    accumulate in DECIMAL(38,0), and slope/intercept are each ONE
    double division of exact integers:

        β   = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)
        lnK = (Σy·Σxx − Σx·Σxy) / (n·Σxx − Σx²)   [micro-nats]

    Returns one row (n_points, n_tokens, n_types, beta_micro,
    lnk_micro).
    """
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2 (got {n_buckets})")
    tok = token_table(df, [F.col(id_col).cast("long").alias("__d")], text_col)
    bounds = tok.groupBy().agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    width = F.expr(f"(__hi - __lo + {n_buckets}) div {n_buckets}")

    def bucket_of(d) -> "Column":
        return F.expr(f"({d} - __lo) div __width")

    per_doc = (
        tok.groupBy("__d")
        .agg(F.count(F.lit(1)).cast("long").alias("__n_tok"))
        .crossJoin(F.broadcast(bounds.select("__lo", width.alias("__width"))))
        .groupBy(bucket_of("__d").alias("__b"))
        .agg(F.sum("__n_tok").cast("long").alias("__n_tok"))
    )
    births = (
        tok.groupBy("token")
        .agg(F.min("__d").alias("__d"))
        .crossJoin(F.broadcast(bounds.select("__lo", width.alias("__width"))))
        .groupBy(bucket_of("__d").alias("__b"))
        .agg(F.count(F.lit(1)).cast("long").alias("__n_new"))
    )
    slice_ = per_doc.join(births, "__b", "left").select(
        "__b",
        "__n_tok",
        F.coalesce("__n_new", F.lit(0)).cast("long").alias("__n_new"),
    )
    # bounded window: <= n_buckets rows by construction
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    curve = slice_.select(
        F.sum("__n_tok").over(w).cast("long").alias("__N"),
        F.sum("__n_new").over(w).cast("long").alias("__V"),
    ).filter((F.col("__N") > 0) & (F.col("__V") > 0))
    x = F.floor(F.log(F.col("__N").cast("double")) * F.lit(1_000_000.0)).cast("long")
    y = F.floor(F.log(F.col("__V").cast("double")) * F.lit(1_000_000.0)).cast("long")
    dec = "decimal(38,0)"
    pts = curve.select(x.cast(dec).alias("__x"), y.cast(dec).alias("__y"))
    mom = pts.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("__x").cast(dec).alias("__sx"),
        F.sum("__y").cast(dec).alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast(dec).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast(dec).alias("__sxx"),
    )
    tot = tok.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count_distinct("token").cast("long").alias("n_types"),
    )
    nD = F.col("n_points").cast(dec)
    sx, sy = F.col("__sx"), F.col("__sy")
    sxy, sxx = F.col("__sxy"), F.col("__sxx")
    den = (nD * sxx - sx * sx).cast(dec)
    bnum = (nD * sxy - sx * sy).cast(dec)
    inum = (sy * sxx - sx * sxy).cast(dec)
    return mom.crossJoin(F.broadcast(tot)).select(
        "n_points", "n_tokens", "n_types",
        F.floor(
            bnum.cast("double") / den.cast("double") * F.lit(1_000_000.0)
        ).cast("long").alias("beta_micro"),
        F.floor(inum.cast("double") / den.cast("double")).cast("long").alias(
            "lnk_micro"
        ),
    )


def simpson_diversity(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Simpson diversity of each group's token distribution: D =
    Σ nᵢ(nᵢ−1) / (N(N−1)) — the probability two tokens drawn WITHOUT
    replacement are the same type — and its Gini-Simpson complement
    1−D. The heavy-hitter-sensitive twin of ``token_entropy``
    (entropy rewards the long tail; Simpson is dominated by the top
    types, so a template flood moves D long before it moves H).

    Exactness: both numerator and denominator are EXACT integers
    (DECIMAL(38,0) — nᵢ² passes 2^63 for any type above ~3e9 tokens);
    the two emitted ratios are each one fixed-order double chain over
    those integers, micro-floored. Groups with N < 2 are dropped
    (no pair exists to draw).

    Shape: one (group, token) partial-agg shuffle bounded by the
    group×vocabulary domain, one group rollup. No window, no collect.

    Returns (group, n_tokens, n_types, simpson_micro,
    gini_simpson_micro).
    """
    dec = "decimal(38,0)"
    counts = (
        token_table(df, [F.col(group_col).alias("__g")], text_col)
        .groupBy("__g", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    nd = F.col("__n").cast(dec)
    agg = counts.groupBy("__g").agg(
        F.sum("__n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(nd * (nd - F.lit(1).cast(dec))).cast(dec).alias("__num"),
    ).filter(F.col("n_tokens") >= 2)
    ntd = F.col("n_tokens").cast(dec)
    den = (ntd * (ntd - F.lit(1).cast(dec))).cast(dec)
    d = F.col("__num").cast("double") / den.cast("double")
    return agg.select(
        F.col("__g").alias(group_col),
        "n_tokens", "n_types",
        F.floor(d * F.lit(1_000_000.0)).cast("long").alias("simpson_micro"),
        F.floor((F.lit(1.0) - d) * F.lit(1_000_000.0)).cast("long").alias(
            "gini_simpson_micro"
        ),
    )


def readability(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade per document — the
    classic surface-complexity screens a quality pipeline runs next to
    length/stopword heuristics (``gopher_rules``) and perplexity:

        ease  = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
        grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59

    Conventions, fixed and oracle-replicated: sentences S = max(1,
    #runs of [.!?]) over the raw text; words W = ``tokens`` of the
    text; syllables per word = max(1, #vowel
    GROUPS [aeiouy]+) — the standard vowel-cluster heuristic (exact
    syllabification needs a dictionary; the heuristic is deterministic
    and language-blind, which is what a corpus screen wants). Docs
    with zero words are dropped.

    Exactness: S/W/Syl are exact integers; both scores are one
    fixed-order fp64 chain over them, micro-floored. The per-word
    vowel-group count runs inside a lambda-bound transform (regexp per
    TOKEN, one pass, zero shuffles — the whole operator is a narrow
    projection).

    Returns (id, n_sentences, n_words, n_syllables, ease_micro,
    grade_micro).
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import _bind_once

    sents = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(F.coalesce(F.col(text_col), F.lit("")), F.lit(r"[.!?]+"))
        .cast("long"),
    )

    def build(t: Column) -> Column:
        syl = F.aggregate(
            t,
            F.lit(0).cast("long"),
            lambda acc, w: acc
            + F.greatest(
                F.lit(1).cast("long"),
                F.regexp_count(w, F.lit(r"[aeiouy]+")).cast("long"),
            ),
        )
        return F.struct(
            F.size(t).cast("long").alias("w"), syl.alias("syl")
        )

    counted = df.select(
        F.col(id_col).alias(id_col),
        sents.alias("n_sentences"),
        _bind_once(tokens(text_col), build).alias("__c"),
    ).select(
        id_col,
        "n_sentences",
        F.col("__c.w").alias("n_words"),
        F.col("__c.syl").alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    micro = F.lit(1_000_000.0)
    return counted.select(
        id_col, "n_sentences", "n_words", "n_syllables",
        F.floor(ease * micro).cast("long").alias("ease_micro"),
        F.floor(grade * micro).cast("long").alias("grade_micro"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word n-grams that appear in no other document — the
    diversity/contribution signal dual to duplication (a doc can pass
    near-dup yet add zero new phrasing; novelty ≈ 0 flags it, and a
    mixture pipeline can downweight it the way DSIR upweights target-
    like docs).

    Exactness: novel = corpus doc-frequency 1, over DISTINCT (doc,
    gram) pairs — all integer counts; the ratio is one micro-floored
    division. Docs with zero n-grams (< n words) are dropped.

    Shape: one explode + (doc, gram) distinct, one gram-keyed
    partial-agg for doc frequency, one semi-join-free aggregation —
    the df table joins back on the gram key (both sides partitioned on
    it), then one doc rollup. Gram cardinality is corpus-bounded, not
    row-bounded; no window, no collect.

    Returns (id, n_grams, n_novel, novelty_micro).
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_ngrams

    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    grams = (
        df.select(
            F.col(id_col).alias("__d"),
            F.explode(word_ngrams(F.col(text_col), n=n)).alias("__g"),
        )
        # word_ngrams emits one SHORT gram for docs under n words (the
        # repetition-stats convention); novelty is defined over full
        # n-grams only, so keep exactly-n-token grams (n - 1 spaces)
        .filter(F.regexp_count(F.col("__g"), F.lit(" ")) == n - 1)
        .distinct()
        # materialized — referenced by BOTH the doc-frequency aggregate
        # and the join-back; unmaterialized, each reference would re-run
        # the explode + distinct shuffle.
        .localCheckpoint(eager=True)
    )
    dfreq = grams.groupBy("__g").agg(F.count(F.lit(1)).cast("long").alias("__df"))
    return (
        grams.join(dfreq, "__g")
        .groupBy("__d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("__df") == 1).cast("long")).cast("long").alias("n_novel"),
        )
        .select(
            F.col("__d").alias(id_col),
            "n_grams",
            "n_novel",
            F.floor(
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double")
                * F.lit(1_000_000.0)
            ).cast("long").alias("novelty_micro"),
        )
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document — the classic cheap
    repetitiveness detector (Gopher's "compression filter" family): a
    document that compresses far below typical prose is boilerplate,
    templating, or token spam; one that barely compresses is noise or
    already-encoded data. ratio = compressed_bytes / raw_bytes of the
    UTF-8 text.

    DETERMINISM: zlib output is a pure function of (bytes, level,
    strategy) for a given zlib library — bit-stable across runs and
    partitionings, so row counts and values are rerun-stable; there is
    no SQL analogue, so the gate is declared rows-only and the pytest
    twin replicates the exact integers with the same stdlib zlib.

    Shape: Arrow-batched ``pandas_udf`` projection (the vectorized
    Python path — this is precisely the workload class the engine
    reserves pandas UDFs for: a per-row byte transform no builtin
    expresses), zero shuffles, scan → project. Empty/NULL docs are
    kept with raw_bytes = 0 and ratio_micro = 0 (nothing to judge).

    Returns (id, raw_bytes, compressed_bytes, ratio_micro).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not 1 <= level <= 9:
        raise ValueError(f"level must be in [1, 9] (got {level})")

    @pandas_udf("struct<raw:long,comp:long>")
    def _zsize(texts: pd.Series) -> pd.DataFrame:
        import zlib

        raws, comps = [], []
        for t in texts:
            b = (t or "").encode("utf-8")
            raws.append(len(b))
            comps.append(len(zlib.compress(b, level)) if b else 0)
        return pd.DataFrame({"raw": raws, "comp": comps})

    sized = df.select(
        F.col(id_col).alias(id_col), _zsize(F.col(text_col)).alias("__z")
    )
    ratio = F.when(
        F.col("__z.raw") > 0,
        F.floor(
            F.col("__z.comp").cast("double")
            / F.col("__z.raw").cast("double")
            * F.lit(1_000_000.0)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return sized.select(
        id_col,
        F.col("__z.raw").alias("raw_bytes"),
        F.col("__z.comp").alias("compressed_bytes"),
        ratio.alias("ratio_micro"),
    )


def oov_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_v: int = 1000,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-V
    vocabulary — the tokenizer-coverage signal (a doc whose tokens
    mostly miss the vocab is foreign-language, encoding junk, or a
    domain the tokenizer was never trained for; mixture pipelines
    route on exactly this).

    Vocabulary = ``build_vocab`` (text.py:164): top-V tokens by
    (freq DESC, token), the TakeOrderedAndProject cut — distributed,
    bounded by V, never by the corpus. OOV counting is over token
    OCCURRENCES (not distinct tokens): a doc spamming one junk token
    should score worse than one mentioning it once.

    Exactness: integer occurrence counts over the deterministic
    vocabulary; the rate is one micro-floored division. Docs with
    zero tokens are dropped (no denominator).

    Shape: one corpus token count + bounded top-V cut, one broadcast
    of the <= V vocab back onto the token stream, one doc rollup —
    the token stream shuffles once, on the doc key.

    Returns (id, n_tokens, n_oov, oov_micro).
    """
    if top_v < 1:
        raise ValueError(f"top_v must be >= 1 (got {top_v})")
    vocab = build_vocab(df, text_col=text_col, top_v=top_v).select(
        "token", F.lit(True).alias("__in_v")
    )
    toks = token_table(df, [F.col(id_col).alias("__d")], text_col)
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("__d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0))
            .cast("long").alias("n_oov"),
        )
        .select(
            F.col("__d").alias(id_col),
            "n_tokens",
            "n_oov",
            F.floor(
                F.col("n_oov").cast("double")
                / F.col("n_tokens").cast("double")
                * F.lit(1_000_000.0)
            ).cast("long").alias("oov_micro"),
        )
    )


def bigram_crossentropy(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-EVAL-document cross-entropy under the TRAIN corpus's add-one-
    smoothed bigram LM — the n-gram-LM contamination/memorization score
    (an eval doc whose bigrams are suspiciously likely under the training
    distribution is a leak candidate; the LM-based upgrade of the set-
    overlap test in ``operators.pipeline.contamination_overlap``):

        P(w2|w1) = (c_train(w1 w2) + 1) / (c_train(w1 .) + V_train)

    The single unified formula also prices unseen bigrams (c12=0) and
    unseen left-words (c1=0 -> ln(1/V)) — no special cases to diverge
    between engines. Same micro-unit float discipline as
    ``bigram_logprob``: ln is evaluated once per DISTINCT eval bigram on
    exact integer counts and floored to micro-nats; every per-document
    reduction is an exact integer sum.

    Scale shape: train bigram/marginal counts are partial-agg shuffles
    of the train shingle stream; the eval side (benchmarks/generations —
    orders of magnitude smaller) LEFT-joins those tables co-keyed on
    (w1, w2) and (w1). V_train is one bounded in-plan broadcast 1-row
    aggregate, not a driver scalar. No broadcast of SF-scaled sides.

    Returns (id, n_bigrams, n_seen, xent_micro, mean_xent_micro) —
    n_seen/n_bigrams is the overlap rate, mean_xent_micro the
    contamination score (LOW = likely contaminated).
    """
    # The |bigram-types|-row LM table is the thing a real pipeline
    # persists: materialize it once. It feeds the marginal c1, the
    # scoring join AND the V_train vocabulary — as lazy references
    # each would re-explode the train corpus.
    corpus = (
        _pair_stream(train, text_col, 1)
        .groupBy(F.col("a").alias("w1"), F.col("b").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=True)
    )
    c1 = corpus.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    # V_train from the materialized bigram table: its distinct w1 ∪ w2
    # is EXACTLY the token set the per-occurrence stream yielded (corpus
    # holds every distinct pair), so the count is unchanged — and the
    # action reads bigram-type-scale rows, not the corpus. It joins
    # in-plan as a broadcast 1-row aggregate (§5): no driver-blocking
    # count, no py4j sync.
    v_train = (
        corpus.select(F.col("w1").alias("w"))
        .union(corpus.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("__vt"))
    )
    etf = (
        _pair_stream(eval_df, text_col, 1, [id_col])
        .groupBy(id_col, F.col("a").alias("w1"), F.col("b").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    scored = (
        etf.join(corpus, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .join(F.broadcast(v_train))
        .select(
            id_col,
            "tf",
            F.coalesce(F.col("c12"), F.lit(0).cast("long")).alias("c12"),
            F.coalesce(F.col("c1"), F.lit(0).cast("long")).alias("c1"),
            F.col("__vt"),
        )
        .withColumn(
            "lp_micro",
            F.floor(
                F.log(
                    (F.col("c12") + F.lit(1)).cast("double")
                    / (F.col("c1") + F.col("__vt")).cast("double")
                )
                * F.lit(1_000_000.0)
            ).cast("long"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("c12") > 0, F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_seen"),
        (-F.sum(F.col("tf") * F.col("lp_micro"))).cast("long").alias("xent_micro"),
        F.expr(
            "CAST(CAST(-SUM(tf * lp_micro) AS DECIMAL(38,0)) DIV SUM(tf) AS BIGINT)"
        ).alias("mean_xent_micro"),
    )


def quality_calibration(
    df: DataFrame,
    dim: int = 64,
    n_bins: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    min_tokens: int = 60,
) -> DataFrame:
    """Per-domain calibration table for a fasttext-style linear quality
    classifier over the hashing-trick bag-of-words: each document gets an
    EXACT INTEGER score ``sum_b count(doc, b) * w_b`` with deterministic
    integer weights ``w_b = ((b+1) * 2654435761 mod 1000003) mod 17 - 8``
    (the Knuth mixer — a fixed pseudo-random linear probe, the shape a
    trained classifier would have), documents are ntile'd into
    ``n_bins`` score bins PER DOMAIN (ordered by score then id — fully
    deterministic), and each (domain, bin) row reports how often the
    proxy label (token count >= ``min_tokens``) fires — the calibration
    curve quality pipelines audit before trusting a classifier cut on a
    new domain.

    Everything is exact integer arithmetic on md5-bucket counts, so an
    ANSI oracle reproduces every cell (ntile semantics verified
    identical Spark<->DuckDB, first ``n mod k`` tiles one row larger).

    Scale shape: ONE shingle explode feeds the (doc, bucket) partial-agg
    count; scores are a per-doc re-aggregation of that table; the ntile
    window shuffles |docs| (id, domain, score) triples on the domain key
    — never the token stream. Domains are bounded (sources), so the
    window state per task is one domain's scores.

    Returns (domain, bin, n_docs, n_pos, min_score, max_score).
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1 (got {n_bins})")
    from pyspark.sql import Window

    counts = hashed_bow(df, text_col=text_col, id_col=id_col, dim=dim)
    w_b = (
        F.pmod(
            F.pmod((F.col("bucket") + 1) * F.lit(2654435761), F.lit(1_000_003)),
            F.lit(17),
        )
        - F.lit(8)
    ).cast("long")
    scores = (
        counts.withColumn("__w", w_b)
        .groupBy(id_col)
        .agg(F.sum(F.col("n") * F.col("__w")).cast("long").alias("score"))
    )
    labels = df.select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        (token_count(text_col) >= min_tokens).cast("int").alias("pos"),
    )
    binned = scores.join(labels, id_col).withColumn(
        "bin",
        F.ntile(n_bins)
        .over(Window.partitionBy("domain").orderBy("score", id_col))
        .cast("long"),
    )
    return binned.groupBy("domain", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


def rouge_n(
    refs: DataFrame,
    gens: DataFrame,
    id_col: str = "doc_id",
    ref_text_col: str = "text",
    gen_text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """ROUGE-N overlap between paired reference and generated texts (Lin
    2004): per id, the distinct word n-gram recall/precision/F1 of the
    generation against its reference — the standard summarization /
    generation-eval metric, and the pairwise audit decontamination
    pipelines run on (train doc, generated sample) pairs.

    Set-based form (distinct n-grams, as in ROUGE's original recall):
    F1 over sets is the Dice coefficient ``2|A∩B| / (|A|+|B|)``, so all
    three scores are integer micro-units from exact integer counts —
    hash-gate safe with no float discipline needed at all. Pairs where
    either side has zero n-grams are dropped (no 0/0 convention to
    diverge between engines).

    Scale shape: both sides explode once to (id, gram) and the match
    count is a co-keyed join on (id, gram) — shuffle volume linear in
    gram count, no cross-id pairing ever materializes. The three count
    tables re-aggregate the same exploded frames.

    Returns (id, n_ref, n_gen, n_match, recall_micro, precision_micro,
    f1_micro).
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_shingles

    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    r = refs.select(
        F.col(id_col), F.explode(word_shingles(ref_text_col, n)).alias("g")
    ).filter(F.length("g") > 0)
    g = gens.select(
        F.col(id_col), F.explode(word_shingles(gen_text_col, n)).alias("g")
    ).filter(F.length("g") > 0)
    # ONE full-outer join on the (id, gram) key merges both sides'
    # distinct-gram sets and ONE id-keyed aggregate yields all three
    # counts, so each side explodes once. Grams are distinct per (id,
    # side) so the outer join is 1:1; a gram on one side only
    # contributes to that side's total and 0 to the match, and the
    # n_ref>0 AND n_gen>0 filter keeps ids with grams on both sides.
    merged = r.withColumn("__ir", F.lit(1)).join(
        g.withColumn("__ig", F.lit(1)), [id_col, "g"], "full_outer"
    )
    joined = (
        merged.groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("__ir"), F.lit(0))).cast("long").alias("n_ref"),
            F.sum(F.coalesce(F.col("__ig"), F.lit(0))).cast("long").alias("n_gen"),
            F.sum(
                F.when(
                    F.col("__ir").isNotNull() & F.col("__ig").isNotNull(), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_match"),
        )
        .filter((F.col("n_ref") > 0) & (F.col("n_gen") > 0))
    )
    dec = "CAST({x} AS DECIMAL(38,0))"
    return joined.select(
        id_col,
        "n_ref",
        "n_gen",
        "n_match",
        F.expr(
            f"CAST({dec.format(x='n_match')} * 1000000 DIV n_ref AS BIGINT)"
        ).alias("recall_micro"),
        F.expr(
            f"CAST({dec.format(x='n_match')} * 1000000 DIV n_gen AS BIGINT)"
        ).alias("precision_micro"),
        F.expr(
            f"CAST({dec.format(x='n_match')} * 2000000 DIV (n_ref + n_gen) AS BIGINT)"
        ).alias("f1_micro"),
    )


def _clipped_order_totals(
    refs: DataFrame,
    hyps: DataFrame,
    id_col: str,
    ref_grams: Column,
    hyp_grams: Column,
    hyp: str,
) -> DataFrame:
    """(n, total_ref, total_<hyp>, total_clipped) — the shared reduce of
    BLEU's and chrF's clipped multiset counts. ``ref_grams`` /
    ``hyp_grams`` are per-row array<struct<n, g>> over ``refs`` /
    ``hyps``; each side explodes once to (id, n, g) counts (empty grams
    dropped), ONE full-outer join on (id, n, g) merges both sides and
    ONE groupBy("n") yields all three totals. A gram missing from one
    side adds 0 to that side's total and 0 to the clip; an order present
    on EITHER side emits its row (the outer join's key space is that
    union)."""

    def counts(df: DataFrame, grams: Column, c: str) -> DataFrame:
        return (
            df.select(F.col(id_col), F.explode(grams).alias("x"))
            .select(id_col, F.col("x.n").alias("n"), F.col("x.g").alias("g"))
            .filter(F.length("g") > 0)
            .groupBy(id_col, "n", "g")
            .agg(F.count(F.lit(1)).cast("long").alias(c))
        )

    zero = F.lit(0).cast("long")
    rc = F.coalesce(F.col("__rc"), zero)
    hc = F.coalesce(F.col("__hc"), zero)
    return (
        counts(hyps, hyp_grams, "__hc")
        .join(counts(refs, ref_grams, "__rc"), [id_col, "n", "g"], "full_outer")
        .groupBy("n")
        .agg(
            F.sum(rc).cast("long").alias("total_ref"),
            F.sum(hc).cast("long").alias(f"total_{hyp}"),
            F.sum(F.least(hc, rc)).cast("long").alias("total_clipped"),
        )
    )


def bleu_clipped_precision(
    refs: DataFrame,
    gens: DataFrame,
    id_col: str = "doc_id",
    ref_text_col: str = "text",
    gen_text_col: str = "text",
    n_max: int = 2,
) -> DataFrame:
    """Corpus-level clipped n-gram precision — the modified-precision
    core of BLEU (Papineni et al. 2002, eq. 2) — between paired
    reference and generated texts. Distinct from ``rouge_n``'s
    set-based overlap: counts here are MULTISET counts, and each
    generated gram's credit is clipped at the reference's count of
    that gram (the device that stops "the the the the" from scoring).

    Per n in 1..n_max the corpus aggregate is
    ``precision_n = Σ_id Σ_g min(cnt_gen(id,g), cnt_ref(id,g)) /
    Σ_id Σ_g cnt_gen(id,g)`` — exact integers, emitted in micro-units
    via integer DIV. The brevity penalty's exp() is deliberately NOT
    folded in (it would break hash-exactness); total_ref/total_gen per
    row carry the length statistics a caller needs to apply it.

    Scale shape: each side explodes once to (id, n, gram) — all n
    orders in one pass over each corpus — then two partial-agg
    shuffles: multiset counts keyed (id, n, gram), and the clip join
    co-keyed on the same triple (inner join: grams absent from the
    reference clip to 0 and drop). Final aggregate: one row for every
    order 1..n_max PRESENT ON EITHER SIDE (ADVICE r11/r12): the
    ref/gen totals meet in a full outer join, so an order with grams
    on only one side (every reference shorter than n words, say) still
    emits its row with the missing total as 0 and precision_micro 0 —
    but an order absent from BOTH corpora (every document on both
    sides shorter than n tokens) emits no row, since an outer join
    cannot manufacture keys neither side produced; callers iterating
    1..n_max should treat a missing order as precision 0. precision_micro is 0 (not
    NULL) when total_gen is 0 — documented convention.

    Returns (n, total_ref, total_gen, total_clipped, precision_micro).
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import _bind_once

    if n_max < 1:
        raise ValueError(f"n_max must be >= 1 (got {n_max})")

    def grams(text_col: str) -> Column:
        # Tokenize ONCE per document (§2.3 "don't compute things
        # twice"): the token array is lambda-bound a single time and
        # every order's gram array is built from it — one word_ngrams
        # call per order would re-run the tokenizer n_max times. The
        # n=1 order maps tokens directly instead of paying an
        # array_join(slice(...)) per gram. Gram values (including the
        # short-document edge where slice() yields a truncated gram)
        # equal word_ngrams'.
        def all_grams(toks: Column) -> Column:
            def order(n: int) -> Column:
                if n == 1:
                    gs = toks
                else:
                    idx = F.sequence(
                        F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0))
                    )
                    gs = F.transform(
                        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
                    )
                # single-arg lambda: a two-arg lambda would make
                # F.transform pass (element, index) and shadow the
                # captured n with the gram position.
                return F.transform(
                    gs,
                    lambda g: F.struct(F.lit(n).cast("int").alias("n"), g.alias("g")),
                )

            return F.concat(*[order(n) for n in range(1, n_max + 1)])

        return _bind_once(tokens(text_col), all_grams)

    totals = _clipped_order_totals(
        refs, gens, id_col, grams(ref_text_col), grams(gen_text_col), "gen"
    )
    zero = F.lit(0).cast("long")
    return (
        totals.select(
            F.col("n").cast("int").alias("n"),
            "total_ref",
            "total_gen",
            "total_clipped",
            F.coalesce(
                F.expr(
                    "CAST(CAST(COALESCE(total_clipped, 0) AS DECIMAL(38,0))"
                    " * 1000000 DIV NULLIF(total_gen, 0) AS BIGINT)"
                ),
                zero,
            ).alias("precision_micro"),
        )
    )


def good_turing_counts(
    df: DataFrame,
    text_col: str = "text",
    r_max: int = 10,
    n: int = 1,
) -> DataFrame:
    """Good-Turing count-of-counts and discounted counts (Good 1953)
    over the corpus word n-gram frequency distribution: ``N_r`` =
    number of gram types observed exactly r times, and the Turing
    estimate ``r* = (r+1) · N_{r+1} / N_r`` — the smoothing table an
    n-gram LM pipeline derives to reallocate mass to unseen events
    (``N_1 / total`` is the missing-mass estimate), and a corpus-
    health signal in its own right (a healthy Zipfian corpus has
    smoothly decaying N_r). Higher ``n`` reaches the sparse tail where
    the estimate matters; n=1 on a tiny closed vocabulary is
    legitimately empty.

    All-integer: N_r are exact counts and r*_micro is a truncating
    DECIMAL DIV. ``N_{r+1}`` comes from a self-join on r+1, NOT a lead
    window — frequency values have gaps (no gram may occur exactly 7
    times) and lead() over the existing rows would silently pick the
    wrong neighbor; the join also keeps the plan window-free.

    Scale shape: one explode + (gram) partial-agg shuffle for the
    frequency table, one (r) partial-agg to the count-of-counts table
    — bounded by the frequency DOMAIN, tiny after the r ≤ r_max+1
    filter — then a self-join on that tiny table.

    Returns (r, n_r, n_r_next, r_star_micro) for r in 1..r_max.
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_ngrams

    if r_max < 1:
        raise ValueError(f"r_max must be >= 1 (got {r_max})")
    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    toks = df.select(F.explode(word_ngrams(text_col, n)).alias("tok")).filter(
        F.length("tok") > 0
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("r"))
    cc = (
        freq.filter(F.col("r") <= r_max + 1)
        .groupBy("r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    )
    nxt = cc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next"))
    return (
        cc.filter(F.col("r") <= r_max)
        .join(nxt, "r", "left")
        .select(
            "r",
            "n_r",
            F.coalesce(F.col("n_r_next"), F.lit(0).cast("long")).alias("n_r_next"),
            F.expr(
                "CAST((r + 1) * CAST(COALESCE(n_r_next, 0) AS DECIMAL(38,0))"
                " * 1000000 DIV n_r AS BIGINT)"
            ).alias("r_star_micro"),
        )
    )


def chao1_vocab(
    df: DataFrame,
    text_col: str = "text",
    n: int = 1,
) -> DataFrame:
    """Chao1 species-richness estimate (Chao 1984, bias-corrected form)
    of the corpus word n-gram vocabulary: ``S_obs + N₁(N₁−1) /
    (2(N₂+1))`` from the singleton/doubleton counts — "how many gram
    types exist that this corpus hasn't seen yet", the coverage answer
    a corpus-growth or dedup-saturation decision needs (Heaps' law
    gives the growth CURVE; Chao1 gives the asymptote estimate).

    The bias-corrected form is defined even when N₂ = 0, and is an
    exact rational of integer counts — one truncating DECIMAL DIV
    emits it in micro-units.

    Scale shape: the same two domain-bounded partial-agg shuffles as
    good_turing_counts (gram frequencies, then one reduce) — the
    count-of-counts never materializes beyond r ≤ 2 flags.

    Returns one row (s_obs, n1, n2, chao1_micro).
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_ngrams

    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    toks = df.select(F.explode(word_ngrams(text_col, n)).alias("tok")).filter(
        F.length("tok") > 0
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("r"))
    return freq.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("s_obs"),
        F.sum((F.col("r") == 1).cast("long")).cast("long").alias("n1"),
        F.sum((F.col("r") == 2).cast("long")).cast("long").alias("n2"),
        F.expr(
            "CAST(COUNT(*) * CAST(1000000 AS DECIMAL(38,0))"
            " + CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS DECIMAL(38,0))"
            " * (SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) - 1) * 1000000"
            " DIV (2 * (SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) + 1))"
            " AS BIGINT)"
        ).alias("chao1_micro"),
    )


def span_f1(
    gold: DataFrame,
    pred: DataFrame,
    id_col: str = "doc_id",
    gold_text_col: str = "text",
    pred_text_col: str = "text",
) -> DataFrame:
    """Token-overlap F1 between paired gold and predicted answer texts
    (the SQuAD/QA eval metric, Rajpurkar et al. 2016): per item, the
    multiset token overlap ``o = Σ_t min(cnt_gold(t), cnt_pred(t))``
    gives ``F1 = 2o / (|gold| + |pred|)``; the corpus row reports the
    truncated-mean F1 plus exact totals. The per-item clip is BLEU's
    unigram clip applied symmetrically (rouge_n is the set-based
    cousin; this is the multiset form QA grading specifies).

    Conventions, all explicit: tokens are the engine-wide ``tokens``;
    an item where
    BOTH sides are empty scores F1 = 1e6 (vacuous truth, the SQuAD
    convention); one side empty scores 0. Items present in only one
    input are dropped by the inner id join — pad upstream if absence
    must score 0. Ids must be UNIQUE per side (the id-keyed operator
    contract): duplicate rows for one id sum their token counts,
    i.e. they score as one concatenated answer, not separately. Per-item ``f1 = (2o·1e6) DIV (lg + lp)`` truncates
    at the established point; the corpus mean truncates once more.

    Scale shape: each side explodes once to (id, token) counts —
    co-keyed (id, token) clip join, id-keyed reduce, 1-row corpus
    reduce. Shuffle linear in token count, never cross-item.

    Returns one row (n_items, mean_f1_micro, n_perfect, total_overlap,
    total_gold_tokens, total_pred_tokens).
    """

    def counts(df: DataFrame, text_col: str, cname: str) -> DataFrame:
        return (
            token_table(df, [F.col(id_col).alias("__id")], text_col)
            .groupBy("__id", "token")
            .agg(F.count(F.lit(1)).cast("long").alias(cname))
        )

    gc = counts(gold, gold_text_col, "cg")
    pc = counts(pred, pred_text_col, "cp")
    # ONE full-outer join on the (id, token) key merges both sides'
    # counts, and ONE id-keyed aggregate then yields overlap AND both
    # length totals, so each side's count table is derived once. A
    # token missing from one side contributes 0 to that side's total
    # and 0 to the clip (least with a 0-coalesced count).
    zero = F.lit(0).cast("long")
    merged = gc.join(pc, ["__id", "token"], "full_outer")
    per_id = merged.groupBy("__id").agg(
        F.sum(F.least(F.coalesce("cg", zero), F.coalesce("cp", zero)))
        .cast("long")
        .alias("o"),
        F.sum(F.coalesce("cg", zero)).cast("long").alias("lg"),
        F.sum(F.coalesce("cp", zero)).cast("long").alias("lp"),
    )
    # ids present in either side's ORIGINAL input (an empty/whitespace
    # text has no token rows but must still score) — inner join of the
    # two id universes implements the documented pairing contract.
    ids = (
        gold.select(F.col(id_col).alias("__id")).distinct()
        .join(pred.select(F.col(id_col).alias("__id")).distinct(), "__id")
    )
    per = (
        ids.join(per_id, "__id", "left")
        .select(
            F.coalesce("lg", F.lit(0)).cast("long").alias("lg"),
            F.coalesce("lp", F.lit(0)).cast("long").alias("lp"),
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
        )
        .select(
            "lg", "lp", "o",
            F.when(F.col("lg") + F.col("lp") == 0, F.lit(1000000).cast("long"))
            .otherwise(
                F.expr(
                    "CAST(2 * CAST(o AS DECIMAL(38,0)) * 1000000"
                    " DIV (lg + lp) AS BIGINT)"
                )
            )
            .alias("f1"),
        )
    )
    return per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.expr("CAST(SUM(f1) DIV COUNT(*) AS BIGINT)").alias("mean_f1_micro"),
        F.sum((F.col("f1") == 1000000).cast("long")).cast("long").alias(
            "n_perfect"
        ),
        F.sum("o").cast("long").alias("total_overlap"),
        F.sum("lg").cast("long").alias("total_gold_tokens"),
        F.sum("lp").cast("long").alias("total_pred_tokens"),
    )


def _token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(token, c) exact counts — the shared first stage of the
    two-corpus keyword statistics below (one explode + one partial-agg
    shuffle per corpus, vocab-sized output)."""
    return (
        token_table(df, [], text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _two_corpus_vocab(
    df_a: DataFrame, df_b: DataFrame, text_col: str
) -> DataFrame:
    """(token, cnt_a, cnt_b) over the union vocabulary, MATERIALIZED
    (localCheckpoint — vocab-bounded): the two-corpus keyword
    statistics each need the vocab table twice (totals + the per-token
    pass), and Spark recomputes shared subplans, so without the
    checkpoint each reuse re-scans both corpora (observed: 4 parquet
    scans for a 2-corpus query). One corpus scan per side, then every
    consumer reads the compact materialization."""
    j = (
        _token_counts(df_a, text_col).withColumnRenamed("c", "cnt_a")
        .join(
            _token_counts(df_b, text_col).withColumnRenamed("c", "cnt_b"),
            "token",
            "full",
        )
        .select(
            "token",
            F.coalesce(F.col("cnt_a"), F.lit(0)).cast("long").alias("cnt_a"),
            F.coalesce(F.col("cnt_b"), F.lit(0)).cast("long").alias("cnt_b"),
        )
    )
    return j.localCheckpoint(eager=True)


def two_corpus_vocab_tagged(
    df: DataFrame, is_a, text_col: str = "text"
) -> DataFrame:
    """(token, cnt_a, cnt_b) union-vocabulary table from ONE tagged
    corpus scan: when the two corpora are
    complementary slices of the SAME frame (the common contrast setup
    — e.g. lang == 'en' vs the rest), `_two_corpus_vocab`'s shape
    (one scan + tokenize pass PER SIDE, then a full-outer join) pays
    twice for what one pass computes: explode once with the boolean
    ``is_a`` tag carried through, then conditional sums per token.
    The same table — a token absent from one side gets an exact 0
    from the conditional sum, as the join's COALESCE gives. Rows where ``is_a`` is NULL must be pre-filtered by the
    caller (they belong to neither corpus). Materialized
    (localCheckpoint) like `_two_corpus_vocab`, for the same reason.
    Pass the result as the ``vocab=`` argument of g_test_keywords /
    log_odds_dirichlet / jsd_divergence."""
    a_col = F.col(is_a) if isinstance(is_a, str) else is_a
    exploded = token_table(df, [a_col.cast("boolean").alias("__a")], text_col)
    vocab = exploded.groupBy("token").agg(
        F.sum(F.col("__a").cast("long")).cast("long").alias("cnt_a"),
        F.sum((~F.col("__a")).cast("long")).cast("long").alias("cnt_b"),
    )
    return vocab.localCheckpoint(eager=True)


def g_test_keywords(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 30,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Dunning log-likelihood (G²) keyword extraction (Dunning 1993) —
    which tokens are most DISTINCTIVE of corpus A vs corpus B, the
    statistically-grounded replacement for raw frequency ratios (which
    explode on rare words): per token, the G-test over the 2×2 table
    (a = count in A, b = count in B, against totals T_A, T_B):

        G² = 2·[ a·ln(a/E_a) + b·ln(b/E_b)
               + (T_A−a)·ln((T_A−a)/E_a') + (T_B−b)·ln((T_B−b)/E_b') ]

    with expectations E proportional to row/column marginals. Zero
    cells contribute 0 (the x·ln x → 0 limit).

    Determinism: all eight operands are exact integers; each token's
    G² is ONE fixed double expression evaluated per DISTINCT token and
    floored to micro at birth — the ln-micro discipline
    (corpus_divergence's contract). ``sign`` is +1 when the token is
    over-represented in A (a·T_B > b·T_A — integer comparison), −1
    otherwise.

    Scale shape: one explode + token groupBy per corpus (vocab-sized)
    into the shared materialized vocab table (ONE corpus scan per
    side — see ``_two_corpus_vocab``), totals from that table as a
    1-row broadcast, bounded top-k sort.

    Returns top_k rows (token, cnt_a, cnt_b, sign, g2_micro) by
    g2_micro desc, token tie-break.
    """
    if vocab is None:
        vocab = _two_corpus_vocab(df_a, df_b, text_col)
    tot = vocab.groupBy().agg(
        F.sum("cnt_a").cast("long").alias("t_a"),
        F.sum("cnt_b").cast("long").alias("t_b"),
    )
    j = vocab.filter(F.col("cnt_a") + F.col("cnt_b") >= min_count).join(
        F.broadcast(tot)
    )
    # term(x, e_num, e_den) = x * ln(x * e_den / e_num), 0 when x = 0;
    # expectations: E_a = T_A*(a+b)/T, E_a' = T_A*(T-a-b)/T (T = T_A+T_B)
    def term(x: str, row_total: str) -> str:
        return (
            f"CASE WHEN {x} = 0 THEN 0.0 ELSE CAST({x} AS DOUBLE)"
            f" * LN(CAST({x} AS DOUBLE) * (CAST(t_a AS DOUBLE) + t_b)"
            f" / (CAST({row_total} AS DOUBLE) * __col)) END"
        )

    out = (
        j.withColumn("__col", (F.col("cnt_a") + F.col("cnt_b")).cast("double"))
        .withColumn(
            "__ncol",
            (F.col("t_a") + F.col("t_b") - F.col("cnt_a") - F.col("cnt_b")).cast(
                "double"
            ),
        )
        .select(
            "token",
            "cnt_a",
            "cnt_b",
            F.when(
                F.col("cnt_a") * F.col("t_b") > F.col("cnt_b") * F.col("t_a"),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("sign"),
            F.expr(
                "CAST(FLOOR(2.0 * ("
                + term("cnt_a", "t_a")
                + " + "
                + term("cnt_b", "t_b")
                + " + "
                + term("(t_a - cnt_a)", "t_a").replace("__col", "__ncol")
                + " + "
                + term("(t_b - cnt_b)", "t_b").replace("__col", "__ncol")
                + ") * 1000000) AS BIGINT)"
            ).alias("g2_micro"),
        )
    )
    return out.orderBy(F.col("g2_micro").desc(), F.col("token")).limit(top_k)


def log_odds_dirichlet(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    alpha0: int = 500,
    min_count: int = 5,
    top_k: int = 30,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Log-odds ratio with informative Dirichlet prior ("Fightin'
    Words", Monroe/Colaresi/Quinn 2008) — the keyword-contrast
    statistic that, unlike raw log-odds or G², shrinks rare-word noise
    toward the combined-corpus prior and returns a per-token
    z-score:

        δ_t = ln((a+α_t)/(T_A+α0−a−α_t)) − ln((b+α_t)/(T_B+α0−b−α_t))
        σ²_t ≈ 1/(a+α_t) + 1/(b+α_t),   z_t = δ_t/σ_t

    with α_t = α0·(a+b)/(T_A+T_B) (prior mass proportional to the
    pooled frequency).

    Determinism: a, b, totals and α0 are exact integers; α_t, δ, σ and
    z are ONE fixed double expression per DISTINCT token, floored to
    micro at birth (ln-micro discipline). Scale shape identical to
    :func:`g_test_keywords` (one scan per corpus into the shared
    materialized vocab table, 1-row totals broadcast, bounded top-k).

    Returns top_k rows (token, cnt_a, cnt_b, z_micro) by |z| desc,
    token tie-break.
    """
    if vocab is None:
        vocab = _two_corpus_vocab(df_a, df_b, text_col)
    tot = vocab.groupBy().agg(
        F.sum("cnt_a").cast("long").alias("t_a"),
        F.sum("cnt_b").cast("long").alias("t_b"),
    )
    j = vocab.filter(F.col("cnt_a") + F.col("cnt_b") >= min_count).join(
        F.broadcast(tot)
    )
    expr = f"""
      CAST(FLOOR((
        LN((cnt_a + __alpha) / (CAST(t_a AS DOUBLE) + {alpha0} - cnt_a - __alpha))
        - LN((cnt_b + __alpha) / (CAST(t_b AS DOUBLE) + {alpha0} - cnt_b - __alpha))
      ) / SQRT(1.0 / (cnt_a + __alpha) + 1.0 / (cnt_b + __alpha))
      * 1000000) AS BIGINT)
    """
    out = j.withColumn(
        "__alpha",
        F.expr(
            f"CAST({alpha0} AS DOUBLE) * (CAST(cnt_a AS DOUBLE) + cnt_b)"
            " / (CAST(t_a AS DOUBLE) + t_b)"
        ),
    ).select(
        "token",
        "cnt_a",
        "cnt_b",
        F.expr(expr).alias("z_micro"),
    )
    return out.orderBy(F.abs(F.col("z_micro")).desc(), F.col("token")).limit(top_k)


def lexical_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document lexical-diversity profile — the three classic
    type/token richness measures a curation pipeline reads together
    (each corrects the previous one's length bias differently):

        TTR       = V / N            (raw, length-biased)
        Herdan C  = ln V / ln N      (log-log, ~length-stable)
        Guiraud R = V / √N           (root TTR)

    next to the corpus-slice constants (yules_k, heaps_law): these are
    the PER-DOC signals a quality filter thresholds on (templated spam
    has pathologically low diversity at any length).

    Exactness: N and V are exact counts from one (doc, token)
    aggregate; each measure is ONE fixed fp64 expression over them,
    micro-floored at birth. Herdan is NULL at N = 1 (ln 1 = 0 — a
    one-token document has no log-log slope); TTR/Guiraud are defined
    everywhere (N ≥ 1: a document without tokens emits no row).

    Scale shape: one explode + (doc, token) partial-agg shuffle, one
    doc-keyed reduce.

    Returns (doc_id, n_tokens, n_types, ttr_micro, herdan_c_micro,
    guiraud_r_micro) per document with ≥ 1 token.
    """
    counts = (
        token_table(df, [F.col(id_col).alias("doc_id")], text_col)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr(
            """CAST(CAST(COUNT(*) AS DECIMAL(38,0)) * 1000000
               DIV SUM(c) AS BIGINT)"""
        ).alias("ttr_micro"),
        F.expr(
            """CASE WHEN SUM(c) < 2 THEN NULL
               ELSE CAST(FLOOR(
                 LN(CAST(COUNT(*) AS DOUBLE)) / LN(CAST(SUM(c) AS DOUBLE))
                 * 1000000) AS BIGINT) END"""
        ).alias("herdan_c_micro"),
        F.expr(
            """CAST(FLOOR(
              CAST(COUNT(*) AS DOUBLE) / SQRT(CAST(SUM(c) AS DOUBLE))
              * 1000000) AS BIGINT)"""
        ).alias("guiraud_r_micro"),
    )


def yules_k(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Yule's characteristic K per corpus slice (Yule 1944) — the
    repetitiveness / vocabulary-richness constant that, unlike raw
    type-token ratio, is (asymptotically) independent of sample
    length: with N tokens and V_m = number of types occurring exactly
    m times,

        K = 10⁴ · (Σ_m m²·V_m − N) / N²

    High K = few types dominate (templated/boilerplate text); low K =
    rich vocabulary. The length-invariance makes it comparable across
    sources of wildly different sizes — exactly the slice-level
    quality signal a mixture builder wants next to heaps_law/zipf.

    Exactness: Σ m²·V_m = Σ_types c², an exact BIGINT sum over the
    per-(group, token) counts; the single K ratio is one truncating
    micro DIV of exact DECIMAL integers (K_micro = K·1e6 at the
    conventional 1e4 scale).

    Scale shape: one explode + (group, token) partial-agg shuffle,
    one group-keyed reduce — the frequency-spectrum sum folds into
    Σc² so the spectrum itself is never materialized.

    Returns (group, n_tokens, n_types, k_micro) per slice.
    """
    counts = (
        token_table(df, [F.col(group_col).alias("group")], text_col)
        .groupBy("group", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return counts.groupBy("group").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr(
            """CAST(
              (SUM(CAST(c AS DECIMAL(38,0)) * c) - SUM(c))
              * 10000 * 1000000
              DIV NULLIF(SUM(CAST(c AS DECIMAL(38,0))) * SUM(c), 0)
            AS BIGINT)"""
        ).alias("k_micro"),
    )


def jsd_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Jensen-Shannon divergence between two corpus token distributions
    — the SYMMETRIC, bounded ([0, ln 2]) drift measure next to
    corpus_divergence's directional KL contributors (JSD is what you
    alarm on; the KL contributor table is what you debug with):

        JSD = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m),  m = (p+q)/2

    with p = a/T_A, q = b/T_B over the union vocabulary; zero counts
    contribute 0 to their own side (x·ln x → 0), and m > 0 everywhere
    on the union, so no smoothing is needed — one of JSD's advantages
    over KL.

    Determinism (ln-micro discipline): both per-token terms are fixed
    double expressions over exact integers — written with the totals
    INSIDE the ln as ``ln(2·a·T_B / (a·T_B + b·T_A))`` (exact integer
    products; the p/m ratio's totals cancel) — floored to micro at
    birth, weighted by the exact count, then integer-summed; the final
    normalization is one truncating DIV per side.

    Scale shape: one token groupBy per corpus into the shared
    materialized vocab table (one corpus scan per side), 1-row totals
    broadcast, 1-row reduce.

    Returns one row (t_a, t_b, jsd_micro) with
    jsd_micro = (Σ_a a·term_a DIV (2·T_A)) + (Σ_b b·term_b DIV (2·T_B)).
    """
    if vocab is None:
        vocab = _two_corpus_vocab(df_a, df_b, text_col)
    tot = vocab.groupBy().agg(
        F.sum("cnt_a").cast("long").alias("t_a"),
        F.sum("cnt_b").cast("long").alias("t_b"),
    )
    j = vocab.join(F.broadcast(tot))
    # term_a = ln(p/m) = ln(2·a·T_B / (a·T_B + b·T_A)) — integer operands
    terms = j.select(
        "t_a",
        "t_b",
        F.expr(
            """CASE WHEN cnt_a = 0 THEN CAST(0 AS BIGINT)
               ELSE cnt_a * CAST(FLOOR(LN(
                 2.0 * (CAST(cnt_a AS DOUBLE) * t_b)
                 / (CAST(cnt_a AS DOUBLE) * t_b + CAST(cnt_b AS DOUBLE) * t_a)
               ) * 1000000) AS BIGINT) END"""
        ).alias("wa"),
        F.expr(
            """CASE WHEN cnt_b = 0 THEN CAST(0 AS BIGINT)
               ELSE cnt_b * CAST(FLOOR(LN(
                 2.0 * (CAST(cnt_b AS DOUBLE) * t_a)
                 / (CAST(cnt_a AS DOUBLE) * t_b + CAST(cnt_b AS DOUBLE) * t_a)
               ) * 1000000) AS BIGINT) END"""
        ).alias("wb"),
    )
    return terms.groupBy().agg(
        F.max("t_a").alias("t_a"),
        F.max("t_b").alias("t_b"),
        F.expr(
            "CAST(SUM(wa) DIV (2 * MAX(t_a)) + SUM(wb) DIV (2 * MAX(t_b))"
            " AS BIGINT)"
        ).alias("jsd_micro"),
    )


def feature_hashing(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Hashing-trick (signed) bag-of-words features (Weinberger et al.
    2009) — the vocabulary-free vectorizer a large-scale pipeline uses
    when a fitted vocabulary is a bottleneck or a privacy surface:
    every token maps to ``idx = H(token) mod dim`` with sign
    ``±1 = H(token ∥ '#s') mod 2``, and a document's feature is the
    signed occurrence sum per index (the sign unbiases collisions in
    expectation — the standard trick).

    No fitted state, no vocabulary table, no driver round-trip — the
    whole vectorizer is a projection, which is the point at 100 TB.
    Entries that cancel to exactly 0 are dropped (documented; keeps
    the output sparse). ``hash_family="md5"`` swaps the engine-portable
    hash so an oracle replays bit-for-bit.

    Scale shape: one explode + (id, idx) partial-agg shuffle, one
    id-keyed groupBy assembling the bounded (≤ dim) feature list via
    sort_array(collect_list) — deterministic, and ≤ dim entries per
    doc by construction.

    Returns (id, nnz, features) with features = "idx:val idx:val …"
    sorted by idx.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1 (got {dim})")
    if hash_family == "xxhash64":
        idx = f"pmod(xxhash64(token), {dim})"
        sgn = "pmod(xxhash64(concat(token, '#s')), 2) * 2 - 1"
    elif hash_family == "md5":
        idx = (
            f"pmod(cast(conv(substring(md5(token), 1, 15), 16, 10)"
            f" as bigint), {dim})"
        )
        sgn = (
            "pmod(cast(conv(substring(md5(concat(token, '#s')), 1, 15),"
            " 16, 10) as bigint), 2) * 2 - 1"
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r} (xxhash64|md5)")
    toks = token_table(df, [F.col(id_col).alias("id")], text_col)
    cell = (
        toks.selectExpr("id", f"{idx} AS idx", f"{sgn} AS sgn")
        .groupBy("id", "idx")
        .agg(F.sum("sgn").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )
    return (
        cell.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nnz"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("idx"), F.col("val")))
                    ),
                    lambda s: F.concat_ws(
                        ":", s["idx"].cast("string"), s["val"].cast("string")
                    ),
                ),
                " ",
            ).alias("features"),
        )
        .select(F.col("id").alias(id_col), "nnz", "features")
    )


def chrf_score(
    refs: DataFrame,
    hyps: DataFrame,
    id_col: str = "doc_id",
    ref_text_col: str = "text",
    hyp_text_col: str = "text",
    n_max: int = 4,
    beta: int = 2,
) -> DataFrame:
    """Corpus-level chrF (Popović 2015): character-n-gram F-beta
    between paired reference and hypothesis texts — the
    tokenizer-free, morphology-robust generation metric next to
    bleu_clipped_precision's word n-grams (chrF rewards partial word
    matches BLEU scores 0).  Counts are MULTISET counts clipped at the
    reference (the BLEU device), micro-averaged over the corpus per
    order; with C = Σ clipped, H = Σ hyp grams, R = Σ ref grams the
    per-order F-beta collapses rationally:

        F_beta = (1+b²)·P·R / (b²·P + R)  =  (1+b²)·C / (b²·R + H)

    so every per-order score is ONE truncating micro DIV over three
    exact integers — no float anywhere.  Both sides read
    ``normalized_text`` (lowercase, whitespace runs collapsed to one
    space, trimmed); spaces participate in n-grams (word-boundary
    signal).  Orders present on NEITHER side
    emit no row; chrf_micro is 0 (not NULL) when b²R + H = 0.  Callers
    wanting the headline chrF average the per-order rows.

    Scale shape (the bleu shape exactly): each side explodes once to
    (id, n, gram) — all orders in one pass, ~n_max·len(text) cells per
    doc — into multiset counts keyed (id, n, gram); ONE full-outer join
    on that triple merges both sides and ONE groupBy("n") yields all
    three totals (:func:`_clipped_order_totals`).  Returns
    (n, total_ref, total_hyp, total_clipped, chrf_micro).
    """
    if n_max < 1:
        raise ValueError(f"n_max must be >= 1 (got {n_max})")
    if beta < 1:
        raise ValueError(f"beta must be >= 1 (got {beta})")

    def tag(n: int) -> Column:
        arr = F.expr(
            f"transform(sequence(1, length(__t) - {n} + 1),"
            f" i -> struct(CAST({n} AS INT) AS n, substr(__t, i, {n}) AS g))"
        )
        return F.when(F.length("__t") >= n, arr).otherwise(
            F.array().cast("array<struct<n:int,g:string>>")
        )

    def staged(df: DataFrame, text_col: str) -> DataFrame:
        return df.select(F.col(id_col), normalized_text(text_col).alias("__t"))

    grams = F.concat(*[tag(n) for n in range(1, n_max + 1)])
    b2 = beta * beta
    totals = _clipped_order_totals(
        staged(refs, ref_text_col), staged(hyps, hyp_text_col), id_col, grams, grams, "hyp"
    )
    return totals.withColumn(
        "chrf_micro",
        F.expr(
            f"CAST(COALESCE(CAST({1 + b2} AS DECIMAL(38,0)) * total_clipped"
            f" * 1000000 DIV NULLIF({b2} * total_ref + total_hyp, 0), 0)"
            " AS BIGINT)"
        ),
    )
