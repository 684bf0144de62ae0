"""Dedup + text operators: planted-duplicate recall, idempotence,
fingerprint determinism (SURVEY.md §5 property tests)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
from hdinsight_pyspark_cntk_integration_spark.operators import text as tx
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


def _docs_with_planted_dups(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "a completely different document about spark query engines and shuffles"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (4, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 1
        (5, "unrelated text mentioning embeddings vectors and cosine similarity search"),
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup_planted(spark):
    docs = _docs_with_planted_dups(spark)
    out = dd.exact_dedup(docs).toPandas()
    assert len(out) == 4  # 5 docs, one exact dup collapsed
    dup_group = out[out["n_copies"] == 2]
    assert len(dup_group) == 1
    assert int(dup_group["doc_id"].iloc[0]) == 1  # min-id keeper


def test_minhash_near_dup_recall_and_precision(spark):
    docs = _docs_with_planted_dups(spark)
    sh = dd.hashed_shingle_table(docs)
    cands = dd.minhash_lsh_candidates(sh, num_hashes=64, bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 3) in pairs  # exact dup must collide
    assert (1, 4) in pairs or (3, 4) in pairs  # near dup should collide
    verified = dd.jaccard_pairs(sh, cands, threshold=0.6)
    vp = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert vp[(1, 3)] == 1.0
    assert all(a != 2 and b != 2 for a, b in vp)  # unrelated doc never verified


def test_simhash_near_for_near_dups(spark):
    docs = _docs_with_planted_dups(spark)
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash64(docs).collect()}
    assert sigs[1] == sigs[3]  # identical text -> identical simhash
    ham_near = bin(sigs[1] ^ sigs[4]).count("1")
    ham_far = bin(sigs[1] ^ sigs[2]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated


def test_simhash_golden_signatures(spark):
    """Bit-exact pin of simhash64 outputs, recorded from the original
    pure-Catalyst (64 aggregate-fold) implementation before it was
    vectorized — guards the numpy fold against any semantic drift
    (normalization, tokenization, sign convention, bit packing,
    empty-string segment handling)."""
    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumped over the lazy dog"),
        (4, "Pack my box with five dozen liquor jugs"),
        (5, "  Multiple   spaces\tand\nWEIRD CaSe  "),
        (6, ""),
        (7, "single"),
        (8, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {r["doc_id"]: r["simhash"] for r in dd.simhash64(df).collect()}
    assert got == {
        1: -7573889167326994222,
        2: -7573889167326994222,
        3: -7591894778356981510,
        4: 2495353224988115078,
        5: -2239075920473587248,
        6: -7444071767201028348,
        7: 6107264898130582690,
        8: -7966748923422792363,
    }


def test_simhash_null_text_last_row(spark):
    """Regression: a NULL-text row at the END of an Arrow batch used to
    truncate the PRECEDING doc's reduceat segment by one token (clamped
    offset), silently corrupting its signature. Single partition so both
    rows share one batch; the two-token doc must hash identically to its
    appearance in the golden fixture, and NULL text must yield a NULL
    signature (not 0 — two null docs are not hamming-0 duplicates)."""
    df = spark.createDataFrame(
        [(8, "a b c d e f g h i j k l m n o p q r s t u v w x y z"), (9, None)],
        "doc_id long, text string",
    ).coalesce(1)
    got = {r["doc_id"]: r["simhash"] for r in dd.simhash64(df).collect()}
    assert got[8] == -7966748923422792363  # same pin as the golden fixture
    assert got[9] is None
    # two null docs: both NULL, no spurious pairing
    df2 = spark.createDataFrame(
        [(1, None), (2, None), (3, "single token doc here")],
        "doc_id long, text string",
    ).coalesce(1)
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash64(df2).collect()}
    assert sigs[1] is None and sigs[2] is None and sigs[3] is not None


def test_embedding_near_dup_buckets(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [-1.0, 0.0, 0.0, 0.0]),    # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in dd.embedding_near_dup_candidates(df, num_planes=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_quality_filter_and_features(spark):
    docs = spark.createDataFrame(
        [(1, "good document with plenty of clean tokens here"), (2, "!!! ... ???"), (3, "short")],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in tx.quality_filter(docs, min_tokens=4).select("doc_id").collect()}
    assert kept == {1}
    feats = tx.quality_features(docs).toPandas().set_index("doc_id")
    assert feats.loc[1, "n_tokens"] == 8
    assert feats.loc[2, "punct_ratio"] > 0.5
    assert feats.loc[3, "n_tokens"] == 1


def test_fingerprints_normalization(spark):
    docs = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    fps = tx.fingerprints(docs).toPandas().set_index("doc_id")["fingerprint"]
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_token_histogram_on_fixture(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    hist = tx.token_histogram(docs, top_n=10).toPandas()
    assert len(hist) == 10
    assert (hist["freq"].to_numpy()[:-1] >= hist["freq"].to_numpy()[1:]).all()


def test_connected_components_chain(spark):
    """Chains collapse transitively: A~B, B~C, (never A~C) => one
    component; separate pair D~E stays its own component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comps = {r["node"]: r["component"] for r in dd.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 120-hop chain converges well inside max_iters=10: pointer
    jumping doubles label reach each round (2^10 - 1 hops), where one-hop
    propagation alone would need 120 rounds and silently time out."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    comps = dd.connected_components(pairs, max_iters=10)
    assert {r["component"] for r in comps.collect()} == {0}


def test_connected_components_raises_on_exhaustion(spark):
    """Exhausting max_iters with labels still changing must raise, not
    return unmerged components."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(pairs, max_iters=2)
    # max_iters < 1 is a usage error, not a NameError
    with pytest.raises(ValueError, match="max_iters"):
        dd.connected_components(pairs, max_iters=0)


def test_repetition_stats_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),            # one word 4x
            (2, "all words here are unique"),       # no repetition
            (3, "ab cd ab cd ab cd"),               # dominant bigram
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in tx.repetition_stats(df).collect()}
    assert got[1]["n_words"] == 4 and got[1]["n_distinct_words"] == 1
    assert got[1]["dup_word_frac"] == 0.75
    assert got[1]["top_ngram_count"] == 3  # "spam spam" x3
    assert got[2]["dup_word_frac"] == 0.0 and got[2]["top_ngram_count"] == 1
    # "ab cd" appears 3x of 5 bigrams
    assert got[3]["top_ngram_count"] == 3 and got[3]["n_ngrams"] == 5
    assert got[3]["top_ngram_frac"] == 0.6
    for empty in (4, 5):
        assert got[empty]["n_words"] == 0 and got[empty]["dup_word_frac"] == 0.0
        assert got[empty]["n_ngrams"] == 0 and got[empty]["top_ngram_frac"] == 0.0


def test_word_ngrams_keeps_duplicates_and_order(spark):
    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    row = df.select(dd.word_ngrams("text", 2).alias("g")).first()
    assert row["g"] == ["a b", "b a", "a b"]
    assert df.select(dd.word_shingles("text", 2).alias("g")).first()["g"] == ["a b", "b a"]


def test_build_vocab_and_tokenize_roundtrip(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "a rare xylophone"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    vocab = tx.build_vocab(df, top_v=6)
    v = {r["token"]: (r["freq"], r["token_id"]) for r in vocab.collect()}
    assert len(v) == 6
    assert v["the"][0] == 3 and v["the"][1] == 1  # most frequent -> id 1
    assert v["sat"][0] == 2 and v["sat"][1] == 2  # then by (freq desc, token)

    ids = {r["doc_id"]: r["ids"] for r in tx.tokenize_to_ids_broadcast(df, vocab).collect()}
    tok2id = {t: i for t, (_, i) in v.items()}
    expected1 = [tok2id.get(t, 0) for t in "the cat sat on the mat".split()]
    assert ids[1] == expected1
    assert 0 in ids[3]  # xylophone (or rare) is OOV -> unk id 0
    assert ids[4] == [] and ids[5] == []
    # sequence order is positional, not sorted: doc 1 revisits "the" at pos 4
    assert ids[1][0] == ids[1][4] == tok2id["the"]


def test_redact_pii_counts_and_rewrite(spark):
    rows = [
        (1, "mail me at jo.doe+x@corp.example.org or call +1-555-0123 now"),
        (2, "server at 192.168.1.10 and 10.0.0.255 no other contact"),
        (3, "clean text with no identifiers at all"),
        (4, "two mails a@b.co and c.d@e-f.org plus 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1 and out[1]["n_ipv4"] == 0
    assert out[1]["text"] == "mail me at [PII] or call [PII] now"
    assert out[2]["n_ipv4"] == 2 and out[2]["n_email"] == 0
    assert out[2]["text"] == "server at [PII] and [PII] no other contact"
    assert out[3]["text"] == rows[2][1]  # untouched
    assert out[3]["n_email"] == out[3]["n_phone"] == out[3]["n_ipv4"] == 0
    assert out[4]["n_email"] == 2 and out[4]["n_ipv4"] == 1
    assert "[PII]" in out[4]["text"] and "@" not in out[4]["text"]


def test_redact_pii_idempotent(spark):
    df = spark.createDataFrame(
        [(1, "mail a@b.co ip 1.2.3.4 tel +1-555-0000")], "doc_id long, text string"
    )
    once = tx.redact_pii(df, with_counts=False)
    twice = tx.redact_pii(once, with_counts=False)
    assert once.collect() == twice.collect()


def test_tfidf_top_terms_ranking(spark):
    # "zebra" appears twice in doc 1 and nowhere else -> top term of doc 1.
    # "common" appears in every doc -> idf = ln(1) = 0, never ranks first.
    rows = [
        (1, "common zebra zebra apple"),
        (2, "common apple apple banana"),
        (3, "common banana cherry cherry"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.tfidf_top_terms(df, k=1, min_token_len=4).collect()
    top = {r["doc_id"]: r for r in out}
    assert top[1]["token"] == "zebra" and top[1]["tf"] == 2 and top[1]["df_docs"] == 1
    assert top[2]["token"] == "apple"
    assert top[3]["token"] == "cherry"
    assert all(r["rank"] == 1 for r in out)


def test_dedup_against_drops_only_known_fingerprints(spark):
    ref = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "ALPHA   beta gamma"),  # normalizes to a known fingerprint
            (11, "totally fresh content"),
            (12, "delta epsilon"),       # exact known dup
            (13, "delta epsilon zeta"),  # near, NOT exact -> kept
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dd.dedup_against(new, ref).collect())
    assert kept == [11, 13]


def test_repeated_passages_detects_planted_boilerplate(spark):
    header = "this license header is repeated verbatim in many documents here"
    rows = [(i, f"{header} unique body {i} filler {i * 7}") for i in range(10)]
    rows += [(100 + i, f"totally unique document number {i} with its own words " + " ".join(f"w{i}x{j}" for j in range(12))) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.repeated_passages(df, n=8, min_docs=5).toPandas()
    # the 10-word header contributes word 8-grams shared by all 10 docs
    top = out.sort_values("n_docs", ascending=False).iloc[0]
    assert top["n_docs"] == 10
    assert top["n_occurrences"] == 10
    assert top["first_doc_id"] == 0
    # every fully-shared 8-gram lies in the common prefix: the header
    # plus the "unique body" words that also follow it in every doc
    # (membership, not ordering — ties at n_docs=10 are order-unstable)
    assert top["passage"] in header + " unique body"
    # unique documents contribute no passage at min_docs=5
    assert all(out["n_docs"] >= 5)


def _python_token_ids(text, tok2id, unk_id=0):
    """Pure-Python token-id reference: lowercase, split on ASCII
    whitespace runs (the ``textfns.tokens`` policy), OOV -> ``unk_id``."""
    import re as _re

    if text is None:
        return []
    return [tok2id.get(t, unk_id) for t in _re.split(r"[ \t\n\r\f\v]+", text.lower()) if t]


def test_tokenize_broadcast_matches_python_reference(spark):
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    vocab = tx.build_vocab(docs, top_v=25)
    tok2id = {r["token"]: r["token_id"] for r in vocab.collect()}
    want = {r["doc_id"]: _python_token_ids(r["text"], tok2id) for r in docs.collect()}
    got = {
        r["doc_id"]: r["ids"]
        for r in tx.tokenize_to_ids_broadcast(docs, vocab).collect()
    }
    assert len(want) > 0 and got == want
    assert any(i != 0 for ids in got.values() for i in ids)


def test_repeated_passages_hash_mode_matches_exact(spark):
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = (
        dd.repeated_passages(docs, n=5, min_docs=2, via_hash=False)
        .toPandas().sort_values("passage").reset_index(drop=True)
    )
    hashed = (
        dd.repeated_passages(docs, n=5, min_docs=2, via_hash=True)
        .toPandas().sort_values("passage").reset_index(drop=True)
    )
    assert len(exact) > 0
    assert exact.equals(hashed)


def test_repeated_passages_maximal_reports_template_once(spark):
    """A planted 16-word template shared by 5 docs must surface as ONE
    level-16 row — not as the nine overlapping 8-grams it contains —
    while an independent 8-word header that is nobody's sub-passage
    still surfaces at level 8."""
    template = " ".join(f"tpl{j}" for j in range(16))
    header8 = " ".join(f"hdr{j}" for j in range(8))
    rows = [
        (i, " ".join(f"p{i}w{k}" for k in range(6)) + f" {template} "
            + " ".join(f"s{i}w{k}" for k in range(6)))
        for i in range(5)
    ]
    rows += [(50 + i, f"{header8} tail{i}a tail{i}b tail{i}c") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.repeated_passages_maximal(df, ns=(8, 16, 32), min_docs=3).toPandas()

    t16 = out[out["passage"] == template]
    assert len(t16) == 1
    assert t16.iloc[0]["n_words"] == 16
    assert t16.iloc[0]["n_docs"] == 5
    assert t16.iloc[0]["first_doc_id"] == 0
    # no 8-gram contained in the template survives
    assert not any(
        (p != template) and (p in template) for p in out["passage"]
    )
    h8 = out[out["passage"] == header8]
    assert len(h8) == 1
    assert h8.iloc[0]["n_words"] == 8
    assert h8.iloc[0]["n_docs"] == 4
    # nothing at level 32 (surroundings are unique per doc)
    assert (out["n_words"] != 32).all()


def test_bm25_hand_computed(spark):
    """BM25 on a 3-doc fixture against a hand-rolled python computation
    (same micro-quantized idf)."""
    import math

    docs = [
        (0, "spark spark window join"),
        (1, "hash table scan"),
        (2, "spark hash window window window"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    terms = ["spark", "hash", "window"]
    out = {r["doc_id"]: r for r in tx.bm25_scores(df, terms, top_k=10).collect()}

    N, k1, b = 3, 1.2, 0.75
    lens = {d: len(t.split()) for d, t in docs}
    avgdl = sum(lens.values()) / N
    dfreq = {t: sum(1 for _, txt in docs if t in txt.split()) for t in terms}
    idf_micro = {
        t: math.floor(math.log(1.0 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5)) * 1e6)
        for t in terms
    }

    def score(d, txt):
        s = 0.0
        for t in terms:
            tf = txt.split().count(t)
            if tf:
                s += (idf_micro[t] / 1e6) * (
                    tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * lens[d] / avgdl))
                )
        return s

    for d, txt in docs:
        assert out[d]["bm25"] == pytest.approx(score(d, txt), rel=1e-12), d
        assert out[d]["doc_len"] == lens[d]
    # ranking sanity: doc 2 has all three terms incl. rare 'hash'
    ranked = sorted(out.values(), key=lambda r: -r["bm25"])
    assert ranked[0]["doc_id"] == 2


def test_unigram_logprob_hand_computed(spark):
    import math

    docs = [(0, "a a b"), (1, "b c")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.unigram_logprob(df).collect()}
    ctf = {"a": 2, "b": 2, "c": 1}
    T = 5
    lp = {t: math.floor(math.log(c / T) * 1e6) for t, c in ctf.items()}
    s0 = -(2 * lp["a"] + 1 * lp["b"])
    s1 = -(1 * lp["b"] + 1 * lp["c"])
    assert out[0]["surprisal_micro"] == s0 and out[0]["n_tokens"] == 3
    assert out[1]["surprisal_micro"] == s1 and out[1]["n_tokens"] == 2
    assert out[0]["mean_nll"] == pytest.approx(s0 / 1e6 / 3, rel=1e-12)
    # the all-common-tokens doc is "more natural" than the rare-token doc
    assert out[0]["mean_nll"] < out[1]["mean_nll"]


def test_edit_distance_verify_hand_values(spark):
    docs = spark.createDataFrame(
        [(0, "kitten"), (1, "sitting"), (2, ""), (3, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r for r in dd.edit_distance_verify(pairs, docs).collect()}
    assert out[(0, 1)]["dist"] == 3
    assert out[(0, 1)]["norm_sim"] == pytest.approx(1.0 - 3.0 / 7.0)
    # two empty prefixes: distance 0, similarity defined as 1.0
    assert out[(2, 3)]["dist"] == 0 and out[(2, 3)]["norm_sim"] == 1.0

    # threshold short-circuit: beyond max_distance -> dist=-1, within=False,
    # norm_sim NULL
    bounded = {
        (r["id_a"], r["id_b"]): r
        for r in dd.edit_distance_verify(pairs, docs, max_distance=2).collect()
    }
    assert not bounded[(0, 1)]["within"]
    assert bounded[(0, 1)]["norm_sim"] is None
    assert bounded[(2, 3)]["within"]
    with pytest.raises(ValueError, match="prefix_len"):
        dd.edit_distance_verify(pairs, docs, prefix_len=0)


def test_build_inverted_index_exact(spark):
    docs = spark.createDataFrame(
        [(10, "a b a"), (20, "b c"), (30, "b")], "doc_id long, text string"
    )
    out = {r["token"]: r for r in tx.build_inverted_index(docs).collect()}
    assert out["a"]["df_docs"] == 1 and out["a"]["total_tf"] == 2
    assert out["b"]["df_docs"] == 3 and out["b"]["total_tf"] == 3
    assert out["b"]["posting_checksum"] == 60
    assert out["b"]["posting_sample"] == "10,20,30"
    assert out["c"]["posting_sample"] == "20"
    only_common = {r["token"] for r in tx.build_inverted_index(docs, min_df=2).collect()}
    assert only_common == {"b"}


def test_strip_passages_removes_planted_boilerplate(spark):
    header = " ".join(f"h{j}" for j in range(8))
    rows = [(i, f"start{i} {header} end{i}") for i in range(4)]
    rows.append((9, f"{header} {header} solo"))  # adjacent occurrences
    rows.append((10, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean_text"]
        for r in dd.strip_passages(df, [header]).collect()
    }
    for i in range(4):
        assert out[i] == f"start{i} end{i}"
    # single-pass semantics: adjacent occurrences share the boundary
    # space, so only the first is stripped per pass (documented)
    assert out[9] == f"{header} solo"
    assert out[10] is None


def test_corpus_divergence_hand_computed(spark):
    """KL contributors against a hand-rolled python computation on a
    tiny two-version fixture (B drops the doc that carries 'rare')."""
    import math

    a_rows = [(1, "x x y"), (2, "rare rare y"), (3, "x y y")]
    b_rows = [(1, "x x y"), (3, "x y y")]
    da = spark.createDataFrame(a_rows, "doc_id long, text string")
    db = spark.createDataFrame(b_rows, "doc_id long, text string")
    got = {
        r["token"]: (r["cnt_a"], r["cnt_b"], r["contrib_micro"])
        for r in tx.corpus_divergence(da, db, top_k=10).collect()
    }
    ca = {"x": 3, "y": 4, "rare": 2}
    cb = {"x": 3, "y": 3}
    t_a, t_b, v = 9, 6, 3
    want = {
        t: (
            ca[t],
            cb.get(t, 0),
            ca[t]
            * math.floor(
                math.log((ca[t] * (t_b + v)) / (t_a * (cb.get(t, 0) + 1)))
                * 1_000_000
            ),
        )
        for t in ca
    }
    assert got == want
    # per-occurrence divergence rate peaks on the token B dropped
    # (total contribution is count-weighted, so frequent shared tokens
    # can out-total a rare dropped one — by design)
    top_rate = max(got.items(), key=lambda kv: kv[1][2] / kv[1][0])
    assert top_rate[0] == "rare"
    assert got["rare"][2] > 0


def test_set_similarity_join_matches_brute_force(spark):
    """Prefix-filtered exact join vs a local brute force on sf0.001:
    identical pair sets and jaccard values — the no-false-negative
    guarantee, checked end to end."""
    from itertools import combinations

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.set_similarity_join(docs, threshold=0.5).collect()
    }

    rows = docs.select("doc_id", "text").collect()
    def shingles(t):
        toks = t.strip().lower().split()
        n = 3
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    sets = {r["doc_id"]: shingles(r["text"]) for r in rows if r["text"] is not None}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if u and i * 2 >= u:  # t=0.5 -> i/u >= 1/2
            want[(a, b)] = i / u
    assert got == want
    assert len(want) > 0


def test_dedup_within_window_keeps_first_per_window(spark):
    import datetime as _dt

    from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd

    base = _dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, "a", base, 100),                               # win 0, keep
        (1, "a", base + _dt.timedelta(minutes=30), 101),   # win 0, dup
        (1, "a", base + _dt.timedelta(hours=1), 102),      # win 1, keep
        (2, "a", base + _dt.timedelta(minutes=5), 103),    # other key, keep
        (1, "b", base + _dt.timedelta(minutes=5), 104),    # other type, keep
    ]
    df = spark.createDataFrame(rows, "user_id int, et string, ts timestamp, eid int")
    kept = dd.dedup_within_window(
        df, keys=["user_id", "et"], ts_col="ts", window_seconds=3600,
        tiebreak_cols=["eid"],
    )
    assert sorted(r["eid"] for r in kept.collect()) == [100, 102, 103, 104]
    ws = {r["eid"]: r["window_start"] for r in kept.collect()}
    assert ws[102] == base + _dt.timedelta(hours=1)


def test_near_dup_against_cross_corpus_only(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd

    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "completely different text about distributed query engines"),
            (3, "another unrelated document discussing parquet file layouts"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # near-copy of base doc 1 (one word changed)
            (10, "the quick brown fox jumps over the lazy cat near the river bank"),
            # unrelated new doc
            (11, "fresh crawl content with entirely novel words and phrases"),
            # near-copy of ANOTHER NEW doc — must NOT be reported (new x new)
            (12, "fresh crawl content with entirely novel words and phrase"),
        ],
        "doc_id long, text string",
    )
    got = dd.near_dup_against(new, base, threshold=0.5, shingle_k=3).collect()
    pairs = {(r["new_id"], r["base_id"]) for r in got}
    assert (10, 1) in pairs
    assert all(p[0] in (10, 11, 12) and p[1] in (1, 2, 3) for p in pairs)
    assert (11, 2) not in pairs and (12, 2) not in pairs
    for r in got:
        assert r["jaccard"] >= 0.5


def test_near_dup_against_rejects_string_id(spark):
    """Round-6 pin: the parity-tag arithmetic needs an INTEGRAL id; a
    string id would implicitly cast to NULL tids and silently empty the
    output, so the guard must raise loudly instead."""
    base = spark.createDataFrame([("a", "some text here")], "doc_id string, text string")
    new = spark.createDataFrame([("b", "some text here")], "doc_id string, text string")
    with pytest.raises(TypeError, match="integral"):
        dd.near_dup_against(new, base)


def test_near_dup_against_negative_ids(spark):
    """Round-7 pin (ADVICE): Spark's % keeps the dividend's sign, so a
    negative odd tid gave tid % 2 == -1 and both decode branches fell
    through, mangling the pair. pmod decodes 0/1 for every long — a
    planted near-dup with NEGATIVE ids on both sides must be found."""
    base = spark.createDataFrame(
        [
            (-7, "the quick brown fox jumps over the lazy dog near the river bank"),
            (-8, "completely different text about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (-100, "the quick brown fox jumps over the lazy cat near the river bank"),
            (-101, "fresh crawl content with entirely novel words and phrases"),
        ],
        "doc_id long, text string",
    )
    got = dd.near_dup_against(new, base, threshold=0.5, shingle_k=3).collect()
    pairs = {(r["new_id"], r["base_id"]) for r in got}
    assert (-100, -7) in pairs
    assert all(p[0] in (-100, -101) and p[1] in (-7, -8) for p in pairs)


def test_near_dup_against_rejects_huge_id(spark):
    """Round-7 pin (ADVICE): |id| >= 2^62 would overflow the *2 parity
    tag; in a non-ANSI session the wrap is silent, so an explicit
    per-row raise_error guards it in BOTH modes."""
    big = 1 << 62
    base = spark.createDataFrame([(big, "text one two three four five")], "doc_id long, text string")
    new = spark.createDataFrame([(1, "text one two three four five")], "doc_id long, text string")
    with pytest.raises(Exception, match="overflows the parity tag|USER_RAISED_EXCEPTION"):
        dd.near_dup_against(new, base, threshold=0.5, shingle_k=3).collect()


def test_repeated_passages_maximal_adaptive_64_word_template(spark):
    """Round-7 (verdict order 3): with adaptive=True the sweep doubles
    past the fixed top level, so a planted 64-word template shared by 4
    docs is reported exactly ONCE at n_words=64 — not as 33 overlapping
    32-grams — and the loop stops at the first empty level (128)."""
    template = " ".join(f"tpl{j}" for j in range(64))
    rows = [
        (i, " ".join(f"p{i}w{k}" for k in range(5)) + f" {template} "
            + " ".join(f"s{i}w{k}" for k in range(5)))
        for i in range(4)
    ]
    rows += [(90 + i, f"unique{i}a unique{i}b unique{i}c") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.repeated_passages_maximal(
        df, ns=(8, 16, 32), min_docs=3, adaptive=True
    ).toPandas()
    t = out[out["passage"] == template]
    assert len(t) == 1
    assert t.iloc[0]["n_words"] == 64
    assert t.iloc[0]["n_docs"] == 4
    # every shorter subgram of the template is suppressed
    assert not any((p != template) and (p in template) for p in out["passage"])
    # without adaptive, the same corpus reports the template as 32-grams
    fixed = dd.repeated_passages_maximal(df, ns=(8, 16, 32), min_docs=3).toPandas()
    assert (fixed["n_words"] == 32).any()
    assert template not in set(fixed["passage"])


def test_gopher_rules_hand_checked(spark):
    """Each Gopher rule fires on a purpose-built document and the keep
    conjunction matches a hand evaluation."""
    filler = " ".join(["the quick brown fox and that dog have gone to be of note with them"] * 5)  # 70 words, stopword-rich
    rows = [
        (1, filler),                                   # clean: keep
        (2, "short doc of the and that"),              # < 50 words
        (3, filler + " " + "#tag " * 30),              # symbol ratio blown
        (4, "\n".join(["- bullet line the of and to be that have with"] * 10)),  # all lines bullets
        (5, "\n".join([filler, "trailing thought...", "another one...", "and more..."])),
        (6, " ".join(["12345 67890"] * 40) + " the of"),  # numeric words: alpha rule fails
        (7, " ".join(["zz"] * 60)),                    # mean word len 2 < 3, no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in tx.gopher_rules(df).collect()}
    assert got[1]["keep"] is True
    assert got[2]["r_word_count"] is False and got[2]["keep"] is False
    assert got[3]["r_symbol_ratio"] is False
    assert got[4]["r_bullet_lines"] is False
    assert got[5]["r_ellipsis_lines"] is False  # 3 of 4 lines end ...
    assert got[6]["r_alpha_words"] is False
    assert got[7]["r_mean_word_len"] is False and got[7]["r_stopwords"] is False


def test_contamination_overlap_hand_checked(spark):
    """n_grams = the doc's distinct trigram count; n_hits = those shared
    with the eval corpus; disjoint docs report zero hits."""
    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    train = spark.createDataFrame(
        [
            (1, "a b c d e"),        # trigrams: abc bcd cde (3)
            (2, "x y z w"),          # trigrams: xyz yzw (2)
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "b c d e f")], "doc_id long, text string"
    )  # trigrams: bcd cde def
    got = {r["doc_id"]: (r["n_grams"], r["n_hits"]) for r in pl.contamination_overlap(train, eval_df).collect()}
    assert got[1] == (3, 2)  # bcd, cde shared
    assert got[2] == (2, 0)


def test_ngram_diversity_hand_checked(spark):
    """distinct/total counts per n on hand-built docs, including the
    repetitive doc where diversity collapses and the shorter-than-n
    whole-doc emission convention."""
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),   # 1g: 5 tot/2 dist; 2g: 4 tot/2 dist ("a b","b a"); 3g: 3 tot/2 dist
            (2, "x y"),         # 3g: shorter than 3 -> whole doc once
            (3, "w w w w"),     # fully repetitive
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in tx.ngram_diversity(df).collect()}
    assert (got[1]["total_1"], got[1]["distinct_1"]) == (5, 2)
    assert (got[1]["total_2"], got[1]["distinct_2"]) == (4, 2)
    assert (got[1]["total_3"], got[1]["distinct_3"]) == (3, 2)
    assert (got[2]["total_3"], got[2]["distinct_3"]) == (1, 1)
    assert (got[3]["total_1"], got[3]["distinct_1"]) == (4, 1)
    assert (got[3]["total_2"], got[3]["distinct_2"]) == (3, 1)


def test_perplexity_buckets_terciles(spark):
    """Head/middle/tail split the scored docs into near-thirds and order
    by fluency: repetitive docs sampled from a tight template score
    lower NLL (head) than docs of rare-word salad (tail)."""
    rows = [(i, "the cat sat on the mat and the dog ran") for i in range(6)]
    rows += [(10 + i, f"zq{i}x wublon{i} frimble{i} vorpal{i} snark{i} grue{i}") for i in range(6)]
    rows += [(20 + i, "the cat sat on the mat beside a " + f"rare{i} word") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = tx.perplexity_buckets(df).toPandas()
    assert set(got["ppl_bucket"]) == {"head", "middle", "tail"}
    by = got.groupby("ppl_bucket")["mean_nll"]
    assert by.max()["head"] <= by.min()["middle"] or by.max()["head"] <= by.max()["middle"]
    assert by.max()["middle"] <= by.min()["tail"] + 1e-9
    # template docs are fluent under the corpus LM; salad docs are not
    tmpl = got[got["doc_id"] < 10]["ppl_bucket"]
    salad = got[(got["doc_id"] >= 10) & (got["doc_id"] < 20)]["ppl_bucket"]
    assert (tmpl == "head").all()
    assert (salad != "head").all()


def test_embedding_dedup_planted_groups(spark):
    """Planted near-dup chain A~B~C collapses to min-id A; the opposite
    vector and an unrelated axis survive; LSH-candidate path agrees with
    the exact-candidate path on this corpus."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),    # ~1
        (3, [0.995, 0.02, 0.0, 0.0]),    # ~1,2 (chain)
        (4, [-1.0, 0.0, 0.0, 0.0]),      # opposite: cos=-1, kept
        (5, [0.0, 0.0, 1.0, 0.0]),       # orthogonal, kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept_lsh = {r["vec_id"] for r in dd.embedding_dedup(df, threshold=0.9, num_planes=8, bands=16).collect()}
    ids = df.select("vec_id")
    cand = (
        ids.select(F.col("vec_id").alias("id_a"))
        .join(ids.select(F.col("vec_id").alias("id_b")), F.col("id_a") < F.col("id_b"))
    )
    kept_exact = {r["vec_id"] for r in dd.embedding_dedup(df, threshold=0.9, candidates=cand).collect()}
    assert kept_exact == {1, 4, 5}
    assert kept_lsh == kept_exact


def test_embedding_dedup_drop_set_not_forced_broadcast(spark):
    """Crawl-scale guard (VERDICT r7 #1): SemDeDup drop fractions run
    20-50%, so the final anti-join's drop set is corpus-scale and must
    NOT carry a forced broadcast hint. With AQE off and
    autoBroadcastJoinThreshold=-1 a forced hint would still plan a
    BroadcastHashJoin; the fix lets the planner choose, so the anti-join
    sort-merges. A planted 95%-dup corpus stays correct either way."""
    from plan_checks import formatted_plan

    # 200 vectors, 190 of them near-dups of one template: drop fraction 95%.
    # The 10 survivors sit at 0.1-rad steps in the (z,w) plane — adjacent
    # cosine cos(0.1)≈0.995, safely below the 0.999 threshold.
    import math

    rows = [(i, [1.0, i * 1e-6, 0.0, 0.0]) for i in range(190)]
    rows += [
        (200 + i, [0.0, 0.0, math.cos(0.1 * i), math.sin(0.1 * i)])
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(4)
    ids = df.select("vec_id")
    cand = ids.select(F.col("vec_id").alias("id_a")).join(
        ids.select(F.col("vec_id").alias("id_b")), F.col("id_a") < F.col("id_b")
    )
    out = dd.embedding_dedup(df, threshold=0.999, candidates=cand)
    conf = spark.conf
    saved = {
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = formatted_plan(out)
        anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti, plan
        assert not any("Broadcast" in ln for ln in anti), plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    kept = {r["vec_id"] for r in out.collect()}
    assert kept == {0} | {200 + i for i in range(10)}


def test_canonical_url_hand_checked(spark):
    """Tracking params dropped, params sorted, scheme/host lowercased
    (path case kept), fragment gone, trailing slash stripped on
    non-root paths, root path untouched."""
    from hdinsight_pyspark_cntk_integration_spark.functions.textfns import canonical_url

    cases = [
        (1, "HTTPS://Example.COM/A/b/?utm_source=x&b=2&a=1#frag",
            "https://example.com/A/b?a=1&b=2"),
        (2, "https://example.com/a?fbclid=z&gclid=y&ref=home",
            "https://example.com/a"),
        (3, "http://EXAMPLE.com/", "http://example.com/"),
        (4, "http://example.com", "http://example.com"),
        (5, "https://example.com/p?b=2&a=1",
            "https://example.com/p?a=1&b=2"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], "id long, url string")
    got = {r["id"]: r["c"] for r in df.select("id", canonical_url("url").alias("c")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_near_dup_against_lsh_subset_of_exact(spark, sf_dir):
    """The LSH path's verified pairs are a (deterministic) SUBSET of the
    exact cross-corpus Jaccard pairs at the same threshold — the exact
    verify step guarantees no false positives, banding may only drop
    borderline candidates."""
    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    new = docs.filter(F.col("doc_id") >= hi - 49)
    base = docs.filter(F.col("doc_id") < hi - 49)
    lsh = {
        (r["new_id"], r["base_id"])
        for r in dd.near_dup_against(new, base, threshold=0.3, shingle_k=3).collect()
    }
    sh = docs.select("doc_id", dd.word_shingles("text", 3).alias("sh"))
    n = sh.filter(F.col("doc_id") >= hi - 49).select(
        F.col("doc_id").alias("new_id"), F.col("sh").alias("sn"))
    b = sh.filter(F.col("doc_id") < hi - 49).select(
        F.col("doc_id").alias("base_id"), F.col("sh").alias("sb"))
    jac = (F.size(F.array_intersect("sn", "sb")).cast("double")
           / F.size(F.array_union("sn", "sb")).cast("double"))
    exact = {
        (r["new_id"], r["base_id"])
        for r in n.crossJoin(b).select("new_id", "base_id", jac.alias("j"))
        .filter(F.col("j") >= 0.3).collect()
    }
    assert lsh.issubset(exact)
    assert exact  # the fixture has planted cross-corpus near-dups


def test_containment_join_matches_brute_force(spark):
    """Asymmetric prefix-filtered containment join vs local brute force
    on sf0.001: identical directed pair sets and values — the
    no-false-negative guarantee for the asymmetric case."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    thr = 0.6
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.containment_join(docs, threshold=thr).collect()
    }

    rows = docs.select("doc_id", "text").collect()

    def shingles(t):
        toks = t.strip().lower().split()
        n = 3
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {r["doc_id"]: shingles(r["text"]) for r in rows if r["text"] is not None}
    want = {}
    for a in sets:
        for b in sets:
            if a == b or not sets[a]:
                continue
            inter = len(sets[a] & sets[b])
            if inter / len(sets[a]) >= thr:
                want[(a, b)] = inter / len(sets[a])
    assert got == want


def test_containment_join_quote_inside_article(spark):
    quote = "alpha beta gamma delta epsilon zeta"
    article = quote + " " + " ".join(f"w{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, quote), (2, article), (3, "totally different text here now")],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): r["containment"]
           for r in dd.containment_join(docs, threshold=0.9).collect()}
    # the quote is fully contained in the article, not vice versa
    assert got == {(1, 2): 1.0}
    with pytest.raises(ValueError):
        dd.containment_join(docs, threshold=0.0)


def test_similarity_two_pass_verify_borderline(spark):
    """r15 two-pass hash verify: pairs whose hash upper bound passes
    pass-1 but whose EXACT string intersection sits just below the
    threshold must be dropped by pass-2, and exactly-at-threshold pairs
    kept — the boundary where a sloppy prefilter would change results.

    Docs share enough rare shingles to survive candidate generation and
    the hash bound; pair (1,2) has Jaccard exactly 0.6 (kept), pair
    (3,4) has Jaccard just below (dropped). Containment analog: (5,6)
    exactly at 0.6 kept, (7,8) at 0.59 dropped."""
    import itertools

    def doc(words):
        return " ".join(words)

    # 3-shingles of a k-word doc: k-2 distinct shingles (all words unique).
    # Build A,B sharing a run: A = p + c, B = c + q with c common run.
    a = [f"a{i}" for i in range(4)] + [f"c{i}" for i in range(14)]
    b = [f"c{i}" for i in range(14)] + [f"b{i}" for i in range(4)]
    # |A| = |B| = 16 shingles; common shingles = 12 ("c0..c13" run gives
    # 12 3-shingles); jaccard = 12/20 = 0.6 exactly.
    x = [f"x{i}" for i in range(5)] + [f"d{i}" for i in range(14)]
    y = [f"d{i}" for i in range(14)] + [f"y{i}" for i in range(5)]
    # |X| = |Y| = 17; common = 12; jaccard = 12/22 < 0.6 — borderline out.
    p = [f"p{i}" for i in range(12)]
    q = [f"p{i}" for i in range(12)] + [f"q{i}" for i in range(30)]
    # containment(P in Q) = 10/10 = 1.0; trim P to get exactly 0.6:
    # P2 has 10 shingles, 6 inside Q.
    p2 = [f"p{i}" for i in range(8)] + [f"z{i}" for i in range(4)]
    # shingles(P2) = 10; common with Q = 6 (p-run of 8 words -> 6
    # 3-shingles); containment = 6/10 = 0.6 exactly.
    p3 = [f"p{i}" for i in range(8)] + [f"w{i}" for i in range(5)]
    # shingles(P3) = 11; common = 6; containment = 6/11 < 0.6.
    docs = spark.createDataFrame(
        [(1, doc(a)), (2, doc(b)), (3, doc(x)), (4, doc(y)),
         (5, doc(p2)), (6, doc(q)), (7, doc(p3)), (8, doc(q + ["qq"]))],
        "doc_id long, text string",
    )

    got_j = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dd.set_similarity_join(docs, threshold=0.6).collect()}
    assert (1, 2) in got_j and abs(got_j[(1, 2)] - 0.6) < 1e-12
    assert (3, 4) not in got_j

    got_c = {(r["id_a"], r["id_b"]): r["containment"]
             for r in dd.containment_join(docs, threshold=0.6).collect()}
    assert got_c.get((5, 6)) == pytest.approx(0.6)
    assert (7, 8) not in got_c
    # full brute-force cross-check of every pair in this fixture
    rows = docs.collect()

    def sh3(t):
        toks = t.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sets = {r["doc_id"]: sh3(r["text"]) for r in rows}
    want_j = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        inter = len(sets[i] & sets[j])
        uni = len(sets[i] | sets[j])
        if inter * 5 >= 3 * uni:
            want_j[(i, j)] = inter / uni
    assert got_j == pytest.approx(want_j)
    want_c = {}
    for i in sets:
        for j in sets:
            if i != j and len(sets[i] & sets[j]) * 5 >= 3 * len(sets[i]):
                want_c[(i, j)] = len(sets[i] & sets[j]) / len(sets[i])
    assert got_c == pytest.approx(want_c)


def test_two_pass_verify_exact_under_hash_collisions(spark):
    """The pass-1 hash bound may only over-admit: docs 1 and 2 share
    every hash value but one shingle string, so they pass pass 1 and
    pass 2 must drop them on the exact string intersection; the true
    pair (3, 4) survives both passes."""
    sh = spark.createDataFrame(
        [
            (1, ["a", "b", "c"], [10, 20, 30]),
            (2, ["a", "x", "y"], [10, 20, 30]),
            (3, ["p", "q"], [1, 2]),
            (4, ["p", "q"], [1, 2]),
        ],
        "__id long, __s array<string>, __h array<bigint>",
    )
    cand = spark.createDataFrame([(1, 2), (3, 4)], "__ida long, __idb long")
    got = dd._two_pass_verify(sh, cand, lambda inter, na, nb: inter * 2 >= na + nb)
    assert [(r["__ida"], r["__idb"], r["__i"]) for r in got.collect()] == [(3, 4, 2)]


# --- oov_rate -------------------------------------------------------------


def test_oov_rate_matches_python(spark):
    import math
    from collections import Counter

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "zz qq zz zz"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    top_v = 3
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_micro"])
           for r in tx.oov_rate(df, top_v=top_v).collect()}
    counts = Counter(t for _, txt in docs for t in txt.split())
    vocab = {t for t, _ in sorted(counts.items(),
                                  key=lambda kv: (-kv[1], kv[0]))[:top_v]}
    want = {}
    for i, txt in docs:
        toks = txt.split()
        oov = sum(1 for t in toks if t not in vocab)
        want[i] = (len(toks), oov, math.floor(oov / len(toks) * 1e6))
    assert got == want
    with pytest.raises(ValueError):
        tx.oov_rate(df, top_v=0)


def test_oov_rate_full_vocab_is_zero(spark):
    docs = [(1, "a b c"), (2, "b c d")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = tx.oov_rate(df, top_v=100).collect()
    assert all(r["oov_micro"] == 0 for r in got)


def test_minhash_md5_family_agrees_with_xxhash64_on_planted_dups(spark):
    """The md5 (oracle-portable) and xxhash64 (production) hash families
    draw different random hashes, but both must surface a planted
    high-Jaccard pair at r=4/b=8 (16 total collision lotteries at
    J~0.95) and neither may emit a pair for disjoint docs."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 5
    rows = [
        (1, base),
        (2, base + "kilo"),
        (3, "zulu yankee xray whiskey victor uniform tango sierra " * 6),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fam in ("md5", "xxhash64"):
        got = {
            (r["id_a"], r["id_b"])
            for r in dd.minhash_lsh_candidates(
                dd.hashed_shingle_table(df, hash_family=fam),
                num_hashes=32, bands=8, hash_family=fam,
            ).collect()
        }
        assert (1, 2) in got, fam
        assert not any(3 in p for p in got), fam


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"num_hashes": 8, "bands": 2, "hash_family": "sha9"}, "hash_family"),
        ({"num_hashes": 8, "bands": 0}, "bands must divide num_hashes"),
        ({"num_hashes": 0, "bands": 1}, "bands must divide num_hashes"),
        ({"num_hashes": 8, "bands": 16}, "bands must divide num_hashes"),
        ({"num_hashes": 8, "bands": 3}, "bands must divide num_hashes"),
    ],
    ids=["unknown_family", "zero_bands", "zero_hashes", "bands_over_hashes", "not_divisor"],
)
def test_minhash_bad_arguments_raise(spark, kwargs, match):
    df = spark.createDataFrame([(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match=match):
        dd.minhash_pairs(df, **kwargs)
    if "hash_family" not in kwargs:
        with pytest.raises(ValueError, match=match):
            dd.minhash_lsh_candidates(dd.hashed_shingle_table(df), **kwargs)


def _null_text_docs(spark):
    text = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, text),
        (2, text),
        (3, None),
        (4, None),
        (5, "a completely different document about spark query engines and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("fam", ["xxhash64", "md5"])
def test_minhash_null_text_never_pairs(spark, fam):
    """NULL text has no shingles (as in the DuckDB oracles): the two
    NULL-text documents never pair and only the planted pair (1, 2)
    comes back, from every entry point."""
    docs = _null_text_docs(spark)
    mh = {"num_hashes": 16, "bands": 4, "hash_family": fam}
    sh = dd.hashed_shingle_table(docs, hash_family=fam)
    cands = dd.minhash_lsh_candidates(sh, **mh)
    assert [tuple(r) for r in cands.collect()] == [(1, 2)]
    assert [tuple(r) for r in dd.jaccard_pairs(sh, cands, threshold=0.5).collect()] == [
        (1, 2, 1.0)
    ]
    assert [tuple(r) for r in dd.minhash_pairs(docs, threshold=0.5, **mh).collect()] == [
        (1, 2, 1.0)
    ]
    new = docs.filter(F.col("doc_id") % 2 == 0)
    base = docs.filter(F.col("doc_id") % 2 == 1)
    got = dd.near_dup_against(new, base, threshold=0.5, **mh).collect()
    assert [tuple(r) for r in got] == [(2, 1, 1.0)]


def test_prefix_joins_null_text_never_pair(spark):
    docs = _null_text_docs(spark)
    got = dd.set_similarity_join(docs, threshold=0.5).collect()
    assert [tuple(r) for r in got] == [(1, 2, 1.0)]
    got = dd.containment_join(docs, threshold=0.5).collect()
    assert sorted(tuple(r) for r in got) == [(1, 2, 1.0), (2, 1, 1.0)]


_NEAR_DUP_OPS = {
    "minhash_pairs_md5": lambda df: dd.minhash_pairs(
        df, threshold=0.5, num_hashes=16, bands=4, hash_family="md5"
    ),
    "minhash_pairs_xxhash64": lambda df: dd.minhash_pairs(
        df, threshold=0.5, num_hashes=16, bands=4
    ),
    "near_dup_against": lambda df: dd.near_dup_against(
        df.filter(F.col("doc_id") % 2 == 1),
        df.filter(F.col("doc_id") % 2 == 0),
        threshold=0.5,
        num_hashes=16,
        bands=4,
    ),
    "set_similarity_join": lambda df: dd.set_similarity_join(df, threshold=0.5),
    "containment_join": lambda df: dd.containment_join(df, threshold=0.5),
}


@pytest.mark.parametrize("name", sorted(_NEAR_DUP_OPS))
def test_near_dup_partition_invariance(spark, name):
    """Same rows under 1 and 7 shuffle partitions with AQE off. Four
    planted clusters of three 24-word documents, 0-2 words edited
    apiece."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for _ in range(4):
        words = [rng.choice(vocab) for _ in range(24)]
        for edits in range(3):
            doc = list(words)
            for _ in range(edits):
                doc[rng.randrange(len(doc))] = rng.choice(vocab)
            rows.append((len(rows), " ".join(doc)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    op = _NEAR_DUP_OPS[name]
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    got = {}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            got[n] = sorted(tuple(r) for r in op(df).collect())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got[1]
    assert got[1] == got[7]


def test_minhash_md5_shingle_hash_matches_duckdb_recipe(spark):
    """The md5-prefix integer Spark computes per shingle must equal
    DuckDB's CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % P —
    the exact cross-engine contract the minhash_provable oracle
    relies on."""
    import duckdb

    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import (
        _hashed_shingles_sql,
    )

    rows = [(1, "portable hashing contract check")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.selectExpr(
        f"{_hashed_shingles_sql('text', 3, 'word', 'md5')} AS hs"
    ).collect()[0]["hs"]
    con = duckdb.connect()
    ref = con.sql(
        """
        SELECT list_transform(list_distinct(list_transform(
          generate_series(1, greatest(len(t) - 2, 1)),
          i -> array_to_string(t[i:i+2], ' '))),
          s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647)
        FROM (SELECT string_split('portable hashing contract check', ' ') AS t)
        """
    ).fetchall()[0][0]
    assert sorted(got) == sorted(ref)


# --- simhash_banded_pairs (round 10, oracle-provable twin) ---


def test_simhash_banded_pairs_planted(spark):
    """A planted near-duplicate pair (one token changed out of 40) must
    surface; unrelated docs must not pair with it."""
    words_a = " ".join(f"tok{i}" for i in range(40))
    words_b = " ".join(("tok999" if i == 17 else f"tok{i}") for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(100, 140))
    df = spark.createDataFrame(
        [(0, words_a), (1, words_b), (2, other)], "doc_id long, text string"
    )
    rows = dd.simhash_banded_pairs(df, radius=12).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert ham[(0, 1)] <= 12


def test_simhash_banded_pairs_families_and_validation(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e f"), (2, None), (3, "   ")],
        "doc_id long, text string",
    )
    for fam in ("md5", "xxhash64"):
        rows = dd.simhash_banded_pairs(df, radius=0, hash_family=fam).collect()
        # identical docs → hamming 0; NULL/blank docs excluded entirely
        assert {(r["id_a"], r["id_b"]) for r in rows} == {(0, 1)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.simhash_banded_pairs(df, bits=64, bands=5)
    with _pytest.raises(ValueError):
        dd.simhash_banded_pairs(df, hash_family="sha1")


# --- recommended_num_planes (round 11, SCALING.md finding #2) ---


def test_recommended_num_planes_scales_log2():
    import pytest as _pytest

    # target_bucket=32 default: planes ~ ceil(log2(n/32)), clamped [4,24]
    assert dd.recommended_num_planes(2_000) == 6
    assert dd.recommended_num_planes(20_000) == 10
    assert dd.recommended_num_planes(1_000_000_000) == 24  # clamp high
    assert dd.recommended_num_planes(10) == 4  # clamp low
    # +10x corpus => ~log2(10) ~ 3-4 more planes (density held)
    assert 3 <= dd.recommended_num_planes(20_000) - dd.recommended_num_planes(2_000) <= 4
    with _pytest.raises(ValueError):
        dd.recommended_num_planes(0)


def test_embedding_candidates_self_size_default(spark):
    """num_planes=None (round-12 default, VERDICT r11 #2) derives the
    plane count from the corpus row count: the candidate set must equal
    the explicit recommended_num_planes(n) run bit-for-bit (same seed →
    same planes), and a tiny corpus must clamp to the 4-plane floor."""
    rows = [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    auto = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_near_dup_candidates(df).collect()
    }
    pinned = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_near_dup_candidates(
            df, num_planes=dd.recommended_num_planes(40)
        ).collect()
    }
    assert auto == pinned
    assert dd.recommended_num_planes(40) == 4  # 40 rows clamps to floor


# --- exact_dedup_keep_best (round 11, quality-argmax representative) ---


def test_exact_dedup_keep_best_picks_max_score_min_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the same text", 10),
            (2, "The  SAME   text", 30),   # normalizes equal; best score
            (3, "the same text", 30),      # score tie -> min id wins (2)
            (4, "unique text", 5),
        ],
        "doc_id long, text string, score long",
    )
    out = {r["doc_id"]: r for r in dd.exact_dedup_keep_best(df, "score").collect()}
    assert set(out) == {2, 4}
    assert out[2]["n_copies"] == 3 and out[2]["score"] == 30
    assert out[4]["n_copies"] == 1 and out[4]["score"] == 5


def test_exact_dedup_keep_best_matches_exact_dedup_clusters(spark, sf_dir):
    """Same fingerprint clustering as exact_dedup — only the keeper rule
    differs; cluster count and n_copies multiset must match."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "score", F.pmod(F.col("doc_id") * 7919, F.lit(104729)).cast("long")
    )
    best = dd.exact_dedup_keep_best(docs, "score").collect()
    base = dd.exact_dedup(docs).collect()
    assert sorted(r["n_copies"] for r in best) == sorted(r["n_copies"] for r in base)
    assert {r["fingerprint"] for r in best} == {r["fingerprint"] for r in base}


# --- lsh_plan (round 11, banding S-curve planner) ---


def test_lsh_plan_known_point_and_monotone(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd

    rows = {(r["r"], r["b"], r["s_64"]): r["prob_micro"]
            for r in dd.lsh_plan(spark).collect()}
    # s=0.5, r=2, b=4: 1 - (1 - 0.25)^4 = 0.68359375 exactly
    assert rows[(2, 4, 32)] == 683_593
    # S-curve is monotone in s for fixed (r, b)
    for (r, b) in [(2, 4), (8, 32)]:
        probs = [rows[(r, b, s)] for s in range(1, 64)]
        assert probs == sorted(probs)
    # more bands -> higher candidate probability at the same s
    assert rows[(4, 32, 32)] >= rows[(4, 8, 32)] >= rows[(4, 4, 32)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.lsh_candidate_prob_sql("s", 0, 4)
