"""Deduplication operators for training-data pipelines (SURVEY.md §2.7).

No counterpart in the reference — these are the BASELINE.json scale-out
additions. Five families:

* exact          — fingerprint (md5 of normalized text) + keep-min-id
* MinHash + LSH  — word 3-shingles (default) → 128 minhashes → 32 banded
                   buckets → pair join
* SimHash        — 64-bit token-hash sign aggregate, hamming-radius pairs
* n-gram Jaccard — exact verify on candidate pairs (array_intersect/union)
* embedding      — cosine near-dup via random-hyperplane sign buckets

Scale design: everything is hash-partitioned work. Exact dedup is one
shuffle on the fingerprint. MinHash signatures are per-row JVM
expressions (xxhash64 + array transforms — no Python). LSH candidate
generation explodes each doc into `bands` rows (constant factor) and
self-joins per bucket, so cost is Σ|bucket|², bounded by band-hash
cardinality rather than n² — the standard 100 TB-safe near-dup plan.
"""

from __future__ import annotations

from collections.abc import Callable
from fractions import Fraction

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.functions.textfns import (
    fingerprint_md5,
    normalized_text,
    tokens,
)
from hdinsight_pyspark_cntk_integration_spark.operators.graph import counted_checkpoint, symmetric_edges

# Deterministic affine minhash parameters: h_j(x) = (a_j*x + b_j) mod p.
# p is the 31-bit Mersenne prime so a_j * x stays well under 2^63 (Spark 4
# runs ANSI mode: long overflow raises instead of wrapping).
_P = (1 << 31) - 1
_A_MULT = 2654435761
_B_MULT = 40503


def _spread(df: DataFrame) -> tuple[DataFrame, int]:
    """(df at ≥default parallelism, its partition count). Repartitions
    ONLY when the input is narrower than the core count — CPU-heavy
    per-row projections (shingling, hashing) must not serialize on a
    single-file scan, but a wide 100 TB scan must not round-trip either."""
    par = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n < par:
        return df.repartition(par), par
    return df, n


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct normalized text. One shuffle on
    the fingerprint; map-side partial agg shrinks it. Returns
    (fingerprint, doc_id keeper, n_copies)."""
    return (
        df.select(fingerprint_md5(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def _bind_once(value: Column, build) -> Column:
    """Evaluate ``value`` exactly once and hand it to ``build`` as a bound
    lambda variable: ``transform(array(value), v -> build(v))[0]``.

    HOF lambdas are interpreted (no codegen, no common-subexpression
    elimination), so a non-trivial expression referenced inside a lambda
    body is RE-EVALUATED PER ARRAY ELEMENT — e.g. a regexp+split pipeline
    inside a per-shingle ``transform`` ran ~45× per document (measured
    8.7× end-to-end slowdown on the sf0.1 shingle projection). The
    single-element-array wrapper forces one evaluation."""
    return F.transform(F.array(value), build)[0]


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """ALL word n-grams of ``tokens(text)`` in document order (duplicates
    kept), as array<string> — the counting form used by repetition
    statistics. The token array is lambda-bound (``_bind_once``) so the
    tokenizer evaluates once per document, not once per gram. A document
    shorter than n words emits its tokens as one short gram (``""`` when
    it has none).
    """

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0)))
        return F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))

    return _bind_once(tokens(text), build)


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text, as array<string>.

    ~10× fewer elements per document than char shingles — the right
    default for document-level near-dedup, since every downstream minhash
    transform is O(|shingles|) per hash function.
    """
    return F.array_distinct(word_ngrams(text, n))


def _hashed_shingles_sql(
    text_col: str, k: int = 3, mode: str = "word", hash_family: str = "xxhash64"
) -> str:
    """SQL text of a document's distinct shingles reduced to the 31-bit
    hash field: the ``hs`` column of ``hashed_shingle_table``.
    ``mode``: 'word' (n-grams of tokens, the ``word_shingles`` sets) or
    'char' (character k-grams). ``hash_family``: 'xxhash64' or 'md5'.

    The MinHash operators build hundreds of sub-expressions; composing
    them as SQL strings parsed JVM-side in ONE call is ~10× cheaper on
    the driver than building the equivalent pyspark Column tree lambda by
    lambda over py4j.
    """
    # The normalized/tokenized input is lambda-bound (transform over a
    # single-element array) so it evaluates ONCE per document — inlining
    # it in the per-shingle lambda body re-runs the regexp pipeline per
    # element (interpreted HOF, no CSE; measured 8.7× slower at sf0.1).
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    toks = f"split({norm}, '\\\\s+')"
    if mode == "word":
        sh = (
            f"transform(array({toks}), t ->"
            f" array_distinct(transform(sequence(0, greatest(size(t) - {k}, 0)),"
            f" i -> array_join(slice(t, i + 1, {k}), ' '))))[0]"
        )
    else:
        sh = (
            f"transform(array({norm}), t ->"
            f" array_distinct(transform(sequence(1, greatest(length(t) - {k - 1}, 1)),"
            f" i -> substring(t, i, {k}))))[0]"
        )
    if hash_family == "xxhash64":
        return f"transform({sh}, s -> pmod(xxhash64(s), {_P}L))"
    if hash_family == "md5":
        # Engine-portable 60-bit hash: the md5-prefix recipe the oracle
        # layer already uses for ids — DuckDB computes the identical
        # value as CAST('0x' || substr(md5(s), 1, 15) AS BIGINT), so a
        # DuckDB oracle can replay the FULL minhash/LSH pipeline
        # bit-for-bit. ~2-3x slower than xxhash64 (crypto hash + hex
        # decode) — the provable gate path, not the production default.
        return (
            f"transform({sh}, s ->"
            f" pmod(cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint), {_P}L))"
        )
    raise ValueError(f"unknown hash_family {hash_family!r} (xxhash64|md5)")


def hashed_shingle_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    shingle_mode: str = "word",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Materialized (id, hs) table: each document's distinct shingles as
    31-bit ``hash_family`` hashes — the one input of
    ``minhash_lsh_candidates`` and ``jaccard_pairs``. The hashed-shingle
    projection is the near-dup pipeline's dominant CPU; materialized, it
    runs once per query although candidate generation and both sides of
    the verify join read it. The hashed set (8 B per shingle) is smaller
    than the text it replaces.

    Rows with NULL text are dropped, so they never become candidates or
    verified pairs (the DuckDB oracles give them no shingle rows). Kept,
    NULL would shingle to ``[NULL]``, whose hash is a constant, and any
    two NULL-text documents would pair at Jaccard 1.0.
    """
    # Shingling is CPU-bound: _spread runs it at full parallelism
    # (fixtures arrive as one file = one partition) without ever
    # round-tripping raw text when the scan is already wide. The exchange
    # has an EXPLICIT partition count: AQE would otherwise coalesce the
    # tiny-bytes shingle exchange to one partition and serialize the
    # minhash projection that reads the table (CPU-bound, not
    # bytes-bound).
    src, n_parts = _spread(df.filter(F.col(text_col).isNotNull()))
    return (
        src.selectExpr(
            id_col,
            f"{_hashed_shingles_sql(text_col, shingle_k, shingle_mode, hash_family)} AS hs",
        )
        .repartition(n_parts, F.col(id_col))
        .localCheckpoint(eager=True)
    )


def minhash_lsh_candidates(
    shingles: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded MinHash-LSH over
    a ``hashed_shingle_table``.

    rows = num_hashes/bands hashes per band; docs colliding on any band's
    hash become candidates. With r=4, b=32 the S-curve threshold is
    ≈ (1/b)^(1/r) ≈ 0.42 Jaccard. Raises ``ValueError`` unless
    1 <= bands <= num_hashes and ``bands`` divides ``num_hashes``.

    ``hash_family`` is the table's family. "md5" also makes each band's
    bucket key its raw min-value tuple joined as a string instead of an
    xxhash64 of it, so together with the table's md5-prefix shingle
    integers the ENTIRE candidate generation is replayable in ANSI SQL
    and the minhash gate can be oracle-PAIRED rather than rows-only. The
    affine minhash transforms are pure integer arithmetic in both
    families.
    """
    if not 1 <= bands <= num_hashes or num_hashes % bands:
        raise ValueError(
            "bands must divide num_hashes evenly, with 1 <= bands <= num_hashes "
            f"(got num_hashes={num_hashes}, bands={bands})"
        )
    r = num_hashes // bands
    # One array_min(transform) per hash function. A single-pass fold over
    # all num_hashes at once was tried and is ~25× slower: expressions
    # inside higher-order-function lambdas are re-evaluated per element
    # and allocate per shingle.
    mins = [
        f"array_min(transform(hs, h -> pmod({(j * 2 + 1) * _A_MULT % _P}L * h"
        f" + {(j + 1) * _B_MULT % _P}L, {_P}L)))"
        for j in range(num_hashes)
    ]
    if hash_family == "md5":
        # portable band key: the raw min-value tuple as a string
        def _bh(b: int) -> str:
            arr = ", ".join(
                f"cast({m} as string)" for m in mins[b * r:(b + 1) * r]
            )
            return f"concat_ws(',', {arr})"
    else:
        def _bh(b: int) -> str:
            return f"xxhash64(array({', '.join(mins[b * r:(b + 1) * r])}))"
    structs = ", ".join(
        f"struct({b} AS band, {_bh(b)} AS bh)" for b in range(bands)
    )
    # The band table is materialized: BOTH sides of the bucket self-join
    # below read it, and unmaterialized each side would re-run the
    # num_hashes-transform projection. (id, band, bh) is the LSH
    # signature index every production near-dup system persists; it is
    # num_hashes/r short rows per doc.
    banded = (
        shingles.select(
            F.col(id_col), F.expr(f"explode(array({structs}))").alias("x")
        )
        .select(id_col, "x.band", "x.bh")
        .localCheckpoint(eager=True)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "bh"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """n-gram Jaccard verification of candidate ``pairs`` (id_a, id_b)
    over a ``hashed_shingle_table``: |A∩B| / |A∪B| via
    array_intersect/array_union of the hashed shingle sets (31-bit hashes —
    collision effect on Jaccard is ≤ |A|²/2³¹, negligible; set semantics
    hold even under collision because array_intersect/array_union both
    de-duplicate, matching an oracle's DISTINCT-hash sets). Verifying on
    the table the candidates came from keeps one hash family end to end,
    so an md5-family pipeline replays exactly even under intra-document
    hash collisions. Returns (id_a, id_b, jaccard) with jaccard >=
    ``threshold``; a document with NULL text has no table row and never
    pairs. Two hash joins keyed by doc id — linear in candidates, never n².
    """
    sh_a = shingles.select(F.col(id_col).alias("id_a"), F.col("hs").alias("sh_a"))
    sh_b = shingles.select(F.col(id_col).alias("id_b"), F.col("hs").alias("sh_b"))
    out = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Verified near-dup pairs (id_a < id_b, jaccard >= ``threshold``):
    one ``hashed_shingle_table`` read by ``minhash_lsh_candidates`` and
    ``jaccard_pairs``. Documents with NULL text never pair."""
    sh = hashed_shingle_table(df, id_col, text_col, shingle_k, shingle_mode, hash_family)
    cands = minhash_lsh_candidates(sh, id_col, num_hashes, bands, hash_family)
    return jaccard_pairs(sh, cands, id_col, threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Transitive closure of a duplicate-pair graph: (node, component)
    where component = min node id reachable from it.

    Each round does (1) one-hop min-label propagation — every node adopts
    the smallest label among itself and its neighbors — then (2) a
    pointer-jumping step — every node adopts its current label's label
    (label-of-label, i.e. path doubling). One-hop alone needs O(diameter)
    rounds, which a long duplicate chain can exhaust; with pointer
    jumping the reach doubles each round, so convergence is
    O(log diameter) and ``max_iters=20`` covers chains of ~10⁶ hops.
    Chains A~B~C collapse to one cluster even when A~C was never a
    candidate pair — the case single-link "drop the larger id of each
    pair" gets wrong.

    Each round is a constant number of shuffles on node id.
    `localCheckpoint` truncates the growing lineage so round N doesn't
    recompute rounds 1..N-1 (and keeps the plan size constant at 100 TB,
    where a 20-round lineage would blow the optimizer). Convergence is
    detected from the count of changed labels per round, observed by
    the round's own checkpoint job (``graph.counted_checkpoint``), so
    it costs no extra job. If the loop exhausts ``max_iters`` with
    labels still changing, a ``RuntimeError`` is raised rather than
    silently returning unmerged components.
    """
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1 (got {max_iters})")
    # Materialize the edge set ONCE: it is re-referenced in every round,
    # and without a checkpoint each round would re-derive the full
    # upstream pair plan — for embedding_dedup that is the all-pairs
    # candidate join + two vector fetches + fp64 cosine, re-executed per
    # round (measured by the one-off tools/profile_embedding_dedup.py,
    # now in git history: closure on the live plan 11.0 s vs 6.4 s on
    # frozen pairs at sf0.1).
    edges = symmetric_edges(pairs, id_a, id_b)
    # node-partitioned label table: every per-round join below keys on
    # node id, so materializing the layout once makes the rounds
    # exchange only partial-agg and node-scale frames.
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .repartition(F.col("node"))
        .localCheckpoint(eager=True)
    )
    n_changed = -1
    for _ in range(max_iters):
        # the edge set is symmetric: joining on s and grouping by d
        # gives each node its neighbors' labels
        neighbor_min = (
            edges.join(labels, edges.s == labels.node)
            .groupBy("d")
            .agg(F.min("comp").alias("nmin"))
        )
        # One-hop min adoption, then pointer jump THROUGH THE PREVIOUS
        # round's materialized label table: comp'' = least(comp',
        # labels_prev[comp']). Jumping through `labels` (already
        # checkpointed) instead of through `hopped` itself keeps the
        # round at ONE materialization, and the changed-label count
        # rides on it. Reach still doubles per round (comp' sees one hop
        # beyond the previous reach, the jump adds the previous reach
        # again), and the fixed point — every label the component min
        # — is the same: labels only ever decrease toward reachable
        # node ids, and a state stable under one-hop adoption is
        # constant across every edge.
        hopped = labels.join(
            neighbor_min, labels.node == neighbor_min.d, "left"
        ).select(
            "node",
            F.col("comp").alias("prev"),
            F.least(
                F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
            ).alias("comp"),
        )
        parent = labels.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        new_labels, n_changed = counted_checkpoint(
            hopped.join(parent, hopped.comp == parent.p_node, "left")
            .select(
                "node",
                "prev",
                F.least(F.col("comp"), F.coalesce(F.col("p_comp"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            .repartition(F.col("node")),
            F.count_if(F.col("comp") != F.col("prev")),
        )
        labels = new_labels.drop("prev")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({n_changed} labels still changing); raise max_iters"
        )
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: token → xxhash64 (JVM, codegen); bit b
    of the signature is the sign of Σ_tokens (±1 depending on bit b of the
    token hash). Near-dup pairs = hamming distance ≤ radius via
    ``bit_count(sig_a ^ sig_b)``.

    The tokenize+hash projection stays Catalyst (one xxhash64 per token,
    identical hashing to the rest of the dedup stack). The 64-bit fold is
    an Arrow pandas UDF over the token-hash arrays: one batch-flattened
    ``(Σ tokens, 64)`` ±1 sign matrix, per-row segment sums
    (``np.add.reduceat``), sign, pack — the same vectorize-the-fold design
    as ``embedding_near_dup_candidates``. A pure-Catalyst formulation (64
    ``aggregate()`` folds per row) was tried first and is ~20× slower:
    higher-order-function lambdas are interpreted per element and never
    reach codegen. No shuffle either way; output is identical bit-for-bit
    (golden-pinned in tests/test_dedup_text.py).
    """
    src, _ = _spread(df)
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    hashed = src.selectExpr(
        id_col, f"transform(split({norm}, '\\\\s+'), t -> xxhash64(t)) AS th"
    )

    @F.pandas_udf("bigint")
    def fold_bits(th: pd.Series) -> pd.Series:
        is_null = np.fromiter((a is None for a in th), dtype=bool, count=len(th))
        lens = np.fromiter(
            (0 if a is None else len(a) for a in th), dtype=np.int64, count=len(th)
        )
        if lens.sum() == 0:
            packed = np.zeros(len(th), dtype=np.uint64)
        else:
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in th if a is not None and len(a)]
            )
            # (T, 64) ±1 matrix: bit b of each token hash, mapped to {-1, +1}
            u = flat.astype(np.uint64)
            pm = (
                ((u[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
                    np.int64
                )
                * 2
                - 1
            )
            # One zero pad row so every reduceat offset (0..len(flat)) is a
            # valid index even when trailing segments are empty; an empty
            # segment (offsets[i] >= offsets[i+1]) yields pm[offsets[i]] — a
            # neighbor's row — so zero those rows afterwards.
            pm = np.vstack([pm, np.zeros((1, 64), np.int64)])
            offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
            sums = np.add.reduceat(pm, offsets, axis=0)
            sums[lens == 0] = 0
            bits = (sums > 0).astype(np.uint64)
            packed = (bits << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
        # NULL text → NULL signature (matches the original Catalyst fold;
        # two null docs must not become hamming-0 "duplicates").
        out = pd.Series(packed.view(np.int64)).astype("Int64")
        out[is_null] = pd.NA
        return out

    return hashed.select(F.col(id_col), fold_bits(F.col("th")).alias("simhash"))


def recommended_num_planes(n_rows: int, target_bucket: int = 32) -> int:
    """Plane count that keeps hyperplane-LSH buckets near ``target_bucket``
    rows: ``ceil(log2(n_rows / target_bucket))``, clamped to [4, 24].

    Candidate volume per band is Σ|bucket|² ≈ n²/2^planes under a
    near-uniform sign distribution, so a FIXED plane count turns 10x the
    corpus into ~100x the candidate pairs. Scaling planes with log2 of
    the corpus holds per-bucket density (and therefore shuffled pair
    volume per row) roughly constant — measured in the round-11 scale
    rehearsal (SCALING.md): at 10x embeddings, 8 planes shuffled 113 MB
    (exponent 1.83 vs 1x) while 12 planes shuffled 23 MB (exponent 1.13)
    with wall time 30.6s -> 8.7s. Raise ``bands`` alongside (the LSH
    S-curve: P(candidate) = 1-(1-p^r)^b) when recall at the verify
    threshold must be preserved.
    """
    import math

    if n_rows < 1:
        raise ValueError(f"n_rows must be >= 1 (got {n_rows})")
    return max(4, min(24, math.ceil(math.log2(max(n_rows / target_bucket, 2)))))


def embedding_near_dup_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup candidates via banded random-hyperplane LSH.

    THE SIGNATURE SIZES ITSELF TO THE CORPUS: ``num_planes=None``
    (default) derives the plane count from :func:`recommended_num_planes`
    on a ``df.count()`` — one cheap metadata-or-scan pass before the
    expensive candidate stage, amortized to nothing against the bucket
    self-join it right-sizes. A FIXED plane count makes candidate volume
    quadratic in corpus size (measured: round-11 scale rehearsal,
    SCALING.md — shuffle exponent 1.83 at fixed 8 planes vs 1.13 sized;
    re-measured with the self-sizing default in round 12). Pass an
    explicit ``num_planes`` to pin the signature (tests, replaying a
    persisted index, or recall tuning alongside ``bands``).

    Each band hashes the vector to the sign bits of ``num_planes``
    pseudo-random hyperplane dots; same-(band, bucket) pairs become
    candidates for exact cosine verification (functions.vector.
    cosine_similarity). Banding amplifies recall the same way MinHash-LSH
    banding does: P(candidate) = 1 - (1 - p^r)^b for per-plane agreement
    p = 1 - θ/π. With r=8, b=16 a cosine-0.9 pair is caught with
    probability ≈0.996 while a random orthogonal pair collides in only
    ~6% of corpora pairs — so candidate volume is Σ|bucket|² per band,
    not n². Tuning rule: more planes per band → fewer, purer candidates
    (raise toward 16 when the verify threshold is ≥0.9 and the corpus is
    huge); more bands → higher recall at fixed purity.

    The sign bits come from ONE Arrow-batched numpy matmul per batch
    against a plane matrix regenerated deterministically from ``seed`` on
    each executor (no broadcast needed). A Catalyst higher-order-function
    formulation was tried first and was ~50× slower: `aggregate`/
    `zip_with` lambdas are interpreted per element, so bands×planes×dim
    per-row ops never reach codegen. This is the canonical "vectorized
    Python beats non-codegen JVM" case (reference README.md:171-174 had
    the same per-record-eval flaw). Each vector explodes into ``bands``
    rows (constant factor) before the bucket self-join; dedup of the pair
    list is one extra shuffle.
    """
    if num_planes is None:
        num_planes = recommended_num_planes(df.count())
    total = bands * num_planes

    @F.pandas_udf("array<string>")
    def band_buckets(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        rng = np.random.RandomState(seed)
        planes = rng.standard_normal((total, mat.shape[1]))
        bits = (mat @ planes.T) >= 0  # (n, total)
        vals = bits.reshape(len(mat), bands, num_planes) @ (
            1 << np.arange(num_planes)
        )  # (n, bands)
        return pd.Series(
            [[f"{b}:{int(v)}" for b, v in enumerate(row)] for row in vals]
        )

    bucketed = df.select(
        F.col(id_col), F.explode(band_buckets(F.col(vec_col))).alias("bucket")
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental (delta-ingest) exact dedup: drop rows whose normalized
    text fingerprint already exists in ``reference`` — the daily-batch
    path that dedupes new data against the standing corpus WITHOUT
    re-clustering everything. Left-anti join on the md5 fingerprint; at
    scale, keep the corpus fingerprint set as a bucketed table on
    ``fingerprint`` so the anti join co-locates with zero re-shuffle of
    the reference side. The delta side shuffles once on the fingerprint.
    """
    ref_fp = reference.select(
        fingerprint_md5(text_col).alias("fingerprint")
    ).distinct()
    return (
        df.withColumn("fingerprint", fingerprint_md5(text_col))
        .join(ref_fp, "fingerprint", "left_anti")
        .drop("fingerprint")
    )


def repeated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    via_hash: bool | None = None,
) -> DataFrame:
    """Substring-level duplication: word ``n``-gram passages that recur
    across at least ``min_docs`` DISTINCT documents, with corpus-wide
    occurrence counts — the boilerplate/template detector that document-
    level near-dedup (minhash/simhash) cannot see, because two documents
    sharing one licence header are nowhere near Jaccard-similar overall.

    Scale shape: explode to (doc, passage) — duplicates kept, so
    ``n_occurrences`` counts every instance — then ONE partial-agg
    groupBy on the passage. The distinct-doc count is the only expanding
    aggregate and it is bounded per passage by the corpus's duplication
    factor; the ``min_docs`` cut drops the unique-passage long tail
    before any downstream join. Returns (passage, n_docs, n_occurrences,
    first_doc_id) — feed the survivors back through a broadcast semi-join
    to locate and strip the passages from the documents themselves.

    Set ``via_hash=True`` for the shuffle-width scale path: group on
    ``xxhash64(passage)`` (8-byte keys through the exchange instead of
    ~n-word strings — roughly an order of magnitude less shuffle I/O on
    prose), then recover the passage text for the few survivors with a
    broadcast semi-join of the survivor hash set against a re-scan.
    Counts merge on 64-bit hash collisions (~2⁻⁶⁴ per passage pair); a
    twin test pins both modes equal on real text. ``via_hash=None``
    (default) resolves to the exact single-scan string-key path:
    MEASURED at sf0.1/local[32], the hash path is ~2× slower (bench r5:
    1.2 s → 2.4 s) because its survivor-text recovery re-scans and
    re-explodes the corpus, doubling the dominant n-gram-explode CPU,
    while the narrower (8-byte vs ~50-byte key) exchange only pays when
    the shuffle is network-bound. Opt in with ``via_hash=True`` on
    clusters where exchange bytes, not scan CPU, are the constraint —
    the count_distinct expand ships (key, doc_id) pairs, so key width
    multiplies across the whole expanded stream there.
    """
    if n < 1 or min_docs < 1:
        raise ValueError(f"need n >= 1 and min_docs >= 1 (got n={n}, min_docs={min_docs})")
    if via_hash is None:
        via_hash = False

    # Optimization r14 (both aggregates below): mixing count_distinct
    # with plain aggregates plans as an Expand that DOUBLES the gram
    # stream through the exchange; the stacked two-stage form
    # (per-(passage, doc) occurrence counts, then per-passage rollup)
    # shuffles each gram row once, with identical results: n_docs =
    # count of (passage, doc) groups, n_occurrences = sum of their
    # occurrence counts, first_doc_id = min over group mins.
    def survivors_over(rows: DataFrame, key_name: str) -> DataFrame:
        return (
            rows.groupBy(key_name, F.col(id_col))
            .agg(F.count(F.lit(1)).alias("__occ"))
            .groupBy(key_name)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("__occ").alias("n_occurrences"),
                F.min(id_col).alias("first_doc_id"),
            )
            .filter(F.col("n_docs") >= min_docs)
        )

    if not via_hash:
        # Two-pass hash-prefilter plan (optimization r14, guide §2.3/§8
        # — same construction as repeated_passages_maximal, see the
        # long comment there): tokenize ONCE into a materialized token
        # table; pass 1 runs the min_docs cut on xxhash64(token-slice)
        # 8-byte keys (no passage string is ever built, ~10× narrower
        # exchange); pass 2 rebuilds slices from the token table,
        # broadcast-semi-joins the survivor hash set, materializes
        # strings for survivors only, and recounts EXACTLY on the
        # string key (collisions only add pass-2 candidates — no false
        # negatives, bit-identical output).
        # _spread was tried here (r15) and REJECTED on a median-of-3
        # wall A/B: 1.59 s without vs 1.87 s with — at n=8 the explode
        # is light enough that the repartition round-trip costs more
        # than the parallelism buys (unlike the multi-level maximal
        # sweep, where the same A/B kept it).
        toks = df.select(
            F.col(id_col),
            tokens(text_col).alias("__toks"),
        ).localCheckpoint(eager=True)

        def slices(as_hash: bool) -> Column:
            t = F.col("__toks")
            idx = F.sequence(
                F.lit(0), F.greatest(F.size(t) - F.lit(n), F.lit(0))
            )
            if as_hash:
                return F.transform(
                    idx, lambda i: F.xxhash64(F.slice(t, i + 1, n))
                )
            return F.transform(idx, lambda i: F.slice(t, i + 1, n))

        # hsurv is consumed exactly once, as the broadcast build side of
        # the pass-2 semi-join — left lazy (optimization r14 batch 3) so
        # pass 1 runs inside the one job as the BroadcastExchange build
        # instead of paying a separate blocking checkpoint job.
        hsurv = survivors_over(
            toks.select(
                F.col(id_col),
                F.explode(slices(as_hash=True)).alias("__ph"),
            ),
            "__ph",
        ).select("__ph")
        exact = (
            toks.select(
                F.col(id_col), F.explode(slices(as_hash=False)).alias("__arr")
            )
            .select(
                F.col(id_col),
                F.xxhash64(F.col("__arr")).alias("__ph"),
                F.col("__arr"),
            )
            .join(F.broadcast(hsurv), "__ph", "left_semi")
            .select(
                F.col(id_col), F.array_join("__arr", " ").alias("passage")
            )
            .filter(F.length("passage") > 0)
        )
        return survivors_over(exact, "passage")

    grams = df.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("passage")
    ).filter(F.length("passage") > 0)

    def survivors_by(key: Column, key_name: str) -> DataFrame:
        return survivors_over(
            grams.select(key.alias(key_name), F.col(id_col)), key_name
        )

    survivors = survivors_by(F.xxhash64("passage"), "__ph")
    texts = (
        grams.select(F.xxhash64("passage").alias("__ph"), "passage")
        .join(F.broadcast(survivors.select("__ph")), "__ph", "left_semi")
        .groupBy("__ph")
        .agg(F.min("passage").alias("passage"))
    )
    return survivors.join(texts, "__ph").select(
        "passage", "n_docs", "n_occurrences", "first_doc_id"
    )


def edit_distance_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 256,
    max_distance: int | None = None,
) -> DataFrame:
    """Verify near-dup CANDIDATE pairs by Levenshtein edit distance on
    bounded text prefixes — the character-level alternative to the n-gram
    Jaccard verifier (catches small in-place edits that shift every
    shingle). Never run over all pairs: feed it a bucketed candidate
    generator's output (MinHash bands, SimHash buckets).

    Cost control for 100 TB: distance is computed on ``prefix_len``-char
    prefixes (O(prefix²) per pair, independent of document length), and
    ``max_distance`` short-circuits the DP via Spark's thresholded
    ``levenshtein(l, r, threshold)`` (returns -1 beyond the bound, which
    surfaces as ``within=false``). Two hash joins against the documents
    table (on id) fetch the prefixes; at scale pre-project
    ``substring(text, 1, prefix_len)`` so the shuffle carries prefixes,
    not full documents.

    Returns (id_a, id_b, dist, norm_sim, within?) — norm_sim =
    1 − dist/max(len_a, len_b) on the compared prefixes (1.0 for two
    empty prefixes), NULL when the threshold short-circuited.
    """
    if prefix_len < 1:
        raise ValueError(f"prefix_len must be >= 1 (got {prefix_len})")
    pa = docs.select(
        F.col(id_col).alias(id_a),
        F.substring(F.col(text_col), 1, prefix_len).alias("__ta"),
    )
    pb = docs.select(
        F.col(id_col).alias(id_b),
        F.substring(F.col(text_col), 1, prefix_len).alias("__tb"),
    )
    joined = pairs.join(pa, id_a).join(pb, id_b)
    if max_distance is None:
        dist = F.levenshtein("__ta", "__tb")
    else:
        dist = F.levenshtein("__ta", "__tb", max_distance)
    la, lb = F.length("__ta"), F.length("__tb")
    denom = F.greatest(la, lb)
    out = joined.select(
        F.col(id_a),
        F.col(id_b),
        dist.cast("long").alias("dist"),
        F.when(F.lit(max_distance is not None) & (dist < 0), F.lit(None).cast("double"))
        .when(denom == 0, F.lit(1.0))
        .otherwise(F.lit(1.0) - dist.cast("double") / denom.cast("double"))
        .alias("norm_sim"),
    )
    if max_distance is not None:
        out = out.withColumn("within", F.col("dist") >= 0)
    return out


def repeated_passages_maximal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (8, 16, 32),
    min_docs: int = 2,
    via_hash: bool | None = None,
    adaptive: bool = False,
    max_level: int = 4096,
) -> DataFrame:
    """MAXIMAL repeated passages: a multi-length sweep over word n-gram
    levels ``ns`` with containment suppression — a level-``n`` survivor
    is dropped when its text is a sub-passage of a level-``m`` survivor
    at the next level up (``m`` = next larger entry of ``ns``). This is
    what strips an n=16 licence template ONCE instead of reporting it as
    nine overlapping 8-grams, the capability gap document-level near-dup
    and fixed-length ``repeated_passages`` both leave open.

    Correctness of chain-adjacent suppression: every n-subgram of an
    m-word passage occurring in d documents itself occurs in (at least)
    those d documents, so it necessarily survives level ``n``
    pre-suppression — hence suppressing against the ADJACENT level's
    pre-suppression survivors is transitively complete (a 32-survivor's
    8-grams are killed via the 16-level survivors they are contained
    in). Known semantic choice, documented: an 8-gram contained in a
    repeated 16-passage but ALSO independently frequent elsewhere is
    still suppressed — the sweep reports containment-maximal passages,
    not occurrence-disjoint ones.

    Scale shape (default): ONE corpus scan tokenizes each document once
    and emits (n_words, passage) tags for every level, ONE partial-agg
    groupBy on the tagged passage serves all levels, the min_docs-cut
    survivor set is materialized (localCheckpoint — bounded by the
    corpus's boilerplate volume), then per adjacent pair ONE left-anti
    join whose build side is the n-grams of the UPPER level's survivors
    — at 100 TB the suppression sets broadcast. No all-pairs path, no
    window, no substring scan. ``via_hash=True`` opts into the
    per-level hash-keyed exchange (see ``repeated_passages``).

    Returns (passage, n_words, n_docs, n_occurrences, first_doc_id) —
    ``n_words`` is the sweep level, NOT len(split(passage)) in the
    short-document corner where ``word_ngrams`` emits a whole shorter
    document as its only "n-gram".

    ``adaptive=True`` removes the fixed top-level cap: while the top
    level still has survivors whose passages could extend, the sweep
    DOUBLES the level (64, 128, … up to ``max_level``) and re-scans ONLY
    the documents long enough to contain a full gram at the new level
    (``size(tokens) >= L`` — the pre-filter also guarantees every
    emitted gram is a genuine full-length L-gram, so whole-short-document
    emissions never masquerade as survivors). The loop stops at the
    first empty level: a 64-word template is then reported ONCE at
    n_words=64 instead of as 33 overlapping 32-grams. Cost: log₂ extra
    rounds, each one length-pruned scan + one partial-agg groupBy —
    at 100 TB the length predicate prunes almost everything above a few
    hundred words. Residual granularity (documented): a template whose
    length is not a sweep level is still reported as its longest
    sweep-level subgrams (e.g. a 48-word template → 17 32-grams).
    """
    levels = sorted(set(ns))
    if not levels:
        raise ValueError("ns must be non-empty")
    if via_hash:
        # Hash-keyed per-level path (narrow exchange, doubled scans) —
        # opt-in for network-bound clusters; see repeated_passages.
        survivors = {
            n: repeated_passages(
                df, id_col=id_col, text_col=text_col, n=n,
                min_docs=min_docs, via_hash=True,
            )
            for n in levels
        }
        surv = None
        for n in levels:
            lvl = survivors[n].withColumn("n_words", F.lit(n))
            surv = lvl if surv is None else surv.unionByName(lvl)
    else:
        # Two-pass hash-prefilter plan (optimization r14, guide §2.3/§8
        # "shuffle keys and metadata instead of payloads"): the old
        # single fused scan built the PASSAGE STRING for every gram of
        # every level (an n-token byte concatenation per gram) and
        # shuffled those strings (~50-200 B each) through the exchange
        # — measured 73.8 MB of shuffle and the operator's dominant
        # CPU at sf0.1. Now:
        #   pass 0  tokenize ONCE into a materialized (id, tokens)
        #           table — the regexp split is the most expensive
        #           per-byte step and the old adaptive path re-ran it
        #           up to 4 more times (length filter, frontier, ext);
        #   pass 1  per level, hash the token SLICE directly
        #           (xxhash64 over array<string> — no string is ever
        #           built) and run the min_docs cut on 8-byte keys;
        #   pass 2  rebuild slices from the token table, broadcast-
        #           semi-join on the survivor hash set, and only THEN
        #           materialize passage strings — for survivors only —
        #           recounting EXACTLY on the string key.
        # Hash collisions can only ADD pass-2 candidates (a true
        # survivor's (level, hash) group count >= its own doc count, so
        # no false negatives); the exact recount and min_docs re-cut in
        # pass 2 make the result bit-identical to the string-key plan.
        # _spread before the tokenize checkpoint: the tokenize and BOTH
        # gram explodes run at the checkpoint's width, and a single-file
        # scan would serialize them on one core (stage profile at sf0.1:
        # 1.9 s + 3.6 s CPU in two 1-task stages). No-op on wide scans.
        src, _ = _spread(df)
        toks = src.select(
            F.col(id_col),
            tokens(text_col).alias("__toks"),
        ).localCheckpoint(eager=True)

        def level_structs(tcol: Column, value_builder) -> Column:
            # NB: closure factory, not a default-arg lambda — pyspark
            # dispatches HOF lambdas on arity, so `lambda i, n=n:` would
            # be called as (element, index) with the level bound to the
            # array index.
            def builder(n: int):
                return lambda i: F.struct(
                    F.lit(n).alias("n_words"),
                    value_builder(tcol, i, n),
                )

            parts = []
            for n in levels:
                idx = F.sequence(
                    F.lit(0), F.greatest(F.size(tcol) - F.lit(n), F.lit(0))
                )
                parts.append(F.transform(idx, builder(n)))
            return F.concat(*parts)

        hgrams = toks.select(
            F.col(id_col),
            F.explode(
                level_structs(
                    F.col("__toks"),
                    lambda t, i, n: F.xxhash64(F.slice(t, i + 1, n)).alias(
                        "__ph"
                    ),
                )
            ).alias("g"),
        ).select(
            id_col,
            F.col("g.n_words").alias("n_words"),
            F.col("g.__ph").alias("__ph"),
        )
        # Consumed exactly once as the pass-2 broadcast build side —
        # left lazy (optimization r14 batch 3): pass 1 runs inside the
        # one job as the BroadcastExchange build, not a separate
        # blocking checkpoint job.
        hsurv = (
            hgrams.groupBy("n_words", "__ph", F.col(id_col))
            .agg(F.count(F.lit(1)).alias("__occ"))
            .groupBy("n_words", "__ph")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
            .select("n_words", "__ph")
        )
        grams = (
            toks.select(
                F.col(id_col),
                F.explode(
                    level_structs(
                        F.col("__toks"),
                        lambda t, i, n: F.slice(t, i + 1, n).alias("__arr"),
                    )
                ).alias("g"),
            )
            .select(
                id_col,
                F.col("g.n_words").alias("n_words"),
                F.xxhash64(F.col("g.__arr")).alias("__ph"),
                F.col("g.__arr").alias("__arr"),
            )
            .join(F.broadcast(hsurv), ["n_words", "__ph"], "left_semi")
            .select(
                id_col,
                "n_words",
                F.array_join(F.col("__arr"), " ").alias("passage"),
            )
        )
        # Two-stage aggregate (optimization r14): see repeated_passages —
        # avoids the Expand that doubles the gram stream.
        surv = (
            grams.filter(F.length("passage") > 0)
            .groupBy("n_words", "passage", F.col(id_col))
            .agg(F.count(F.lit(1)).alias("__occ"))
            .groupBy("n_words", "passage")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("__occ").alias("n_occurrences"),
                F.min(id_col).alias("first_doc_id"),
            )
            .filter(F.col("n_docs") >= min_docs)
        )
    # The survivor set (min_docs-cut, orders of magnitude smaller than
    # the gram stream) is referenced once per level as output and once
    # per adjacent pair as suppression build side — materialize it so
    # those references don't each re-scan the corpus. Bounded by the
    # corpus's boilerplate volume, the thing this operator exists to be
    # small relative to everything else.
    surv = surv.localCheckpoint(eager=True)
    if adaptive:
        # Unbounded-length extension: double the top level while genuine
        # full-length survivors keep appearing. Each round scans only
        # documents with >= L tokens (which also guarantees every
        # emitted gram has exactly L words — no whole-short-doc
        # emissions), one partial-agg groupBy, bounded localCheckpoint.
        # The rounds run off the materialized token table (the via_hash
        # path, which has none, builds it here once), so no round
        # re-tokenizes for the length filter, the frontier explode or
        # the extension explode; and the frontier semi-join matches on
        # slice HASHES (no string build — collisions only widen the
        # frontier, which the exact extension recount absorbs).
        if via_hash:
            src, _ = _spread(df)
            toks = src.select(
                F.col(id_col),
                tokens(text_col).alias("__toks"),
            ).localCheckpoint(eager=True)

        def slice_grams(n: int, as_hash: bool) -> Column:
            t = F.col("__toks")
            idx = F.sequence(
                F.lit(0), F.greatest(F.size(t) - F.lit(n), F.lit(0))
            )
            if as_hash:
                return F.transform(
                    idx, lambda i: F.xxhash64(F.slice(t, i + 1, n))
                )
            return F.transform(
                idx, lambda i: F.array_join(F.slice(t, i + 1, n), " ")
            )

        top = levels[-1]
        while top * 2 <= max_level:
            L = top * 2
            cand = toks.filter(F.size("__toks") >= L)
            # Cheap impossibility check before the gram explode: an
            # L-gram shared by min_docs documents needs at least
            # min_docs documents of >= L tokens. The count reads only
            # the token-count column (no gram construction) and usually
            # kills the final empty probe level outright.
            if cand.limit(min_docs).count() < min_docs:
                break
            # Frontier restriction: a doc containing an L-gram repeated
            # in >= min_docs docs necessarily contains that gram's first
            # top-words subgram, which occurs in the same docs and so is
            # a level-`top` PRE-suppression survivor. Semi-joining the
            # long docs' top-gram HASHES against the bounded survivor
            # set (broadcast) shrinks the L-gram groupBy — the expensive
            # shuffle — from "every long doc" to "docs already known to
            # carry boilerplate". The membership pass is map-side only
            # (broadcast semi-join + a distinct over doc ids); the
            # token/space round-trip is lossless (tokens contain no
            # whitespace), so hash(split(passage)) == hash(slice).
            top_pass = surv.filter(F.col("n_words") == top).select(
                F.xxhash64(F.split(F.col("passage"), " ")).alias("__ph")
            )
            frontier = (
                cand.select(
                    F.col(id_col),
                    F.explode(slice_grams(top, as_hash=True)).alias("__ph"),
                )
                .join(F.broadcast(top_pass), "__ph", "left_semi")
                .select(id_col)
                .distinct()
            )
            cand = cand.join(frontier, id_col, "left_semi")
            ext = (
                cand.select(
                    F.col(id_col),
                    F.explode(slice_grams(L, as_hash=False)).alias("passage"),
                )
                .groupBy("passage", F.col(id_col))
                .agg(F.count(F.lit(1)).alias("__occ"))
                .groupBy("passage")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("__occ").alias("n_occurrences"),
                    F.min(id_col).alias("first_doc_id"),
                )
                .filter(F.col("n_docs") >= min_docs)
                .withColumn("n_words", F.lit(L))
                .select("n_words", "passage", "n_docs", "n_occurrences", "first_doc_id")
                .localCheckpoint(eager=True)
            )
            if not ext.take(1):
                break
            surv = surv.unionByName(ext)
            levels.append(L)
            top = L
    kept = []
    for i, n in enumerate(levels):
        lvl = surv.filter(F.col("n_words") == n)
        if i + 1 < len(levels):
            supp = (
                surv.filter(F.col("n_words") == levels[i + 1])
                .select(F.explode(word_ngrams("passage", n)).alias("passage"))
                .distinct()
            )
            lvl = lvl.join(supp, "passage", "left_anti")
        kept.append(
            lvl.select("passage", "n_words", "n_docs", "n_occurrences", "first_doc_id")
        )
    out = kept[0]
    for k in kept[1:]:
        out = out.unionByName(k)
    return out


def strip_passages(
    df: DataFrame,
    passages: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Strip known boilerplate passages from documents — the consumer
    path of ``repeated_passages``/``repeated_passages_maximal``: feed
    the detected survivors back and remove them from the corpus before
    training. Returns (id_col, clean_text).

    Semantics: the normalized text is space-wrapped and each passage is
    removed as a whole-word-bounded occurrence (' p ' -> ' ') by a
    chained ``replace`` — single left-to-right non-overlapping pass per
    passage, in the caller-given order (order the list deterministically;
    the gate query uses (n_docs DESC, n_occurrences DESC, passage)).
    Two occurrences separated by ONE word strip cleanly; immediately
    adjacent occurrences share the boundary space and only the first is
    stripped per pass — documented single-pass behavior, identical in
    DuckDB (same replace semantics), so the oracle matches exactly.

    Scale shape: the passage list is driver-side and bounded (top-k
    boilerplate, model-sized); the strip compiles to len(passages)
    nested replaces inside one whole-stage-codegen projection — no
    shuffle, no Python, corpus touched once.
    """
    out = F.concat(F.lit(" "), normalized_text(text_col), F.lit(" "))
    for p in passages:
        out = F.replace(out, F.lit(f" {p} "), F.lit(" "))
    return df.select(F.col(id_col), F.trim(out).alias("clean_text"))


def _threshold_fraction(threshold: float) -> tuple[int, int]:
    """(num, den) with ``threshold`` = num/den exactly, so the prefix
    joins test the threshold in integer arithmetic and a brute-force
    oracle matches bit-for-bit. Raises ``ValueError`` unless the
    threshold is in (0, 1]."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1] (got {threshold})")
    frac = Fraction(str(threshold))
    return frac.numerator, frac.denominator


def _prefix_shingle_table(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, num: int, den: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The ranked shingle table of the prefix-filter joins
    (``set_similarity_join``, ``containment_join``) at threshold
    t = num/den. Returns ``(sh, tokens, prefix)``:

    * ``sh`` — materialized (__id, __s, __h): each document's distinct
      word ``shingle_n``-gram strings and, positionally aligned, their
      xxhash64 values;
    * ``tokens`` — (__id, __sz, __tok): one row per element of __h,
      __sz = |S|;
    * ``prefix`` — (__id, __sz, __pos, __tok): the ``tokens`` rows whose
      rarest-first rank __pos (by global frequency, ties by token) is
      within the prefix length |S| - ceil(t·|S|) + 1.

    Rows with NULL text are dropped, so they never pair (the oracles
    filter ``text IS NOT NULL``); kept, NULL would shingle to ``[NULL]``
    with a constant hash. Every non-NULL text has at least one shingle.

    Hashed tokens keep the prefix filters exact: __h is NOT
    de-duplicated, so a cross-string hash collision leaves duplicate
    longs, which only merge posting lists and enlarge the verify's
    upper bound — candidates are only ever added. The operators'
    prefix arguments run on hash VALUES: common hashes (counted with
    A-side multiplicity) are >= |A∩B| strings, and equal hash values
    occupy contiguous positions under the (__cnt, __tok) order, so the
    first occurrence of the smallest common hash bounds every common
    element's position.
    """
    # Materialized ONCE: global frequencies, the ranked prefix, the
    # postings side and both verify passes all read it; without it each
    # re-ran the regex + shingling pass over the corpus. __h moves
    # 8-byte longs through candidate generation and the pass-1 verify
    # instead of ~25-byte shingle strings. No _spread here: it lost a
    # median-of-3 wall A/B (set_similarity 1.89 s without vs 3.02 s
    # with; containment 2.24 vs 3.35) — the repartition round-trip of
    # the text costs more than parallelizing this projection buys.
    sh = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id"), word_shingles(text_col, shingle_n).alias("__s"))
        .withColumn("__h", F.transform("__s", lambda x: F.xxhash64(x)))
        .localCheckpoint(eager=True)
    )
    tokens = sh.select("__id", F.size("__h").alias("__sz"), F.explode("__h").alias("__tok"))
    freq = tokens.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy("__id").orderBy("__cnt", "__tok")
    # prefix length |S| - ceil(t|S|) + 1, all-integer: ceil(a/b) = (a+b-1) div b
    # (integer `div`, not float /+floor — a float quotient can round up
    # across the integer boundary for large sizes)
    plen = (
        F.col("__sz")
        - F.expr(f"(({num}L * __sz + {den - 1}L) div {den}L)")
        + F.lit(1)
    )
    prefix = (
        tokens.join(freq, "__tok")
        .withColumn("__pos", F.row_number().over(w))
        .filter(F.col("__pos") <= plen)
        .select("__id", "__sz", "__pos", "__tok")
    )
    return sh, tokens, prefix


def _two_pass_verify(
    sh: DataFrame, cand: DataFrame, keep: Callable[[Column, Column, Column], Column]
) -> DataFrame:
    """Exact verify of candidate pairs ``cand`` (__ida, __idb) over the
    prefix table ``sh``. ``keep(inter, size_a, size_b)`` is the
    operator's threshold test and must be monotone (non-decreasing) in
    ``inter``. Returns the kept pairs as (__ida, __idb, __sa, __sb, __i)
    with __i = |A∩B| over the shingle strings.

    Pass 1 bounds the intersection from the hashed arrays: every string
    shingle s in A∩B has xxhash64(s) in both __ha and __hb, hence NOT in
    array_except(__ha, __hb); the map from A∩B into A's positions is
    injective, so
      |A∩B| <= |{elements of __ha whose value is in __hb}|
             <= size(__ha) - size(array_except(__ha, __hb)) =: ub
    (array_except returns DISTINCT values, which can only shrink the
    subtrahend — ub stays an upper bound). ``keep`` is monotone in the
    intersection, so testing ub keeps a guaranteed superset. Pass 2
    recomputes the intersection EXACTLY on the string arrays for the
    (output-sized) survivor set: the result is bit-identical, the
    expensive string array_intersect runs on ~0.1% of the pairs, and the
    per-pair pass-1 join ships long arrays, not strings.
    """
    ha = sh.select(F.col("__id").alias("__ida"), F.col("__h").alias("__ha"))
    hb = sh.select(F.col("__id").alias("__idb"), F.col("__h").alias("__hb"))
    ub = F.size("__ha") - F.size(F.array_except("__ha", "__hb"))
    survivors = (
        cand.join(ha, "__ida")
        .join(hb, "__idb")
        .filter(keep(ub, F.size("__ha"), F.size("__hb")))
        .select("__ida", "__idb")
    )
    sa = sh.select(F.col("__id").alias("__ida"), F.col("__s").alias("__sa"))
    sb = sh.select(F.col("__id").alias("__idb"), F.col("__s").alias("__sb"))
    return (
        survivors.join(sa, "__ida")
        .join(sb, "__idb")
        .withColumn("__i", F.size(F.array_intersect("__sa", "__sb")))
        .filter(keep(F.col("__i"), F.size("__sa"), F.size("__sb")))
    )


def set_similarity_join(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT all-pairs set-similarity self-join with prefix filtering
    (Bayardo/Chaudhuri "all-pairs" / PPJoin family): every document pair
    whose word-``shingle_n``-gram Jaccard similarity >= ``threshold``,
    with NO false negatives — the deterministic-guarantee complement to
    probabilistic MinHash-LSH. Returns (id_a, id_b, jaccard), id_a < id_b.

    Prefix-filter correctness: order each set's tokens by ascending
    global frequency (rare first, ties by token); with prefix length
    p = |S| - ceil(t·|S|) + 1, any pair with Jaccard >= t MUST share a
    token inside the prefix of each side (if all shared tokens hid in
    the suffix of size ceil(t|S|)-1 < t|S| <= |A∩B|, contradiction), so
    joining prefix tokens against prefix tokens generates a guaranteed
    candidate superset. Verification is exact set intersection; the
    threshold test is exact integer arithmetic (inter · (num + den) >=
    num · (|A| + |B|), i.e. inter / uni >= num/den = threshold), so the
    DuckDB brute-force oracle matches bit-for-bit. Documents with NULL
    text never pair.

    Scale shape: candidate cost is Σ over PREFIX-token postings of
    |posting|² — prefix tokens are the RAREST tokens of each set, which
    is the entire point: frequent tokens never generate candidates from
    either side. Everything else is bounded joins on id/token keys;
    the only window is per-document token ranking (state = one doc's
    token set). Brute-force n² never happens.
    """
    num, den = _threshold_fraction(threshold)
    sh, _, ranked = _prefix_shingle_table(df, id_col, text_col, shingle_n, num, den)
    # All-Pairs (Bayardo WWW'07): candidates come from PREFIX x PREFIX,
    # not prefix x full postings. Correctness: for any pair with
    # Jaccard >= t, the globally SMALLEST common token w* must sit
    # inside BOTH prefixes — if w* fell outside side S's prefix of
    # length |S| - ceil(t|S|) + 1, every common token (all >= w* in the
    # order, hence at later positions) would fit in the ceil(t|S|) - 1
    # suffix slots, giving |A∩B| < t|S| <= t|A∪B| <= |A∩B|,
    # contradiction (on hashed tokens too; see _prefix_shingle_table).
    # Materialized once: both join sides read the same ranked table, and
    # as a lazy reference each side would re-run the freq join + window.
    prefix = ranked.localCheckpoint(eager=True)
    pa = prefix.select(
        F.col("__id").alias("__ida"),
        F.col("__sz").alias("__sza"),
        F.col("__pos").alias("__pa"),
        "__tok",
    )
    pb = prefix.select(
        F.col("__id").alias("__idb"),
        F.col("__sz").alias("__szb"),
        F.col("__pos").alias("__pb"),
        "__tok",
    )
    # Length filter: Jaccard >= t forces t·|A| <= |B| and t·|B| <= |A|
    # (|A∩B| <= min size, |A∪B| >= max size) — prunes candidates before
    # the verify join ever sees them, all-integer.
    #
    # Positional filter (PPJoin, Xiao et al. 2008): every document's
    # tokens are ranked by the SAME global (__cnt, __tok) order, so
    # positions are monotone in that order in every document, and
    # min(__pa)/min(__pb) over a pair's matches are BOTH attained at the
    # pair's smallest common prefix token. For a qualifying pair that
    # token is w* (proof above), and every common token lies at
    # position >= pos(w*) on each side, so
    #   |A∩B| <= min(|A| - ia, |B| - ib) + 1 =: ubound.
    # Jaccard >= t = num/den  ⟺  (num+den)·|A∩B| >= num·(|A|+|B|), so
    # pairs with (num+den)·ubound < num·(|A|+|B|) cannot qualify and are
    # dropped BEFORE the verify join ever materializes their shingle
    # arrays. Qualifying pairs always pass (ubound >= |A∩B|); dropped
    # pairs would have failed the exact verify anyway — superset-safe.
    cand = (
        pa.join(pb, "__tok")
        .filter(
            (F.col("__ida") < F.col("__idb"))
            & (F.lit(num) * F.col("__sza") <= F.lit(den) * F.col("__szb"))
            & (F.lit(num) * F.col("__szb") <= F.lit(den) * F.col("__sza"))
        )
        .groupBy("__ida", "__idb", "__sza", "__szb")
        .agg(F.min("__pa").alias("__ia"), F.min("__pb").alias("__ib"))
        .filter(
            (
                F.least(
                    F.col("__sza") - F.col("__ia"), F.col("__szb") - F.col("__ib")
                )
                + F.lit(1)
            )
            * F.lit(num + den)
            >= F.lit(num) * (F.col("__sza") + F.col("__szb"))
        )
        .select("__ida", "__idb")
    )
    # the same Jaccard test, monotone in the intersection
    verified = _two_pass_verify(
        sh, cand, lambda inter, na, nb: inter * F.lit(num + den) >= F.lit(num) * (na + nb)
    )
    return verified.select(
        F.col("__ida").alias("id_a"),
        F.col("__idb").alias("id_b"),
        (
            F.col("__i").cast("double")
            / (F.size("__sa") + F.size("__sb") - F.col("__i")).cast("double")
        ).alias("jaccard"),
    )


def dedup_within_window(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    window_seconds: int,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Time-window deduplication: keep the FIRST row per key within each
    tumbling ``window_seconds`` window: an event repeated inside the
    window is a duplicate; across windows it is fresh. The classic
    at-least-once-ingest compaction.

    The window id is exact integer arithmetic on epoch-micros
    (``um − um mod W`` — no float division anywhere near the bucket
    boundary), so the kept set is partition-invariant and an ANSI
    oracle reproduces it bit-for-bit.

    Shape: ONE shuffle on (keys, window) for the row_number; the filter
    is a stateless projection. At 100 TB this is the standard
    dedup-shuffle bounded by the key×window cardinality, with no global
    ordering anywhere.
    """
    if window_seconds < 1:
        raise ValueError(f"window_seconds must be >= 1 (got {window_seconds})")
    wmicros = int(window_seconds) * 1_000_000
    um = F.unix_micros(F.col(ts_col))
    bucket = um - F.pmod(um, F.lit(wmicros))
    w = Window.partitionBy(*keys, bucket.alias("__b")).orderBy(
        F.col(ts_col), *[F.col(c) for c in tiebreak_cols]
    )
    return (
        df.withColumn("__win_start", F.timestamp_micros(bucket))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumnRenamed("__win_start", "window_start")
    )


def near_dup_against(
    new_df: DataFrame,
    base_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Incremental CROSS-corpus near-dedup: which NEW documents are
    near-duplicates of the EXISTING corpus — the ``dedup_against``
    (exact) contract lifted to MinHash-LSH similarity, i.e. the daily
    crawl-ingest question ("is this new page a near-copy of anything we
    already have?") that a self-join near-dedup cannot answer without
    rescanning old×old pairs.

    Both sides are banded with the SAME hash family (determinism of the
    signature makes yesterday's banded table storable and reusable — at
    100 TB you persist the base corpus's band table once and only the
    new slice is shingled per batch); candidates come from band-bucket
    equality ACROSS the two tables only (never base×base or new×new),
    then exact n-gram Jaccard verifies on the same shingle table.
    ``hash_family="md5"`` swaps every hash site — the shingle hashes
    behind both signatures and verify, and the band keys — for the
    engine-portable forms (the minhash_lsh_candidates provable path),
    making the WHOLE cross-corpus pipeline oracle-replayable hash-for-
    hash; production keeps the 2-3x-faster xxhash64 default. Returns
    (new_id, base_id, jaccard ≥ threshold) — consumers drop flagged new
    docs. Documents with NULL text never pair.
    """
    # Band both sides with identical parameters by tagging ids into
    # disjoint parity classes (new = odd, base = even) and running the
    # shared banding once over the union; only cross-parity collisions
    # survive, so no base-side self-pairs are ever generated.
    # The parity-tag arithmetic requires an INTEGRAL id: a string id
    # would be implicitly cast (NULL/garbage tids, silently empty
    # output), so reject it loudly. The *2 overflow near the long
    # boundary is guarded EXPLICITLY (a per-row raise_error on
    # |id| >= 2^62) so the guarantee holds in ANSI and non-ANSI
    # sessions alike — a non-ANSI wrap would corrupt tids with no
    # error. The decode below uses shiftright — arithmetic shift =
    # floor division, exact for ALL longs including negatives — not
    # double division, which loses exactness above 2**52.
    integral = {"tinyint", "smallint", "int", "bigint"}
    for side, frame in (("new_df", new_df), ("base_df", base_df)):
        dtype = dict(frame.dtypes).get(id_col)
        if dtype not in integral:
            raise TypeError(
                f"near_dup_against requires an integral {id_col!r}; "
                f"{side}.{id_col} is {dtype!r}"
            )

    def _tag(offset: int):
        idl = F.col(id_col).cast("long")
        return F.when(
            F.abs(idl) < F.lit(1 << 62), idl * 2 + offset
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("near_dup_against: |id| >= 2^62 overflows the parity tag: "),
                    idl.cast("string"),
                )
            ).cast("long")
        )

    tagged_new = new_df.select(_tag(1).alias("__tid"), F.col(text_col))
    tagged_base = base_df.select(_tag(0).alias("__tid"), F.col(text_col))
    sh = hashed_shingle_table(
        tagged_new.unionByName(tagged_base), "__tid", text_col, shingle_k,
        shingle_mode, hash_family,
    )
    cands = minhash_lsh_candidates(sh, "__tid", num_hashes, bands, hash_family)
    # keep NEW×BASE collisions only (odd tid = new, even = base), as
    # (id_a = new tid, id_b = base tid); distinct candidates map to
    # distinct oriented pairs, so no second distinct is needed.
    # pmod, not %: Spark's % keeps the dividend's sign, so a NEGATIVE
    # odd tid gives tid % 2 == -1 — it would fail both the ==1 and ==0
    # branches and silently mangle the pair. pmod(tid, 2) is 0/1 for
    # every long.
    par_a = F.pmod(F.col("id_a"), F.lit(2))
    par_b = F.pmod(F.col("id_b"), F.lit(2))
    cross = cands.filter(par_a != par_b).select(
        F.when(par_a == 1, F.col("id_a")).otherwise(F.col("id_b")).alias("id_a"),
        F.when(par_a == 0, F.col("id_a")).otherwise(F.col("id_b")).alias("id_b"),
    )
    return jaccard_pairs(sh, cross, "__tid", threshold).select(
        F.shiftright(F.col("id_a"), 1).cast("long").alias("new_id"),
        F.shiftright(F.col("id_b"), 1).cast("long").alias("base_id"),
        "jaccard",
    )


def embedding_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int | None = None,
    bands: int = 16,
    seed: int = 42,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup CLOSURE (Abbas et al. 2023,
    arXiv:2303.09540 — the embedding-space analogue of ``minhash_dedup``):
    generate candidate pairs, verify by EXACT cosine >= ``threshold``,
    collapse transitive duplicate groups (:func:`connected_components`),
    keep the min-id representative of every group. Returns the kept rows
    of ``df`` unchanged — the corpus with semantic near-dups dropped.

    Candidates default to banded random-hyperplane LSH
    (:func:`embedding_near_dup_candidates` — Σ|bucket|² per band, never
    n²; probabilistic recall amplified by banding), which SELF-SIZES
    ``num_planes`` from the corpus row count when left as ``None``
    (default) — at a fixed plane count the candidate volume grows
    quadratically with the corpus (measured, SCALING.md; pass an
    explicit ``num_planes`` only to pin a signature). Pass ``candidates``
    explicitly for an exact generator (the oracle-checkable gate does:
    all-pairs is fine at fixture scale, and the closure downstream of
    the pair set is deterministic either way).

    Shape: candidate generation (bucketed self-join) → exact verify
    (two id-keyed hash joins fetch vectors; cosine is one fp64
    expression) → pointer-jumping components over the DUPLICATE PAIRS
    ONLY (bounded by the near-dup volume, not the corpus) → one
    anti-join drops non-representatives.

    The final anti-join carries NO broadcast hint on purpose: SemDeDup
    drop fractions on crawl corpora run 20-50% (Abbas et al. §4), so at
    corpus scale ``drops`` is corpus-scale and a forced broadcast would
    OOM the driver. AQE broadcasts it at runtime when (and only when)
    the measured size is small; otherwise the anti-join shuffles on the
    8-byte id — the correct plan at every drop fraction.
    """
    from hdinsight_pyspark_cntk_integration_spark.functions.vector import dot, l2_norm

    if candidates is None:
        candidates = embedding_near_dup_candidates(
            df, id_col=id_col, vec_col=vec_col,
            num_planes=num_planes, bands=bands, seed=seed,
        )
    base = df.select(F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("__nrm"))
    a = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__nrm").alias("__na")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("__nrm").alias("__nb")
    )
    denom = F.col("__na") * F.col("__nb")
    cos = F.when(denom == 0.0, F.lit(0.0)).otherwise(dot("__va", "__vb") / denom)
    dup_pairs = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .filter(cos >= float(threshold))
        .select("id_a", "id_b")
    )
    comps = connected_components(dup_pairs)
    drops = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drops, id_col, "left_anti")


def sentence_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    fp_bits: int = 64,
    fp_expr: Column | None = None,
) -> DataFrame:
    """Corpus-wide sentence-level deduplication (the CCNet/RefinedWeb
    line-dedup stage): a sentence appearing in >= ``min_docs`` DISTINCT
    documents is boilerplate; every occurrence outside its keeper
    document (the minimum doc id containing it) is dropped, and each
    document's surviving sentences are reassembled in original order.

    Returns (id_col, n_sentences, n_dropped, cleaned_text).

    Unlike :func:`strip_boilerplate` (bounded top-N collect of the worst
    offenders, good for interactive inspection), this is the SCALE path:
    the duplicate-sentence table is never collected — fingerprint
    groupBy (one shuffle, partial-agg), broadcast-free join back on the
    fingerprint, groupBy doc to reassemble (second shuffle). Sentences
    are keyed by a fingerprint so the shuffle carries fixed-size keys,
    not sentence bytes:

    - ``fp_bits=64`` (default): xxhash64, 8-byte keys. A collision
      merges two sentences' occurrence lists (odds ~n²/2⁶⁵ —
      negligible below ~10⁹ distinct sentences).
    - ``fp_bits=128``: two 60-bit longs carved from md5 (hex chars
      1-15 and 16-30), 16-byte struct keys — for corpora beyond ~10⁹
      distinct sentences where 64-bit birthday odds stop being
      negligible. Output is identical on any collision-free corpus.
    - ``fp_expr``: explicit fingerprint Column override (advanced /
      test seam — genuine 64-bit collisions are not constructible in
      CI, so collision-behavior tests inject a deliberately weak
      fingerprint here).

    Sentence boundaries: split on '[.!?]+' runs then trim — chosen to be
    regex-engine-portable (no lookbehind; RE2-safe), matching
    :func:`sentence splitting <operators.text>` used across the engine.
    """
    sent = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"[.!?]+")).alias("pos", "__raw"),
    ).select(
        id_col, "pos", F.trim(F.col("__raw")).alias("sentence")
    ).filter(F.length("sentence") > 0)
    if fp_expr is not None:
        fp = fp_expr
    elif fp_bits == 64:
        fp = F.xxhash64("sentence")
    elif fp_bits == 128:
        m = F.md5(F.col("sentence"))
        fp = F.struct(
            F.conv(F.substring(m, 1, 15), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(m, 16, 15), 16, 10).cast("long").alias("lo"),
        )
    else:
        raise ValueError(f"fp_bits must be 64 or 128 (got {fp_bits})")
    sent = sent.withColumn("__fp", fp)

    stats = sent.groupBy("__fp").agg(
        F.countDistinct(F.col(id_col)).alias("__ndocs"),
        F.min(F.col(id_col)).alias("__keeper"),
    )
    tagged = sent.join(stats, "__fp").withColumn(
        "__drop",
        (F.col("__ndocs") >= min_docs) & (F.col(id_col) != F.col("__keeper")),
    )
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum(F.col("__drop").cast("long")).cast("long").alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("__drop"), F.struct("pos", "sentence"))
                        )
                    ),
                    lambda s: s.getField("sentence"),
                ),
            ).alias("cleaned_text"),
        )
    )


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup cluster canonicalization — the APPLY step that turns a
    duplicate-pair graph into an actionable keep/drop decision:
    transitive closure over the pairs (``connected_components``), then
    ONE representative per cluster = the highest-``quality_col`` doc
    (smallest id on ties — fully deterministic), with every member
    mapped to it. Docs in no pair are their own singleton canonical.
    Downstream dedup is then ``filter(is_canonical)``; provenance
    keeps the canonical_id mapping.

    Exactness: the component fixpoint is integer (min-id label
    propagation, oracle = recursive-CTE reachability); the
    representative argmax is max_by over an orderable (quality, −id)
    struct — pure integers end to end, hash-gate-exact.

    Shape: the components loop is the dedup.connected_components
    shape (edge-keyed joins, localCheckpoint per round); the argmax is
    one partial-agg groupBy on the component plus one hash join back.
    The docs table is scanned once; no window, no collect.

    Returns (id, canonical_id, cluster_size, is_canonical).
    """
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    base = docs.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(quality_col).cast("long").alias("__q"),
    )
    labeled = base.join(
        comp.select(
            F.col("node").alias("__id"), F.col("component").alias("__comp")
        ),
        "__id",
        "left",
    ).select(
        "__id", "__q", F.coalesce("__comp", F.col("__id")).alias("__comp")
    )
    reps = labeled.groupBy("__comp").agg(
        F.max_by("__id", F.struct(F.col("__q"), -F.col("__id"))).alias(
            "canonical_id"
        ),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    )
    return labeled.join(reps, "__comp").select(
        F.col("__id").alias(id_col),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        "cluster_size",
        (F.col("__id") == F.col("canonical_id")).alias("is_canonical"),
    )


def containment_join(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT all-pairs set-CONTAINMENT join: every DIRECTED document
    pair (a, b) with |A∩B| / |A| >= threshold — "a is mostly inside
    b", the asymmetric overlap question Jaccard cannot ask (a 50-word
    quote inside a 5,000-word article has Jaccard ≈ 0.01 but
    containment 1.0): quote/excerpt detection, subset-version dedup,
    training-data contamination at the fragment level. Complements
    ``set_similarity_join`` (symmetric) the way near_dup_against
    complements minhash_near_dup. Returns (id_a, id_b, containment),
    a ≠ b, NO false negatives.

    Prefix-filter correctness (asymmetric form): containment >= t
    forces |A∩B| >= ceil(t·|A|); if every shared token hid outside A's
    rarest-first prefix of length p = |A| − ceil(t·|A|) + 1, the
    remaining suffix could hold at most ceil(t·|A|) − 1 < |A∩B| shared
    tokens — contradiction. So joining only A-side PREFIX tokens
    against full B-side postings generates a guaranteed candidate
    superset; |A∩B| <= |B| additionally forces ceil(t·|A|) <= |B|, an
    all-integer length prune. Verification is exact set intersection
    with an integer threshold test (inter · den >= num · |A|), so a
    brute-force oracle matches bit-for-bit. Documents with NULL text
    never pair.

    Scale shape: candidate cost is Σ over A-prefix-token postings of
    |posting|² with the rarest tokens doing the probing (frequent
    tokens never enter the prefix); everything else is id/token-keyed
    joins and one per-document ranking window. Brute-force n² never
    happens. Shares its ranked shingle table and two-pass verify with
    ``set_similarity_join``.
    """
    num, den = _threshold_fraction(threshold)
    sh, tokens, ranked = _prefix_shingle_table(df, id_col, text_col, shingle_n, num, den)
    # A positional PPJoin filter was tried here and REJECTED on
    # measurement: it requires ranking the FULL postings side (an extra
    # window + materialization the asymmetric join otherwise avoids) and
    # cut candidates only ~19% at t=0.6 — CPU went UP (11.2 → 12.0 s at
    # sf0.1). The two-pass verify attacks the dominant cost instead.
    prefix = ranked.select(
        F.col("__id").alias("__ida"), F.col("__sz").alias("__sza"), "__tok"
    )
    postings = tokens.select(
        F.col("__id").alias("__idb"), F.col("__sz").alias("__szb"), "__tok"
    )
    # length prune: |A∩B| <= |B| forces ceil(t·|A|) <= |B|
    cand = (
        prefix.join(postings, "__tok")
        .filter(
            (F.col("__ida") != F.col("__idb"))
            & (F.expr(f"(({num}L * __sza + {den - 1}L) div {den}L)")
               <= F.col("__szb"))
        )
        .select("__ida", "__idb")
        .distinct()
    )
    verified = _two_pass_verify(
        sh, cand, lambda inter, na, nb: inter * F.lit(den) >= F.lit(num) * na
    )
    return verified.select(
        F.col("__ida").alias("id_a"),
        F.col("__idb").alias("id_b"),
        (F.col("__i").cast("double") / F.size("__sa").cast("double"))
        .alias("containment"),
    )


def simhash_banded_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    radius: int = 8,
    hash_family: str = "md5",
) -> DataFrame:
    """Relational SimHash near-dup pairs — the ORACLE-PROVABLE twin of
    ``simhash64`` (the minhash_provable precedent applied to SimHash).

    Pipeline, identical in shape to the production path: per-token
    hash → per-bit sign sums → packed signature → banded candidate
    generation (pairs sharing at least one of ``bands`` equal signature
    slices — Σ|bucket|² per band, never n²) → exact Hamming verify
    (``bit_count(sig_a ^ sig_b) <= radius``).

    ``hash_family="md5"`` uses the engine-portable 60-bit md5-prefix
    token hash (DuckDB computes the identical value), every later step
    is integer arithmetic, and empty/NULL-token documents are excluded
    — so an ANSI oracle replays signatures, candidates, and verified
    pairs bit-for-bit. ``xxhash64`` keeps the production hash (64-bit
    JVM path; rows-only, 2-3x faster). The per-bit fold here is a
    relational explode (tokens x bits rows) — exact but wider than the
    production Arrow fold in ``simhash64``, which is why this form is
    the bounded GATE twin, not the default.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    # bits == 63 would make the fold modulus shiftleft(1L, 63) overflow
    # to Long.MIN_VALUE (negative token hashes corrupt the sign sums and
    # band keys), so 62 is the hard ceiling; the md5 prefix only
    # supplies 60 bits, so that family caps at 60.
    max_bits = 60 if hash_family == "md5" else 62
    if bits < 1 or bits > max_bits:
        raise ValueError(
            f"bits must be in 1..{max_bits} for hash_family={hash_family!r} (got {bits})"
        )
    if bands < 1 or bits % bands != 0:
        raise ValueError(f"bands must divide bits (got {bands} over {bits})")
    if hash_family == "md5":
        tok_hash = "pmod(cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint), shiftleft(1L, {b}))"
    elif hash_family == "xxhash64":
        # fold to the bit width so band slicing stays uniform
        tok_hash = "pmod(xxhash64(t), shiftleft(1L, {b}))"
    else:
        raise ValueError(f"unknown hash_family {hash_family!r} (xxhash64|md5)")
    tok_hash = tok_hash.format(b=bits)
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    hashed = df.selectExpr(
        f"{id_col} AS __id",
        f"filter(split({norm}, '\\\\s+'), t -> length(t) > 0) AS __ts",
    ).selectExpr("__id", f"explode(transform(__ts, t -> {tok_hash})) AS h")
    per_bit = (
        hashed.selectExpr("__id", "h", f"explode(sequence(0, {bits - 1})) AS b")
        .selectExpr(
            "__id", "b",
            "CASE WHEN (shiftright(h, CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END AS pm",
        )
        .groupBy("__id", "b")
        .agg(F.sum("pm").alias("s"))
    )
    sig = (
        per_bit.selectExpr(
            "__id",
            "CASE WHEN s > 0 THEN shiftleft(1L, CAST(b AS INT)) ELSE 0L END AS bit",
        )
        .groupBy("__id")
        .agg(F.sum("bit").cast("long").alias("sig"))
    )
    width = bits // bands
    banded = sig.selectExpr(
        "__id", "sig",
        f"explode(transform(sequence(0, {bands - 1}),"
        f" k -> struct(k AS k, (shiftright(sig, CAST(k * {width} AS INT))"
        f" & (shiftleft(1L, {width}) - 1)) AS key))) AS bk",
    ).select("__id", "sig", F.col("bk.k").alias("k"), F.col("bk.key").alias("key"))
    a = banded.select(
        F.col("k"), F.col("key"),
        F.col("__id").alias("id_a"), F.col("sig").alias("sig_a"),
    )
    b = banded.select(
        F.col("k"), F.col("key"),
        F.col("__id").alias("id_b"), F.col("sig").alias("sig_b"),
    )
    cands = (
        a.join(b, ["k", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return (
        cands.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= radius)
    )


def exact_dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the BEST-quality member of each duplicate
    cluster instead of the min-id one — the representative-selection
    rule real curation pipelines use (when a page is crawled twice, keep
    the copy with the higher quality score, not the older id; cf. the
    keep-best convention in RefinedWeb-style dedup stages). Deterministic
    total order: max ``score_col``, ties broken by min ``id_col``.

    Same scale shape as :func:`exact_dedup`: one shuffle on the md5
    fingerprint, and the aggregation is a max over (score, -id) packed
    into ONE struct max — a partial-aggregable reduction (map-side
    combine), not a window sort, so the shuffle moves one candidate row
    per (partition, fingerprint), never the cluster.

    Returns (fingerprint, id keeper, score of keeper, n_copies).
    """
    neg_id = (-F.col(id_col)).alias("__nid")
    packed = F.struct(F.col(score_col).alias("__s"), neg_id)
    return (
        df.select(
            fingerprint_md5(text_col).alias("fingerprint"),
            F.col(id_col),
            F.col(score_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.max(packed).alias("__best"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select(
            "fingerprint",
            (-F.col("__best.__nid")).cast("long").alias(id_col),
            F.col("__best.__s").alias(score_col),
            "n_copies",
        )
    )


def lsh_candidate_prob_sql(s_expr: str, r: int, b: int) -> str:
    """SQL text for the MinHash-LSH banding S-curve ``1 − (1 − s^r)^b``
    — the probability a pair with Jaccard similarity ``s`` becomes a
    candidate under ``b`` bands of ``r`` rows. The exponents are
    unrolled into CHAIN MULTIPLIES of the same literal shape in any
    engine, so both sides evaluate the identical sequence of
    correctly-rounded IEEE ops and the result is bit-identical —
    no pow() implementation is ever trusted (the ndcg discount-table
    discipline applied to the S-curve).
    """
    if r < 1 or b < 1:
        raise ValueError(f"need r >= 1, b >= 1 (got r={r}, b={b})")
    sr = " * ".join([f"({s_expr})"] * r)
    one_minus = f"(1.0 - ({sr}))"
    omb = " * ".join([one_minus] * b)
    return f"(1.0 - ({omb}))"


def lsh_plan(
    spark,
    r_values: tuple[int, ...] = (2, 4, 8),
    b_values: tuple[int, ...] = (4, 8, 16, 32),
) -> DataFrame:
    """Banding-parameter planning table for MinHash LSH: for every
    (rows-per-band r, bands b) combination, the candidate probability
    across a 1/64-step Jaccard grid — the table an engineer reads to
    pick (r, b) for a target similarity threshold before launching a
    100 TB dedup (the S-curve threshold sits near ``(1/b)^(1/r)``).

    Determinism: grid points s = g/64 are exact binary fractions, the
    S-curve is chain-multiplied (``lsh_candidate_prob_sql``) so both
    engines run the same correctly-rounded IEEE sequence, and the
    probability is micro-floored at the end. Output is the full
    |r_values|·|b_values|·63-row table — a driver-side-literal
    generator, no input table, no shuffle.

    Returns (r, b, s_64, prob_micro).
    """
    frames = []
    for r in r_values:
        for b in b_values:
            p = lsh_candidate_prob_sql("CAST(s_64 AS DOUBLE) / 64.0", r, b)
            frames.append(
                spark.range(1, 64)
                .selectExpr("id AS s_64")
                .selectExpr(
                    f"CAST({r} AS BIGINT) AS r",
                    f"CAST({b} AS BIGINT) AS b",
                    "CAST(s_64 AS BIGINT) AS s_64",
                    f"CAST(FLOOR({p} * 1000000) AS BIGINT) AS prob_micro",
                )
            )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def embedding_contamination(
    eval_df: DataFrame,
    train_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int | None = None,
    bands: int = 16,
    seed: int = 42,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus SEMANTIC contamination scan — which eval items are
    embedding-near-duplicates of something in the training corpus:
    the embedding-space analogue of :func:`near_dup_against` (n-gram
    contamination catches copies; this catches paraphrases and
    translations the token overlap misses — the leakage mode
    benchmark-hygiene audits increasingly target).

    Candidates default to the banded hyperplane LSH over the
    parity-tagged union (eval = odd tid, train = even — the
    near_dup_against construction, so only CROSS-corpus bucket
    collisions survive and yesterday's banded train table is
    persistable); the plane count self-sizes from the union row count
    when ``num_planes`` is None. Pass ``candidates`` (eval_id,
    train_id) explicitly for an exact generator (the oracle-checkable
    gate does, on bounded slices).

    Verify is EXACT cosine ≥ threshold with per-row precomputed norms
    (the embedding_dedup arithmetic tree — identical doubles to the
    DuckDB list_dot_product oracle). Returns (eval_id, train_id, cos)
    — consumers quarantine flagged eval items or drop the training
    side, per policy.
    """
    from hdinsight_pyspark_cntk_integration_spark.functions.vector import dot, l2_norm

    if candidates is None:
        integral = {"tinyint", "smallint", "int", "bigint"}
        for side, frame in (("eval_df", eval_df), ("train_df", train_df)):
            dtype = dict(frame.dtypes).get(id_col)
            if dtype not in integral:
                raise TypeError(
                    f"embedding_contamination requires an integral {id_col!r};"
                    f" {side}.{id_col} is {dtype!r}"
                )

        def _tag(offset: int):
            idl = F.col(id_col).cast("long")
            return F.when(
                F.abs(idl) < F.lit(1 << 62), idl * 2 + offset
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("embedding_contamination: |id| >= 2^62"
                              " overflows the parity tag: "),
                        idl.cast("string"),
                    )
                ).cast("long")
            )

        union = eval_df.select(
            _tag(1).alias("__tid"), F.col(vec_col)
        ).unionByName(train_df.select(_tag(0).alias("__tid"), F.col(vec_col)))
        cands = embedding_near_dup_candidates(
            union, id_col="__tid", vec_col=vec_col,
            num_planes=num_planes, bands=bands, seed=seed,
        )
        par_a = F.pmod(F.col("id_a"), F.lit(2))
        par_b = F.pmod(F.col("id_b"), F.lit(2))
        candidates = (
            cands.filter(par_a != par_b)
            .select(
                F.shiftright(
                    F.when(par_a == 1, F.col("id_a")).otherwise(F.col("id_b")), 1
                ).cast("long").alias("eval_id"),
                F.shiftright(
                    F.when(par_a == 0, F.col("id_a")).otherwise(F.col("id_b")), 1
                ).cast("long").alias("train_id"),
            )
            .distinct()
        )
    ea = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).alias("__va"),
        l2_norm(vec_col).alias("__na"),
    )
    tb = train_df.select(
        F.col(id_col).alias("train_id"),
        F.col(vec_col).alias("__vb"),
        l2_norm(vec_col).alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    cos = F.when(denom == 0.0, F.lit(0.0)).otherwise(dot("__va", "__vb") / denom)
    return (
        candidates.join(ea, "eval_id")
        .join(tb, "train_id")
        .select("eval_id", "train_id", cos.alias("cos"))
        .filter(F.col("cos") >= float(threshold))
    )
