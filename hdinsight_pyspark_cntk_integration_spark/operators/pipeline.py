"""Training-data pipeline operators: deterministic splits, mixture
sampling, sequence packing, and BPE-style token counts (SURVEY.md §2.7
addition — the corpus-preparation layer an LLM data pipeline runs after
filtering/dedup and before tokenizer sharding).

Everything here is shuffle-minimal by construction:

* splits and sampling are pure per-row projections/filters — no shuffle,
  full pushdown, and (crucially at 100 TB) *reproducible*: membership is
  a deterministic function of the row id, never of partitioning, task
  retries, or `rand()` (re-running the job or losing an executor can't
  move a document between train and test);
* packing shuffles ONCE on the shard key and sorts within shards — the
  global-concatenation order is defined as (shard, id), so no global
  sort ever happens and each shard's window state is bounded by the
  shard, not the corpus.

Two hash mixers are provided. ``xxhash64`` (default) is the production
mixer — JVM codegen, avalanche-quality bits. ``knuth`` (multiplicative
hashing, Knuth TAOCP vol. 3 §6.4) is arithmetic-only so independent
engines can reproduce assignments bit-for-bit in ANSI SQL — the oracle
gate runs on it; its mixing quality is adequate for split/sample duty
(the golden tests pin observed proportions).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_KNUTH_MULT = 2654435761  # 2^32 * (golden ratio - 1), Knuth's constant
_KNUTH_MOD = 1_000_003  # prime modulus; buckets in [0, 1_000_003)


def hash_bucket(id_col: Column | str, method: str = "xxhash64") -> Column:
    """Deterministic bucket in [0, 1_000_003) from an integer id column.

    ``xxhash64``: JVM xxhash64 folded into the modulus — production path.
    ``knuth``: ((id mod M) * 2654435761) mod M — pure 64-bit-safe integer
    arithmetic (the pre-reduction keeps the product < 2^63 for any id),
    reproducible in any ANSI SQL engine for cross-engine verification.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    if method == "xxhash64":
        return F.pmod(F.xxhash64(c), F.lit(_KNUTH_MOD))
    if method == "knuth":
        return F.pmod(F.pmod(c, F.lit(_KNUTH_MOD)) * F.lit(_KNUTH_MULT), F.lit(_KNUTH_MOD))
    raise ValueError(f"unknown hash method {method!r} (xxhash64|knuth)")


def split_assign(
    df: DataFrame,
    weights: Mapping[str, float],
    id_col: str = "doc_id",
    split_col: str = "split",
    method: str = "xxhash64",
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket the id, carve the
    bucket space into cumulative weight ranges, label each row.

    Weights must sum to 1 (±1e-9). Pure projection — no shuffle, no RNG
    state; a document's split is stable across reruns, retries, and
    repartitioning, which is the property that keeps eval sets
    uncontaminated when the corpus is rebuilt.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1 (got {total})")
    bucket = hash_bucket(id_col, method)
    expr = None
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w
        bound = int(cum * _KNUTH_MOD)
        case = F.when(bucket < bound, F.lit(name))
        expr = case if expr is None else expr.when(bucket < bound, F.lit(name))
    last = F.lit(items[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def mixture_sample(
    df: DataFrame,
    fractions: Mapping[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    method: str = "xxhash64",
) -> DataFrame:
    """Per-group deterministic Bernoulli sampling — the data-mixing step
    that up/down-weights corpus sources to a target mixture. Keep a row
    iff bucket(id) < fraction(group) * M.

    A pure filter (pushdown-friendly, zero shuffle); sampling at 1.0
    keeps everything, 0.0 drops the group. Unlisted groups get
    ``default_fraction``. Deterministic in the id, so mixtures are
    reproducible and two samples with nested fractions are nested
    (a 10% sample is a subset of the 50% sample — useful for scaling-law
    subsampling).
    """
    for g, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {g!r} must be in [0,1] (got {frac})")
    bucket = hash_bucket(id_col, method)
    thresh = None
    for g, frac in fractions.items():
        bound = F.lit(int(frac * _KNUTH_MOD))
        case = F.when(F.col(group_col) == g, bound)
        thresh = case if thresh is None else thresh.when(F.col(group_col) == g, bound)
    thresh = thresh.otherwise(F.lit(int(default_fraction * _KNUTH_MOD)))
    return df.filter(bucket < thresh)


def weighted_sample(
    df: DataFrame,
    weight: Column | str,
    id_col: str = "doc_id",
    method: str = "xxhash64",
) -> DataFrame:
    """Deterministic per-row Bernoulli with a per-ROW keep probability
    (``weight`` in [0,1], e.g. a quality score): keep iff
    bucket(id) < floor(weight * M). The generalization of
    ``mixture_sample`` from per-group constants to a score column —
    importance-style resampling that up-weights high-quality documents
    while staying a pure filter (pushdown-friendly, zero shuffle,
    reproducible, nested across thresholds the way hash sampling always
    is). Rows with NULL weight are dropped."""
    w = F.col(weight) if isinstance(weight, str) else weight
    bucket = hash_bucket(id_col, method)
    return df.filter(bucket < F.floor(w * F.lit(_KNUTH_MOD)))


def sample_k_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    method: str = "xxhash64",
) -> DataFrame:
    """Exactly-k deterministic sample per group (uniform over the group
    when the hash mixes well): rank rows within each group by
    ``hash_bucket(id)`` with the id as tie-break, keep rank <= k.

    Window over (group, hash) shuffles on the group key once; state per
    group is a single counter, never a materialized group. Deterministic
    in the ids — reruns, retries, and repartitioning return the SAME
    sample, and growing a group only displaces members at the boundary
    (bounded churn), which Bernoulli sampling can't guarantee about k.
    Groups smaller than k pass through whole.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(id_col, method), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def pack_chunks(
    df: DataFrame,
    budget: int,
    n_shards: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    (shard, id) order and the token stream is cut into fixed ``budget``-
    token blocks — the standard LLM pretraining packing (no padding, docs
    may span block boundaries). Emits, per document, the half-open block
    span it lands in:

      shard, first_block, last_block (block ids are shard-local),
      offset_in_block (token offset of the doc's first token in
      first_block).

    Scale shape: ONE hash-partition shuffle on ``shard = id mod
    n_shards`` + a per-shard sort (Spark's window sort spills to disk if
    a shard exceeds memory, but size ``n_shards`` so ~corpus/n_shards
    tokens fit comfortably). No global sort, no driver state; block ids
    are (shard, block) pairs so numbering needs no cross-shard
    coordination — exactly how a 1000-executor tokenizer run shards.
    """
    from pyspark.sql import Window

    if budget < 1:
        raise ValueError(f"budget must be >= 1 (got {budget})")
    shard = F.pmod(F.col(id_col), F.lit(n_shards))
    w = Window.partitionBy("shard").orderBy(id_col)
    cum = F.sum(tokens_col).over(w)
    start = (cum - F.col(tokens_col)).cast("long")  # first token's global offset
    end = cum.cast("long")  # one past the last token
    return (
        df.withColumn("shard", shard.cast("long"))
        .select(
            F.col(id_col),
            "shard",
            F.floor(start / budget).alias("first_block"),
            # empty docs sit at their start boundary; non-empty use last token
            F.when(F.col(tokens_col) == 0, F.floor(start / budget))
            .otherwise(F.floor((end - 1) / budget))
            .alias("last_block"),
            F.pmod(start, F.lit(budget)).alias("offset_in_block"),
        )
    )


def pack_chunks_global(
    df: DataFrame,
    budget: int,
    n_shards: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """``pack_chunks`` with GLOBAL block ids, via the distributed
    prefix-sum pattern: shard-local block numbering (one shuffle, as in
    ``pack_chunks``) + a per-shard block-count aggregate (n_shards rows)
    whose running sum — computed in a single tiny window — becomes each
    shard's block offset, broadcast-joined back. No global sort ever
    happens; the only single-threaded step touches ``n_shards`` rows.

    Each shard reserves ``floor(total_tokens/budget) + 1`` blocks (the
    +1 absorbs a trailing empty-doc boundary), so global ids are stable
    even when shards end exactly on a block boundary.
    """
    from pyspark.sql import Window

    local = pack_chunks(df, budget, n_shards, id_col, tokens_col)
    shard = F.pmod(F.col(id_col), F.lit(n_shards))
    totals = (
        df.groupBy(shard.cast("long").alias("shard"))
        .agg(F.sum(tokens_col).alias("total_tokens"))
        .select(
            "shard",
            (F.floor(F.col("total_tokens") / budget) + 1).alias("shard_blocks"),
        )
    )
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "shard", F.coalesce(F.sum("shard_blocks").over(w), F.lit(0)).alias("block_offset")
    )
    return local.join(F.broadcast(offsets), "shard").select(
        F.col(id_col),
        "shard",
        (F.col("block_offset") + F.col("first_block")).alias("global_first_block"),
        (F.col("block_offset") + F.col("last_block")).alias("global_last_block"),
        "offset_in_block",
    )


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark-decontamination scan: per training document, how many
    distinct word n-grams it shares with the evaluation corpus.

    Scale shape: the eval side (benchmark suites — thousands of docs,
    not billions) collapses to a distinct n-gram set and is BROADCAST, so
    the 100 TB train side is never shuffled for the probe — the inner
    broadcast join emits only matching (doc, n-gram) rows, and the final
    count shuffles just those hits. Shingling is the same pure-Catalyst
    projection the near-dup stack uses (operators.dedup.word_shingles).
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_shingles

    eval_ngrams = (
        eval_df.select(F.explode(word_shingles(eval_text_col, n)).alias("ngram"))
        .filter(F.length("ngram") > 0)
        .distinct()
    )
    train_ngrams = train.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("ngram")
    )
    return (
        train_ngrams.join(F.broadcast(eval_ngrams), "ngram")
        .groupBy(id_col)
        .agg(F.count_distinct("ngram").alias("n_hits"))
    )


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Decontamination REPORT: per training document, its distinct word
    n-gram count and how many of those appear in the eval corpus — the
    numerator/denominator of the overlap fraction the boolean
    ``decontaminate`` cut hides. Pipelines threshold on the fraction
    ("drop if > 20 % of the doc's n-grams are benchmark n-grams") and
    audit the distribution; integer counts keep the output hash-exact
    (consumers derive the ratio).

    Scale shape: the eval side collapses to a distinct broadcast n-gram
    set; ONE shingle explode of the train side feeds a broadcast LEFT
    join (hit marker) and one partial-agg groupBy — the 100 TB train
    corpus is never shuffled at n-gram width, only (doc_id, counts).
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_shingles

    eval_ngrams = (
        eval_df.select(F.explode(word_shingles(eval_text_col, n)).alias("ngram"))
        .filter(F.length("ngram") > 0)
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train_ngrams = train.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("ngram")
    ).filter(F.length("ngram") > 0)
    return (
        train_ngrams.join(F.broadcast(eval_ngrams), "ngram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("__hit").cast("long").alias("n_hits"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Drop training documents that share >= ``min_hits`` distinct word
    n-grams with the eval corpus (the pre-training hygiene step that keeps
    benchmark numbers honest). Anti-join on the flagged id set."""
    flagged = contamination_hits(
        train, eval_df, id_col, text_col, eval_text_col, n
    ).filter(F.col("n_hits") >= min_hits)
    return train.join(flagged.select(id_col), on=id_col, how="left_anti")


# GPT-2-style pre-tokenizer classes, restricted to constructs whose
# semantics agree between Java regex (Spark) and RE2 (DuckDB/Go): runs
# of letters, single digits, runs of other non-space symbols.
BPE_PRETOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def bpe_token_count(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern: str = BPE_PRETOKEN_PATTERN,
) -> DataFrame:
    """BPE-ish token counting: count pre-tokenizer matches (letter runs,
    single digits, punctuation runs) — a cheap, deterministic proxy for a
    real BPE tokenizer's sequence length, good enough for packing budgets
    and per-source token accounting. Pure JVM regexp projection."""
    n = F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0)))
    return df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
        .otherwise(n.cast("long"))
        .alias("n_bpe_tokens"),
    )


def stratified_split(
    df: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    train_frac: float = 0.8,
    split_col: str = "split",
    method: str = "xxhash64",
) -> DataFrame:
    """Exact proportional train/test split WITHIN each stratum: order the
    stratum by the id hash (pseudo-random w.r.t. ingest order, fully
    reproducible), send the first ceil(train_frac * n) rows to 'train'.

    ``split_assign`` is Bernoulli — correct in expectation but with
    binomial variance per stratum, which can starve the eval split of a
    rare language or source entirely. This operator pays one shuffle on
    the stratum key to make every stratum's proportion exact (±1 row);
    per-stratum state is two window counters, never a materialized group.
    """
    if not 0.0 < train_frac < 1.0:
        raise ValueError(f"train_frac must be in (0,1) (got {train_frac})")
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(id_col, method), F.col(id_col)
    )
    wc = Window.partitionBy(strata_col)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wc)
    keep = rn <= F.ceil(n * F.lit(train_frac))
    return df.withColumn(
        split_col, F.when(keep, F.lit("train")).otherwise(F.lit("test"))
    )


def chunk_with_overlap(
    df: DataFrame,
    size: int,
    stride: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Sliding context windows over a token-array column: chunks of
    ``size`` tokens starting every ``stride`` tokens (overlap =
    size - stride), drop-tail style — only starts s with s + size <= n
    are emitted, except that a document shorter than ``size`` yields its
    single (short) chunk. The standard way LLM training data turns
    variable-length documents into fixed context windows while keeping
    cross-boundary continuity.

    Pure generate-and-explode projection: the start offsets come from an
    in-row ``sequence``, so there is no shuffle and no driver loop; output
    size scales with n/stride per document.
    """
    if size < 1 or stride < 1 or stride > size:
        raise ValueError(f"need 1 <= stride <= size (got size={size}, stride={stride})")
    n = F.size(F.col(tokens_col))
    starts = F.when(n <= size, F.array(F.lit(0))).otherwise(
        F.sequence(F.lit(0), n - size, F.lit(stride))
    )
    return (
        df.withColumn("start", F.explode(starts))
        .select(
            F.col(id_col),
            F.floor(F.col("start") / stride).cast("bigint").alias("chunk_index"),
            F.col("start").cast("bigint").alias("start"),
            F.slice(F.col(tokens_col), F.col("start") + 1, size).alias("chunk"),
        )
        .withColumn("chunk_len", F.size("chunk").cast("bigint"))
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    id_col: str = "doc_id",
    n_buckets: int = 64,
    method: str = "xxhash64",
) -> DataFrame:
    """Deterministic global training order for one epoch: sort key =
    hash(id, epoch), so the same epoch always replays identically
    (resumable, debuggable training runs) and different epochs are
    uncorrelated. Emits a 1-based global position WITHOUT a global sort:
    the hash space is cut into fixed-width buckets (order-preserving, so
    bucket-local order concatenated by bucket id IS the global order),
    rows rank inside their bucket, and bucket offsets come from a prefix
    sum over the tiny n_buckets-row count table — the same distributed
    pattern as ``pack_chunks_global``. To materialize the order, write
    with ``repartitionByRange(sort_key).sortWithinPartitions``.
    """
    if epoch < 0:
        raise ValueError(f"epoch must be >= 0 (got {epoch})")
    from pyspark.sql import Window

    c = F.col(id_col)
    if method == "xxhash64":
        h = F.pmod(F.xxhash64(c, F.lit(epoch)), F.lit(_KNUTH_MOD))
    elif method == "knuth":
        h = F.pmod(
            (F.pmod(c, F.lit(_KNUTH_MOD)) + F.lit(epoch * 7919))
            * F.lit(_KNUTH_MULT),
            F.lit(_KNUTH_MOD),
        )
    else:
        raise ValueError(f"unknown hash method {method!r} (xxhash64|knuth)")
    width = _KNUTH_MOD // n_buckets + 1
    keyed = df.select(c, h.alias("sort_key")).withColumn(
        "__bucket", F.floor(F.col("sort_key") / width)
    )
    w_local = Window.partitionBy("__bucket").orderBy("sort_key", id_col)
    ranked = keyed.withColumn("__rn", F.row_number().over(w_local))
    counts = keyed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__bucket", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    return (
        ranked.join(F.broadcast(offsets), "__bucket")
        .select(
            id_col,
            "sort_key",
            (F.col("__off") + F.col("__rn")).cast("bigint").alias("pos"),
        )
    )


def contamination_hits_prefiltered(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 3,
    prefilter_buckets: int = 1 << 22,
) -> DataFrame:
    """``contamination_hits`` for eval corpora too large to broadcast as
    an exact n-gram set: a Bloom-style hashed-bucket prefilter plus an
    exact verification join. Identical output to ``contamination_hits``
    — the prefilter only admits false positives, and the exact join
    removes them.

    Scale shape: the eval n-grams collapse to DISTINCT hash buckets in
    ``[0, prefilter_buckets)`` — at most ``prefilter_buckets`` longs
    (~32 MB at the default 2^22) regardless of eval size, so the bucket
    set broadcasts even when the n-gram strings themselves are tens of
    GB. The 100 TB train side probes it with a broadcast LEFT SEMI join
    (pure JVM: xxhash64 + pmod, no Python in the hot path); only the
    surviving candidates — true hits plus the ~n_eval/buckets false-
    positive fraction — enter the shuffled exact join against the full
    eval n-gram set. Compared with a direct shuffle join, the bytes
    shuffled from the train side drop by the prefilter's selectivity.
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_shingles

    bucket_of = lambda c: F.pmod(F.xxhash64(c), F.lit(prefilter_buckets))  # noqa: E731
    eval_ngrams = (
        eval_df.select(F.explode(word_shingles(eval_text_col, n)).alias("ngram"))
        .filter(F.length("ngram") > 0)
        .distinct()
    )
    buckets = eval_ngrams.select(bucket_of(F.col("ngram")).alias("__bucket")).distinct()
    train_ngrams = train.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("ngram")
    )
    candidates = train_ngrams.join(
        F.broadcast(buckets),
        bucket_of(train_ngrams.ngram) == F.col("__bucket"),
        "left_semi",
    )
    return (
        candidates.join(eval_ngrams, "ngram")
        .groupBy(id_col)
        .agg(F.count_distinct("ngram").alias("n_hits"))
    )


def shard_manifest(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "xxhash64",
) -> DataFrame:
    """Deterministic training-shard layout manifest: assign every document
    to ``hash(id) % n_shards`` and summarize each shard — (shard, n_docs,
    n_tokens, min/max doc id, id_checksum). The manifest is what a
    dataloader consumes to plan epochs and what an auditor diffs between
    dataset versions; the checksum (sum of id hash buckets, order-
    insensitive) detects membership drift without re-reading text.

    One partial-agg shuffle of (shard, tiny aggregates); the assignment
    itself is a pure projection, so writing the actual shards with
    ``df.write.partitionBy`` colocates for free. ``method='knuth'`` makes
    the assignment reproducible in ANSI SQL for cross-engine checks.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    from hdinsight_pyspark_cntk_integration_spark.functions.textfns import token_count

    assigned = df.select(
        F.pmod(hash_bucket(id_col, method=method), F.lit(n_shards)).alias("shard"),
        F.col(id_col),
        hash_bucket(id_col, method=method).alias("__idh"),
        token_count(text_col).alias("__nt"),
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
        F.sum("__idh").alias("id_checksum"),
    )


def temperature_mixture(
    df: DataFrame,
    target_rows: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.7,
    method: str = "knuth",
) -> DataFrame:
    """Temperature-flattened mixture sampling: draw ~``target_rows`` rows
    with per-group share ∝ n_g^alpha (alpha<1 up-weights small sources,
    alpha=1 is proportional, alpha=0 uniform across groups) — the
    multilingual/multi-source rebalancing step of LLM data curation
    (cf. the sampling-temperature schemes popularized by mBERT/XLM-R).

    Determinism & cross-engine exactness: group weights n^alpha are
    transcendental, so they are quantized ONCE per group to integer
    micro-units (floor(n^alpha·1e6) BIGINT); the per-row keep test
    ``bucket(id)·n_g·Σw < target·w_g·M`` then runs entirely in
    DECIMAL(38,0) integer arithmetic — no float thresholds, so any ANSI
    engine reproduces the sample row-for-row. A group whose quota
    ``target·w_g/Σw`` exceeds its size keeps all its rows (the keep-rate
    caps at 1) and the shortfall is NOT redistributed — a documented
    bias, matching how production mixtures treat exhausted sources.

    Scale shape: the group-count aggregate is a partial-agg shuffle over
    |groups| rows, broadcast back; the keep test is a pure projection
    filter. The corpus is scanned once and never shuffled.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0 (got {alpha})")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    w_micro = F.floor(
        F.pow(F.col("__n").cast("double"), F.lit(float(alpha))) * F.lit(1_000_000.0)
    ).cast("long")
    weights = counts.select(group_col, F.col("__n"), w_micro.alias("__w"))
    # Optimization r15 (the bm25/corpus_divergence §5 pattern): Σw used
    # to be a driver .collect() at DataFrame-BUILD time — a second full
    # derivation of the group-count aggregate run before the main job
    # could start, plus a py4j sync. As a broadcast 1-row frame the
    # identical BIGINT joins in-plan; the DECIMAL(38,0) keep-test
    # arithmetic is unchanged (long column vs long literal).
    total_w = weights.agg(F.sum("__w").cast("long").alias("__tw"))
    bucket = hash_bucket(id_col, method)
    dec = "decimal(38,0)"
    keep = (
        bucket.cast(dec) * F.col("__n").cast(dec) * F.col("__tw").cast(dec)
        < F.lit(int(target_rows)).cast(dec)
        * F.col("__w").cast(dec)
        * F.lit(_KNUTH_MOD).cast(dec)
    )
    return (
        df.join(F.broadcast(weights), group_col)
        .join(F.broadcast(total_w))
        .filter(keep)
        .drop("__n", "__w", "__tw")
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Join/agg-key skew diagnostic: the hottest ``top_k`` keys with
    exact counts, each row carrying the global context needed to choose
    a mitigation (total rows, distinct keys, hot key's share in ppm, and
    its ratio to a perfectly uniform key). At 100 TB this is the query
    you run BEFORE a big join to decide between plain shuffle, AQE skew
    split, salting (operators.relational.salted_join), or broadcasting.

    All emitted cells derive from exact integer counts (share_ppm is an
    integer floor, skew_x one int/int IEEE division) — hash-gate safe.
    Shape: one partial-agg groupBy on the key; the global totals are a
    second tiny aggregate over the per-key counts (|keys| rows), cross-
    joined back as one broadcast row; top-k via bounded TakeOrdered.
    """
    per_key = df.groupBy(key_col).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    totals = per_key.agg(
        F.sum("cnt").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    dec = "decimal(38,0)"
    return (
        per_key.join(F.broadcast(totals))
        .select(
            F.col(key_col),
            "cnt",
            "total_rows",
            "n_keys",
            F.floor(
                F.col("cnt").cast(dec) * F.lit(1_000_000).cast(dec) / F.col("total_rows").cast(dec)
            )
            .cast("long")
            .alias("share_ppm"),
            (
                F.col("cnt").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("total_rows").cast("double")
            ).alias("skew_x"),
        )
        .orderBy(F.desc("cnt"), key_col)
        .limit(top_k)
    )


def dq_checks(df: DataFrame, checks: Mapping[str, Column]) -> DataFrame:
    """Declarative data-quality assertions in ONE scan: each named check
    is a boolean predicate; the output is one row per check with the
    exact violation count and a pass flag. All predicates aggregate in
    the same single partial-agg job (no per-check scan), so adding a
    check is free at 100 TB — the ingest gate you run before promoting a
    corpus snapshot. NULL predicate results count as violations (a check
    that can't evaluate has failed).

    Returns (check, n_rows, n_violations, passed), one row per check in
    insertion order.
    """
    if not checks:
        raise ValueError("dq_checks needs at least one named check")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for name, pred in checks.items():
        aggs.append(
            F.sum(
                F.when(F.coalesce(pred, F.lit(False)), F.lit(0)).otherwise(F.lit(1))
            )
            .cast("long")
            .alias(f"__v_{name}")
        )
    row = df.agg(*aggs)
    stacked = ", ".join(f"'{name}', __v_{name}" for name in checks)
    return row.select(
        F.expr(f"stack({len(checks)}, {stacked}) AS (check, n_violations)"),
        F.col("__n").alias("n_rows"),
    ).select(
        "check",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def fk_violations(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    check_name: str | None = None,
) -> DataFrame:
    """Referential-integrity check: child rows whose key has no parent —
    a left-anti join (broadcast when the parent's key column is small;
    Spark/AQE decides from stats). Emits the same (check, n_rows,
    n_violations, passed) shape as ``dq_checks`` so the two union into
    one quality report. NULL child keys are orphans by definition here
    (use a separate not-null check to tell the cases apart)."""
    name = check_name or f"fk_{child_key}_in_{parent_key}"
    # Optimization r15 (§5): the child row count used to be a driver
    # .collect() at build time — one extra full child scan + py4j sync.
    # As a broadcast 1-row frame it joins the (1-row) violation
    # aggregate in-plan; same BIGINT, one job.
    n_rows = child.agg(F.count(F.lit(1)).cast("long").alias("__nr"))
    orphans = child.join(
        parent.select(F.col(parent_key)),
        child[child_key] == parent[parent_key],
        "left_anti",
    )
    return (
        orphans.agg(
            F.count(F.lit(1)).cast("long").alias("n_violations"),
        )
        .join(F.broadcast(n_rows))
        .select(
            F.lit(name).alias("check"),
            F.col("__nr").cast("long").alias("n_rows"),
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )


def bpe_word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Word-frequency table for BPE training: the ``tokens`` of the text
    with corpus counts. This is the standard reduction
    that makes BPE training scale-free: every subsequent merge round
    runs over the DISTINCT-word table (vocabulary-sized, ~O(sqrt) of
    corpus tokens by Heaps' law), never over the corpus again — at
    100 TB the corpus is touched exactly once, here, by one explode +
    partial-agg groupBy."""
    from hdinsight_pyspark_cntk_integration_spark.operators.text import token_table

    return (
        token_table(df, [], text_col)
        .groupBy(F.col("token").alias("word"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_wrap(word: Column) -> Column:
    """Symbol-sequence encoding as a delimited string: each symbol
    carries its OWN leading and trailing space (symbols are joined by
    two spaces, the whole string wrapped by one). Under this invariant,
    ``replace(w, ' a  b ', ' ab ')`` is EXACTLY greedy left-to-right
    non-overlapping pair merging — including the adjacent-occurrence
    case (' a  b  a  b ') where a single-space join would make
    ``replace`` consume the shared delimiter and miss the second
    occurrence. Both Spark and DuckDB ``replace`` scan left-to-right
    non-overlapping, so the oracle reproduces merges bit-for-bit."""
    return F.concat(F.lit(" "), F.array_join(F.split(word, ""), "  "), F.lit(" "))


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 24,
    checkpoint_every: int = 8,
    score: str = "count",
    min_pair_count: int = 1,
) -> list[tuple[int, str, str, str]]:
    """Distributed BPE merge-table training (Sennrich et al. 2016,
    arXiv:1508.07909): iteratively find the best adjacent symbol pair
    (weighted by word frequency) and fuse it, ``num_merges`` rounds.
    Returns [(merge_rank, lhs, rhs, merged)].

    ``score`` selects the merge objective:

    - ``"count"`` (default): classic BPE — raw pair frequency.
    - ``"likelihood"``: the WordPiece objective (Schuster & Nakajima
      2012; Wu et al. 2016 §4.1) — ``freq(ab) / (freq(a)·freq(b))``,
      the pair whose fusion most raises unigram-LM corpus likelihood.
      Evaluated as the exact truncating integer
      ``c · 1e12 DIV (c_a · c_b)`` over current-round symbol counts
      (one extra vocabulary-bounded aggregate + two joins per round);
      ties break (score DESC, count DESC, lhs, rhs). Because isolated
      singleton pairs maximize the raw likelihood ratio, WordPiece
      training needs ``min_pair_count`` > 1 in practice (the gate uses
      2) — the standard frequency floor.

    Scale shape per round: ONE partial-agg groupBy over the distinct-
    word table's exploded symbol pairs (map-side combine shrinks the
    shuffle to the pair vocabulary), then a bounded 1-row action
    (orderBy+limit(1)) to pick the argmax, then a pure ``replace``
    projection applies the merge — no shuffle. Rounds are bounded by
    ``num_merges``; ``localCheckpoint`` every ``checkpoint_every``
    rounds truncates the growing replace-expression lineage. Ties break
    deterministically in binary collation, which DuckDB shares — the
    oracle unrolls the same rounds as chained CTEs and must reproduce
    the table exactly."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1 (got {num_merges})")
    if score not in ("count", "likelihood"):
        raise ValueError(f"score must be count|likelihood (got {score!r})")
    if min_pair_count < 1:
        raise ValueError(f"min_pair_count must be >= 1 (got {min_pair_count})")
    work = bpe_word_counts(df, text_col).select(
        _bpe_wrap(F.col("word")).alias("w"), "cnt"
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, str]] = []
    for k in range(num_merges):
        syms = work.select(F.split(F.trim(F.col("w")), "  ").alias("l"), "cnt").filter(
            F.size("l") >= 2
        )
        pairs = (
            syms.select(
                "cnt",
                F.explode(
                    F.expr("transform(sequence(0, size(l) - 2), i -> struct(l[i] as a, l[i+1] as b))")
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
        )
        if min_pair_count > 1:
            pairs = pairs.filter(F.col("c") >= min_pair_count)
        if score == "likelihood":
            # current-round symbol counts over ALL words (length-1
            # survivors included — a fully-merged word still
            # contributes its symbol's frequency to the denominator)
            scnt = (
                work.select(
                    F.explode(F.split(F.trim(F.col("w")), "  ")).alias("s"),
                    "cnt",
                )
                .groupBy("s")
                .agg(F.sum("cnt").alias("sc"))
            )
            scored = (
                pairs.join(scnt.select(F.col("s").alias("a"), F.col("sc").alias("ca")), "a")
                .join(scnt.select(F.col("s").alias("b"), F.col("sc").alias("cb")), "b")
                .select(
                    "a", "b", "c",
                    F.expr(
                        "CAST(c AS DECIMAL(38,0)) * 1000000000000"
                        " DIV (CAST(ca AS DECIMAL(38,0)) * cb)"
                    ).alias("score"),
                )
            )
            best = scored.orderBy(
                F.desc("score"), F.desc("c"), F.asc("a"), F.asc("b")
            ).limit(1).collect()
        else:
            best = pairs.orderBy(F.desc("c"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((k + 1, a, b, a + b))
        work = work.withColumn(
            "w",
            F.replace(F.col("w"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")),
        )
        if (k + 1) % checkpoint_every == 0:
            work = work.localCheckpoint(eager=True)
    return merges


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 24,
    min_pair_count: int = 2,
) -> list[tuple[int, str, str, str]]:
    """WordPiece merge-table training (Schuster & Nakajima 2012; the
    tokenizer family BERT ships): :func:`bpe_train` with the
    likelihood objective — per round, fuse the adjacent pair
    maximizing ``freq(ab)/(freq(a)·freq(b))`` above the frequency
    floor. Same wrapped-delimiter replay, same per-round scale shape
    (one pair aggregate + one vocabulary-bounded symbol aggregate),
    same deterministic tie-break, same unrolled-CTE oracle form."""
    return bpe_train(
        df,
        text_col,
        num_merges=num_merges,
        score="likelihood",
        min_pair_count=min_pair_count,
    )


def bpe_merge_table(spark, merges: list[tuple[int, str, str, str]]) -> DataFrame:
    """The learned merge table as a DataFrame (merge_rank, lhs, rhs,
    merged) — bounded by num_merges, i.e. model-sized, like k-means
    centroids; fine to materialize driver-side."""
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, merged string"
    )


# --------------------------------------------------------------------------
# incremental aggregate maintenance (IVM for distributive aggregates)
# --------------------------------------------------------------------------
def aggregate_state(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    scale: int = 2,
    input_precision: int = 18,
) -> DataFrame:
    """Distributive aggregate STATE for incremental maintenance: per-key
    exact count, DECIMAL(38,scale) sum, and min/max of ``value_col``.

    The state is the materialized partial aggregate — the thing a 100 TB
    pipeline stores per ingest batch so the running totals never require
    rescanning history: distributive aggregates (count/sum/min/max — and
    avg derived from them) merge exactly via :func:`merge_aggregate_state`.
    The sum stays DECIMAL in the state on purpose: merging is then exact
    integer arithmetic under any merge order; cast to double only at
    read time.

    Value domain: each value must fit DECIMAL(input_precision, scale) —
    i.e. < 10^(input_precision−scale) in magnitude, with sub-``scale``
    fractional digits rounded. A value outside the domain RAISES (never
    silently vanishes): under ANSI mode the cast itself throws, and in a
    non-ANSI session an explicit raise_error guard replaces the cast's
    overflow-to-NULL — a NULL-swallowed value would otherwise be dropped
    from the sum while still counted in n, silently corrupting the
    derived avg. Widen ``input_precision`` (≤ 38) for larger domains.

    Shape: ONE partial-agg shuffle on the keys; state cardinality =
    |distinct keys|.
    """
    if not (0 <= scale < input_precision <= 38):
        raise ValueError(
            f"need 0 <= scale < input_precision <= 38 "
            f"(got scale={scale}, input_precision={input_precision})"
        )
    v = F.col(value_col)
    cast_v = v.cast(f"decimal({input_precision},{scale})")
    ansi = (
        df.sparkSession.conf.get("spark.sql.ansi.enabled", "true").lower() == "true"
    )
    if not ansi:
        cast_v = F.when(v.isNotNull() & cast_v.isNull(), F.raise_error(
            F.lit(
                f"aggregate_state: {value_col} outside "
                f"DECIMAL({input_precision},{scale}) domain"
            )
        ).cast(f"decimal({input_precision},{scale})")).otherwise(cast_v)
    return df.groupBy(*keys).agg(
        F.count(v).cast("long").alias("n"),
        F.sum(cast_v).cast(f"decimal(38,{scale})").alias("sum"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    )


def merge_aggregate_state(*states: DataFrame) -> DataFrame:
    """Merge aggregate states produced by :func:`aggregate_state` over
    the same keys: union + one re-aggregate. Associative and exact
    (integer counts, DECIMAL sums, min/max), so daily states fold into
    monthly states fold into the all-time state without precision loss.

    Shape: the shuffle moves STATE rows (|keys| per input), never raw
    data — the whole point of incremental view maintenance.
    """
    if len(states) < 2:
        raise ValueError("need at least two states to merge")
    key_cols = [c for c in states[0].columns if c not in ("n", "sum", "min", "max")]
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy(*key_cols).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum").cast(states[0].schema["sum"].dataType.simpleString()).alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )


def balanced_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
    delta: int = 200,
) -> DataFrame:
    """Skew-proof range bucketing: bucket ids 0..n_buckets−1 assigned by
    t-digest quantile bounds, so each bucket holds ≈1/n_buckets of the
    ROWS no matter how skewed the value distribution is — the primitive
    behind balanced range partitioning / file sizing when
    ``repartitionByRange`` sampling isn't enough or the bounds must be
    stable across jobs (store the bounds, reuse tomorrow).

    One sketch pass (centroids shuffled, not values — see
    ``sketch.tdigest_quantiles``) computes the n_buckets−1 interior
    bounds; assignment is then a stateless codegen'd projection: bucket
    = Σ (value > bound_i), a chain of n_buckets−1 comparisons. Adds a
    ``bucket`` column; no shuffle of the input itself.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2 (got {n_buckets})")
    from hdinsight_pyspark_cntk_integration_spark.operators.sketch import (
        tdigest_quantiles,
    )

    qs = [i / n_buckets for i in range(1, n_buckets)]
    est = tdigest_quantiles(
        df.select(F.lit("g").alias("g"), F.col(value_col)),
        "g",
        value_col,
        qs,
        delta=delta,
    ).collect()
    bounds = [r["est"] for r in sorted(est, key=lambda r: r["q"])]
    v = F.col(value_col).cast("double")
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + (v > F.lit(float(b))).cast("int")
    return df.withColumn("bucket", bucket)


def table_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Row-level diff between two table versions: each key classified
    added / removed / changed / unchanged by comparing an md5 row
    fingerprint over ``compare_cols`` — the row-granular companion to
    the shard-level ``manifest_diff`` (audit WHICH rows moved, not just
    which shards need rewriting).

    One fingerprint projection per side (stateless, codegen'd concat of
    null-tagged casts) + one full outer join on the keys — a single
    co-partitioned shuffle each; the output is one row per differing or
    matching key, which callers usually aggregate immediately (the gate
    emits per-status counts + key checksums, constant-size regardless
    of table width).
    """
    if not key_cols or not compare_cols:
        raise ValueError("key_cols and compare_cols must be non-empty")

    def fp(df: DataFrame, out: str) -> DataFrame:
        parts = []
        for c in compare_cols:
            # null-tagged, delimited cast: NULL and 'null' must differ,
            # and ('ab','c') must differ from ('a','bc')
            parts.append(F.coalesce(F.col(c).cast("string"), F.lit("\x00")))
            parts.append(F.lit("\x01"))
        return df.select(
            *key_cols, F.md5(F.concat(*parts)).alias(out)
        )

    fa = fp(a, "__fp_a")
    fb = fp(b, "__fp_b")
    joined = fa.join(fb, list(key_cols), "full_outer")
    status = (
        F.when(F.col("__fp_a").isNull(), F.lit("added"))
        .when(F.col("__fp_b").isNull(), F.lit("removed"))
        .when(F.col("__fp_a") == F.col("__fp_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(*key_cols, status.alias("status"))


def negative_sampling(
    positives: DataFrame,
    items: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    k: int = 4,
    method: str = "knuth",
) -> DataFrame:
    """Deterministic uniform negative sampling for implicit-feedback
    training (word2vec/BPR/two-tower recommenders): for every positive
    (user, item) pair, emit ``k`` candidate negatives drawn uniformly
    from the item catalog by a seeded hash of (user, item, j) —
    NO RNG, so every epoch, retry, and engine replays the identical
    sample (the split_assign reproducibility contract applied to
    sampling), and an ANSI oracle can re-derive the exact output.

    Candidates colliding with ANY of the user's positives are dropped
    (standard practice — a "negative" the user actually touched is
    label noise), so the per-positive yield is <= k; with a uniform
    hash the shortfall is ~|user's positives|/|catalog|, negligible on
    real catalogs and measurable by the caller via count.

    Shape: items get a dense 0..n−1 rank by a bounded |catalog|-row
    window (catalogs are dimension-sized by contract, never
    event-sized), broadcast twice (rank lookup + id fetch); the only
    per-event work is a k-way explode + one hash-partitioned anti-join
    against the positives on (user, candidate). Nothing shuffles the
    event stream but that join.

    Returns (user, item, j, neg_item): the j-th negative drawn for the
    (user, item) positive.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    if method != "knuth":
        raise ValueError(f"unknown hash method {method!r} (knuth)")
    from pyspark.sql import Window

    # dense catalog rank 0..n−1, deterministic by item id. Materialized
    # ONCE (bounded |catalog| rows by contract): it feeds both the __n
    # scalar and the rank-lookup broadcast — unmaterialized, the item
    # scan + distinct ran twice (and the scalar count a third time).
    catalog = items.select(F.col(item_col).alias("__iid")).distinct().select(
        "__iid",
        (F.row_number().over(Window.orderBy("__iid")) - 1)
        .cast("long")
        .alias("__rank"),
    ).localCheckpoint(eager=True)
    n_items = catalog.groupBy().agg(F.count(F.lit(1)).cast("long").alias("__n"))
    # The distinct positive-pair table feeds BOTH the k-way explode and
    # the anti-join's build side; as two lazy references the anti-join
    # branch acquires IsNotNull pushed filters, the subtrees stop being
    # identical, ReuseExchange cannot fire, and the event stream is
    # scanned + distinct-shuffled twice. Materialize it once.
    pos = positives.select(
        F.col(user_col).alias("__u"), F.col(item_col).alias("__i")
    ).distinct().localCheckpoint(eager=True)
    exploded = pos.select(
        "__u", "__i",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
    ).crossJoin(F.broadcast(n_items))
    # seeded mixer on (user, item, j): two chained Knuth rounds so the
    # three inputs all diffuse; then reduce mod |catalog|. Every input
    # is pre-reduced mod P so the combined term stays ~2^52 — no ANSI
    # long overflow at any id magnitude
    h1 = F.pmod(
        (F.pmod(F.col("__u"), F.lit(_KNUTH_MOD)) * F.lit(_KNUTH_MULT)
         + F.pmod(F.col("__i"), F.lit(_KNUTH_MOD)) * 7919
         + F.col("j") * 104729),
        F.lit(_KNUTH_MOD),
    )
    h2 = F.pmod(h1 * F.lit(_KNUTH_MULT), F.lit(_KNUTH_MOD))
    cand = exploded.select(
        "__u", "__i", F.col("j").cast("long").alias("j"),
        F.pmod(h2, F.col("__n")).alias("__rank"),
    )
    with_item = cand.join(F.broadcast(catalog), "__rank").select(
        "__u", "__i", "j", F.col("__iid").alias("__neg")
    )
    kept = with_item.join(
        pos.select(F.col("__u"), F.col("__i").alias("__neg")),
        ["__u", "__neg"],
        "left_anti",
    )
    return kept.select(
        F.col("__u").alias(user_col),
        F.col("__i").alias(item_col),
        "j",
        F.col("__neg").alias("neg_item"),
    )


def span_corruption_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    noise_num: int = 3,
    noise_den: int = 20,
    mean_span: int = 3,
) -> DataFrame:
    """Deterministic T5-style span-corruption mask plan (Raffel et al.
    2020 §3.1.4): for each document, choose which token spans to mask
    so that ~``noise_num/noise_den`` of the tokens are corrupted in
    spans of mean length ``mean_span``. Emits the PLAN — one row per
    span ``(id, span_id, start, length)`` in token coordinates — which
    a downstream tokenizer applies; planning is engine-side so the
    expensive text pass stays a single projection.

    Deterministic by construction (the split_assign contract): span
    count and lengths come from exact integer arithmetic on the token
    count (noise rate is a RATIONAL ``noise_num/noise_den``, never a
    float literal), and each span's offset comes from the Knuth mixer
    on ``(id, span_id)`` — NO RNG, so every epoch, retry, and engine
    replays the identical mask, and an ANSI oracle re-derives the
    exact output.

    Non-overlap by strata: the token range is cut into ``n_spans``
    equal strata (width ``w = n_tokens div n_spans``); span j is
    placed inside stratum j at a mixer-chosen offset, its length
    capped at ``w``. Rows with fewer than ``noise_den div noise_num``
    tokens are dropped (a mask needs at least one maskable token per
    the rate).

    A pure projection + bounded explode — no shuffle, no state; fans
    out embarrassingly at 100 TB.
    """
    if noise_num < 1 or noise_den <= noise_num:
        raise ValueError(
            f"noise rate must be in (0,1): got {noise_num}/{noise_den}"
        )
    if mean_span < 1:
        raise ValueError(f"mean_span must be >= 1 (got {mean_span})")
    nt = F.col(n_tokens_col).cast("long")
    # integer division via expr DIV (ANSI-portable floor semantics on
    # non-negative operands)
    base = df.filter(nt * noise_num >= noise_den).select(
        F.col(id_col).alias("__id"),
        nt.alias("__nt"),
        F.expr(
            f"GREATEST(CAST(1 AS BIGINT), "
            f"(CAST({n_tokens_col} AS BIGINT) * {noise_num}) DIV {noise_den})"
        ).alias("__noise"),
    )
    base = base.withColumn(
        "__spans",
        F.greatest(F.lit(1).cast("long"), F.expr(f"__noise DIV {mean_span}")),
    ).withColumn("__w", F.expr("__nt DIV __spans"))
    sp = base.select(
        "__id", "__nt", "__noise", "__spans", "__w",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("__spans"))).alias("j"),
    )
    # span length: distribute __noise over __spans, remainder to the
    # first (__noise mod __spans) spans; cap at the stratum width
    length = F.least(
        F.col("__w"),
        F.expr("__noise DIV __spans")
        + F.when(F.col("j") <= F.expr("pmod(__noise, __spans)"), 1).otherwise(0),
    ).cast("long")
    h1 = F.pmod(
        F.pmod(F.col("__id"), F.lit(_KNUTH_MOD)) * F.lit(_KNUTH_MULT)
        + F.col("j") * 104729,
        F.lit(_KNUTH_MOD),
    )
    h2 = F.pmod(h1 * F.lit(_KNUTH_MULT), F.lit(_KNUTH_MOD))
    start = (F.col("j") - 1) * F.col("__w") + F.pmod(
        h2, F.col("__w") - length + 1
    )
    return (
        sp.withColumn("__len", length)
        .select(
            F.col("__id").alias(id_col),
            F.col("j").cast("long").alias("span_id"),
            start.cast("long").alias("start"),
            F.col("__len").alias("length"),
        )
    )


def pack_bestfit(
    df: DataFrame,
    budget: int,
    n_shards: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Best-fit-decreasing sequence packing — the BIN-PACKING twin of
    :func:`pack_chunks` (which concatenates across doc boundaries; this
    op never splits a document, the packing used for SFT/eval batches
    where documents must stay whole). Per shard, documents are taken in
    (tokens DESC, id ASC) order and each goes to the FULLEST already-open
    bin it still fits in (ties -> lowest bin id); if none fits, a new bin
    opens. A document larger than ``budget`` opens its own (overfull) bin,
    which is then never eligible again — both engines share this rule.

    BFD is inherently sequential, so it runs per shard inside ONE
    ``applyInPandas`` group: the only shuffle is the hash partition on
    ``shard = id mod n_shards``, task state is that shard's bin-load
    array, and bin ids are shard-local — the same no-cross-shard-
    coordination contract as ``pack_chunks``, which is what makes the op
    a pure fan-out at 1000 executors. Size ``n_shards`` so one shard's
    documents fit an Arrow batch (identical contract to a real
    tokenizer-packing run).

    Deterministic given the (tokens DESC, id ASC) item order, so an ANSI
    engine replays the greedy loop exactly (the DuckDB oracle unrolls it
    as a recursive CTE over the same order).

    Returns (id, shard, bin) with ``bin`` 1-based and shard-local.
    """
    import pandas as pd

    if budget < 1:
        raise ValueError(f"budget must be >= 1 (got {budget})")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")

    out_schema = f"{id_col} long, shard long, bin long"

    def bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [tokens_col, id_col], ascending=[False, True], kind="mergesort"
        )
        loads: list[int] = []
        bins: list[int] = []
        for sz in pdf[tokens_col].astype("int64"):
            best = -1
            best_load = -1
            for j, load in enumerate(loads):
                if load + sz <= budget and load > best_load:
                    best, best_load = j, load
            if best < 0:
                loads.append(int(sz))
                bins.append(len(loads))
            else:
                loads[best] += int(sz)
                bins.append(best + 1)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].astype("int64").to_numpy(),
                "shard": pdf["shard"].astype("int64").to_numpy(),
                "bin": pd.array(bins, dtype="int64"),
            }
        )

    staged = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(tokens_col).cast("long").alias(tokens_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("long").alias("shard"),
    )
    return staged.groupBy("shard").applyInPandas(bfd, out_schema)


def curriculum_schedule(
    df: DataFrame,
    steps: int = 17,
    group_col: str = "source",
    alpha_start_64: int = 64,
    alpha_end_64: int = 16,
) -> DataFrame:
    """Deterministic curriculum-mixture schedule — the TEMPORAL twin of
    :func:`temperature_mixture`: for each training step s in
    ``0..steps-1``, the per-group sampling weights under a temperature
    that anneals linearly from ``alpha_start_64/64`` to
    ``alpha_end_64/64`` (alpha 1 -> proportional early epochs, alpha<1 ->
    flattened late epochs — the standard multilingual curriculum).

    Cross-engine exactness: alphas are EXACT BINARY FRACTIONS (64ths,
    with ``steps-1`` dividing the span so each per-step alpha is
    representable), the one transcendental ``n^alpha`` is quantized to
    integer micro-units at birth (the temperature_mixture discipline),
    and the per-step share is an integer ``DIV`` over exact sums —
    every emitted cell is a BIGINT any ANSI engine reproduces.

    Scale shape: ONE partial-agg shuffle for the |groups| counts; the
    step dimension is a bounded ``sequence`` explode of that tiny frame
    (|groups| x steps rows). The corpus is scanned once, never shuffled.

    Returns (step, group, n, alpha_64, w_micro, share_ppm).
    """
    if steps < 2:
        raise ValueError(f"steps must be >= 2 (got {steps})")
    span = alpha_end_64 - alpha_start_64
    if span % (steps - 1) != 0:
        raise ValueError(
            f"steps-1 ({steps - 1}) must divide alpha_end_64-alpha_start_64 "
            f"({span}) so every per-step alpha is an exact 64th"
        )
    delta = span // (steps - 1)
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_step = counts.select(
        F.explode(F.sequence(F.lit(0), F.lit(steps - 1))).alias("step"),
        F.col(group_col),
        F.col("n"),
    ).withColumn(
        "alpha_64",
        (F.lit(alpha_start_64) + F.col("step") * F.lit(delta)).cast("long"),
    )
    w_micro = F.floor(
        F.pow(F.col("n").cast("double"), F.col("alpha_64").cast("double") / F.lit(64.0))
        * F.lit(1_000_000.0)
    ).cast("long")
    weighted = per_step.withColumn("w_micro", w_micro)
    return weighted.select(
        F.col("step").cast("long").alias("step"),
        group_col,
        "n",
        "alpha_64",
        "w_micro",
        F.expr(
            "CAST((CAST(w_micro AS DECIMAL(38,0)) * 1000000)"
            " DIV SUM(w_micro) OVER (PARTITION BY step) AS BIGINT)"
        ).alias("share_ppm"),
    )


def packing_efficiency(
    df: DataFrame,
    budget: int,
    n_shards: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Per-shard efficiency report for :func:`pack_chunks`-style
    concat-and-chunk packing: how many budget-token blocks each shard
    cuts and how full they are — the dashboard row a packing job emits
    so an imbalanced shard key or a bad budget shows up before training.

    Block count is the closed form of ``pack_chunks``'s block math
    (blocks = ceil(total_tokens / budget); the concatenated stream cuts
    into exactly that many, the last one partial), so this report stays
    consistent with the packer by construction. ``fill_ppm`` =
    total_tokens · 1e6 DIV (blocks · budget) — exact integer cells only.

    ONE partial-agg shuffle over |shards| rows; the corpus is scanned
    once and never shuffled.

    Returns (shard, n_docs, total_tokens, n_blocks, fill_ppm).
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1 (got {budget})")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("long")
    agg = df.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col(tokens_col).cast("long")).cast("long").alias("total_tokens"),
    )
    n_blocks = F.when(F.col("total_tokens") <= 0, F.lit(0).cast("long")).otherwise(
        F.floor((F.col("total_tokens") - 1) / budget).cast("long") + 1
    )
    return agg.select(
        "shard",
        "n_docs",
        "total_tokens",
        n_blocks.alias("n_blocks"),
        F.when(F.col("total_tokens") <= 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                f"CAST((CAST(total_tokens AS DECIMAL(38,0)) * 1000000)"
                f" DIV (CAST({int(budget)} AS DECIMAL(38,0))"
                f" * (FLOOR((total_tokens - 1) / {int(budget)}) + 1)) AS BIGINT)"
            )
        )
        .alias("fill_ppm"),
    )


def k_anonymity(df: DataFrame, quasi_cols: list[str], k: int = 5) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over a quasi-identifier column
    set: every record should share its quasi-identifier combination
    with at least k−1 others, or it is re-identifiable by linkage —
    the governance check a training-data release runs before shipping
    user-derived tables. This is the AUDIT (measure + locate exposure
    mass), not the suppression transform.

    All-integer single row: (k, n_rows, n_classes, min_class_size,
    n_violating_classes, n_violating_rows). ``n_violating_rows`` is
    the exposure mass — how many records sit in classes smaller than
    k; ``min_class_size >= k`` iff the table is k-anonymous.

    Scale shape: one partial-agg shuffle to the equivalence classes
    (bounded by the quasi-identifier DOMAIN product, not rows), one
    1-row reduce. Zero joins, zero windows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    return classes.groupBy().agg(
        F.lit(k).cast("long").alias("k"),
        F.sum("__n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__n").cast("long").alias("min_class_size"),
        F.sum((F.col("__n") < k).cast("long")).cast("long").alias(
            "n_violating_classes"
        ),
        F.sum(F.when(F.col("__n") < k, F.col("__n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_violating_rows"),
    )


def ablation_arms(
    df: DataFrame,
    id_col: str = "doc_id",
    n_arms: int = 8,
) -> DataFrame:
    """Deterministic overlapping ablation-arm assignment: arm i holds
    the records whose Knuth-mixed id has bit i set — each arm an
    independent ≈50% sample, every pair of arms ≈25% overlapping, and
    every assignment replayable from the id alone (the epoch_shuffle
    determinism contract applied to ablation bookkeeping). The output
    is the full arm-overlap matrix — diagonal = arm sizes — which is
    what an ablation suite checks to verify its arms are balanced and
    pairwise independent BEFORE burning training runs on them.
    (Balance is approximate: the mixer's modulus 1_000_003 is not a
    power of two, so bit i of the bucket is ~50% ± 2^{i+1}/1e6.)

    Scale shape: one projection explodes each id into its ≤ n_arms set
    bits (linear, constant factor n_arms/2), the membership pairs are
    distinct-ed on (id, arm) BEFORE the self-join (ADVICE r11: without
    it a duplicate id contributes quadratically — twice-appearing doc
    → 4× in every overlap cell; the distinct makes n_docs count
    DISTINCT ids per cell and shares the join's shuffle key), the
    overlap join is co-keyed on the id (never cross-id), and the
    result aggregate is n_arms² rows. n_arms ≤ 16 keeps the constant
    honest.

    Returns (arm_i, arm_j, n_docs) for every set-bit pair per record,
    diagonal included.
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.pipeline import (
        hash_bucket,
    )

    if not 1 <= n_arms <= 16:
        raise ValueError(f"n_arms must be in [1, 16] (got {n_arms})")
    base = df.select(
        F.col(id_col).alias("__id"),
        hash_bucket(id_col, method="knuth").alias("__m"),
    )
    ex = (
        base.select(
            "__id",
            "__m",
            F.explode(F.sequence(F.lit(0), F.lit(n_arms - 1))).alias("i"),
        )
        .filter(F.expr("pmod(shiftright(__m, i), 2) = 1"))
        .select("__id", "i")
        .distinct()
    )
    a = ex.select("__id", F.col("i").alias("arm_i"))
    b = ex.select("__id", F.col("i").alias("arm_j"))
    return (
        a.join(b, "__id")
        .groupBy("arm_i", "arm_j")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            F.col("arm_i").cast("long").alias("arm_i"),
            F.col("arm_j").cast("long").alias("arm_j"),
            "n_docs",
        )
    )


def fim_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic fill-in-the-middle split (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle"):
    each document is cut into (prefix, middle, suffix) at two
    Knuth-mixed character offsets and re-emitted in PSM order
    (prefix ‖ suffix ‖ middle) — the data transform FIM-capable code
    models train on. Sentinel tokens are the tokenizer's concern and
    deliberately not inserted here.

    Cut rule, replayable from the id alone (the span_corruption
    determinism contract): with n = char length, cut a = 1 +
    mix(id) mod max(n−1, 1) starts the middle, and the middle runs
    blen = 1 + mix(id+31) mod max(n−a, 1) chars — so for n ≥ 2 all
    three spans lie in-bounds, prefix may be empty, middle and suffix
    are non-empty, and the three lengths always sum to n (pinned in
    pytest). Both engines use 1-based substr with identical clamp
    semantics, so the emitted strings hash-match exactly.

    Scale shape: a pure per-row projection — zero shuffles, zero
    joins; Catalyst collapses the whole thing into the scan stage.

    Returns (id, n_chars, cut_a, cut_b, prefix, middle, suffix,
    psm_text).
    """
    n = F.length(F.col(text_col))

    def mix(c):
        return F.pmod(
            F.pmod(c, F.lit(1_000_003)) * F.lit(2654435761), F.lit(1_000_003)
        )

    a = (F.lit(1) + F.pmod(mix(F.col(id_col)), F.greatest(n - 1, F.lit(1)))).cast(
        "long"
    )
    blen = (
        F.lit(1) + F.pmod(mix(F.col(id_col) + 31), F.greatest(n - a, F.lit(1)))
    ).cast("long")
    b = (a + blen).cast("long")
    t = F.col(text_col)
    prefix = F.substring(t, F.lit(1), (a - 1).cast("int"))
    middle = F.substring(t, a.cast("int"), blen.cast("int"))
    out = df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        a.alias("cut_a"),
        b.alias("cut_b"),
        prefix.alias("prefix"),
        middle.alias("middle"),
        t.alias("__t"),
        b.alias("__b"),
    )
    return out.select(
        id_col,
        "n_chars",
        "cut_a",
        "cut_b",
        "prefix",
        "middle",
        F.expr("substring(__t, cast(__b as int))").alias("suffix"),
        F.concat(
            F.col("prefix"),
            F.expr("substring(__t, cast(__b as int))"),
            F.col("middle"),
        ).alias("psm_text"),
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a class of k identical quasi-identifiers is
    still a disclosure if all k records share ONE sensitive value
    (the homogeneity attack — "every 35-year-old in 94xxx has the
    same diagnosis"). Each equivalence class must carry at least
    ``l`` DISTINCT sensitive values. Run alongside
    :func:`k_anonymity` before releasing user-derived tables; this is
    the AUDIT (measure + exposure mass), not the suppression
    transform, and it audits distinct-l (the entropy-l variant needs
    per-class entropies — see ``token_entropy`` for the machinery).

    All-integer single row: (l, n_rows, n_classes, min_distinct,
    n_violating_classes, n_violating_rows) — ``min_distinct >= l``
    iff the table is l-diverse; ``n_violating_rows`` is the exposure
    mass sitting in homogeneous classes.

    Scale shape: one partial-agg shuffle to (class, sensitive) cells
    — bounded by the domain product — one class-keyed reduce, one
    1-row reduce. The count-distinct is exact but never global: it
    collapses per class from the already-aggregated cell table.
    """
    if l < 1:
        raise ValueError(f"l must be >= 1 (got {l})")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    cells = df.groupBy(
        *quasi_cols, F.col(sensitive_col).alias("__sv")
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    classes = cells.groupBy(*quasi_cols).agg(
        F.sum("__n").cast("long").alias("__rows"),
        F.count(F.lit(1)).cast("long").alias("__nd"),
    )
    return classes.groupBy().agg(
        F.lit(l).cast("long").alias("l"),
        F.sum("__rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__nd").cast("long").alias("min_distinct"),
        F.sum((F.col("__nd") < l).cast("long")).cast("long").alias(
            "n_violating_classes"
        ),
        F.sum(F.when(F.col("__nd") < l, F.col("__rows")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_violating_rows"),
    )


def mixture_reweight(
    df: DataFrame,
    domain_col: str,
    loss_col: str,
    rounds: int = 4,
    eta_num: int = 1,
    eta_den: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Linearized multiplicative-weights domain reweighting — the
    deterministic core of DoReMi-style mixture optimization (Xie et
    al. 2023, arXiv:2305.10429): domains whose mean excess loss is
    above the current weighted average gain sampling weight, those
    below lose it, for a FIXED number of rounds. The knob a pretraining
    pipeline turns to re-balance web/code/books proportions from
    per-domain proxy losses instead of hand-tuning. DoReMi's
    exponentiated update ``w·exp(eta·excess)`` is linearized to
    ``w·(1 + eta·excess/scale)`` (clamped >= 1) so every round is
    EXACT integer arithmetic — no transcendentals, fully
    oracle-unrollable; for the small per-round steps the linear and
    exponential updates agree to first order (document the
    difference, don't hide it).

    Per round, all in integer micro-units: the weighted mean loss
    ``bar = (Σ w_d·loss_d) DIV (Σ w_d)``; each domain's excess
    ``e_d = loss_d − bar`` (positive = underperforming = upweight);
    ``w'_d = max(max(w_d·(scale·eta_den + eta_num·e_d), w_d·eta_den)
    DIV (scale·eta_den), 1)`` — the inner max keeps the bracket
    positive (a domain loses at most half its weight per round at
    eta <= 1), the outer max is the bradley_terry-style fixpoint
    floor: a weight can decay to 1 but never to 0. Losses are expected
    O(1) (normalize upstream): an excess beyond ±scale·eta_den/eta_num
    saturates at the halving floor rather than erroring, but then the
    update is a step function of sign, not a gradient — the gate
    fixture normalizes to [0, 1) for this reason. Weights are
    relative
    (scale-free); the final row emits them with their micro share of
    the total.

    Scale shape: ONE corpus pass collapses rows to the bounded
    per-domain mean-loss table (losses quantized to micro at
    aggregation); every round after that is arithmetic on |domains|
    rows with a 1-row weighted-mean reduce — 100 TB of documents cost
    one aggregation, the loop never rescans them.

    Returns (domain, n_docs, loss_micro, weight, share_micro).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1 (got {rounds})")
    if eta_num < 0 or eta_den < 1:
        raise ValueError("eta must be a non-negative rational (num>=0, den>=1)")
    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            f"CAST(CAST(SUM(CAST(FLOOR({loss_col} * {scale}) AS DECIMAL(38,0)))"
            f" AS DECIMAL(38,0)) DIV COUNT(*) AS BIGINT)"
        ).alias("loss_micro"),
    ).localCheckpoint(eager=True)
    weights = per.select("domain", F.lit(scale).cast("long").alias("w"))
    denom = scale * eta_den
    for _ in range(rounds):
        j = per.join(weights, "domain")
        bar = j.groupBy().agg(
            F.expr(
                "CAST(SUM(CAST(w AS DECIMAL(38,0)) * loss_micro)"
                " DIV SUM(w) AS BIGINT)"
            ).alias("bar")
        )
        weights = (
            j.crossJoin(F.broadcast(bar))
            .select(
                "domain",
                F.expr(
                    f"CAST(GREATEST(GREATEST(CAST(w AS DECIMAL(38,0))"
                    f" * ({scale}L * {eta_den} + {eta_num} * (loss_micro - bar)),"
                    f" CAST(w AS DECIMAL(38,0)) * {eta_den})"
                    f" DIV {denom}, 1) AS BIGINT)"
                ).alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    tot = weights.groupBy().agg(F.sum("w").cast("long").alias("tw"))
    return (
        per.join(weights, "domain")
        .crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_docs",
            "loss_micro",
            F.col("w").alias("weight"),
            F.expr(
                "CAST(CAST(w AS DECIMAL(38,0)) * 1000000 DIV tw AS BIGINT)"
            ).alias("share_micro"),
        )
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_micro: int = 200_000,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    attack l-diversity misses: a class can carry l distinct sensitive
    values and still leak if its DISTRIBUTION diverges from the
    table's (the skewness attack — "this zip code is 90% one
    diagnosis, the population 1%"). Each equivalence class's sensitive
    distribution must sit within ``t`` of the global one; for
    categorical attributes the distance is total variation,
    ``TVD = (1/2) Σ_v |q_v/q − g_v/G|``. Completes the release
    trilogy: :func:`k_anonymity` (class size), :func:`l_diversity`
    (distinct values), t-closeness (distributional skew).

    EXACT rational form — no per-value float division: with per-class
    cell counts q_cv, class size q_c, global counts g_v, total G,
    ``TVD_c = (Σ_{v in class} |q_cv·G − g_v·q_c|
    + q_c·(G − Σ_{v in class} g_v)) / (2·q_c·G)`` (the absent-value
    term folds into one subtraction), micro-truncated ONCE per class.

    Scale shape: one partial-agg shuffle to (class, value) cells
    (domain-product bounded), one class-keyed reduce for sizes, one
    value-keyed reduce + 1-row total for the global distribution
    (broadcast back), one class-keyed reduce for the TVDs, one 1-row
    audit reduce. No windows, no collect.

    Returns one row (t_micro, n_rows, n_classes, max_tvd_micro,
    n_violating_classes, n_violating_rows).
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if not 0 <= t_micro <= 1_000_000:
        raise ValueError(f"t_micro must be in [0, 1e6] (got {t_micro})")
    from pyspark.sql import Window

    cells = df.groupBy(
        *quasi_cols, F.col(sensitive_col).alias("__sv")
    ).agg(F.count(F.lit(1)).cast("long").alias("__q"))
    sizes = cells.groupBy(*quasi_cols).agg(
        F.sum("__q").cast("long").alias("__qc")
    )
    # The grand total rides on the global-distribution table as an
    # unpartitioned window SUM — over the DISTINCT-value aggregate
    # (domain-bounded, the conformal/wilcoxon precedent), never rows; a
    # separate 1-row crossJoin of an ancestor aggregate trips Spark 4's
    # self-join attribute dedup. Names are case-DISTINCT on purpose:
    # Spark resolves case-insensitively, so __g/__G would collide.
    glob = cells.groupBy("__sv").agg(
        F.sum("__q").cast("long").alias("__gv")
    ).withColumn(
        "__gt",
        F.sum("__gv").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long"),
    )
    joined = cells.join(sizes, quasi_cols).join(glob, "__sv")
    # agg outputs get FRESH names: re-aliasing an aggregate back to a
    # child name inside the same agg trips the lateral-alias check
    per_class = joined.groupBy(*quasi_cols).agg(
        F.max("__qc").cast("long").alias("__qc2"),
        F.max("__gt").cast("long").alias("__gt2"),
        F.sum(
            F.abs(
                F.col("__q").cast("decimal(38,0)") * F.col("__gt")
                - F.col("__gv").cast("decimal(38,0)") * F.col("__qc")
            )
        ).alias("__present"),
        F.sum("__gv").cast("long").alias("__gv_present"),
    )
    tvd = per_class.select(
        F.col("__qc2").alias("__qc"),
        F.expr(
            "CAST((__present + CAST(__qc2 AS DECIMAL(38,0))"
            " * (__gt2 - __gv_present)) * 1000000"
            " DIV (2 * CAST(__qc2 AS DECIMAL(38,0)) * __gt2) AS BIGINT)"
        ).alias("__tvd"),
    )
    return tvd.groupBy().agg(
        F.max(F.lit(t_micro)).cast("long").alias("t_micro"),
        F.sum("__qc").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.max("__tvd").cast("long").alias("max_tvd_micro"),
        F.sum((F.col("__tvd") > t_micro).cast("long")).cast("long").alias(
            "n_violating_classes"
        ),
        F.sum(
            F.when(F.col("__tvd") > t_micro, F.col("__qc")).otherwise(F.lit(0))
        ).cast("long").alias("n_violating_rows"),
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    n_total: int,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934) — how
    many samples to draw per stratum to minimize the estimator's
    variance under a fixed budget: ``n_h = n · N_h·σ_h / Σ N_h·σ_h``
    (big AND internally-variable strata earn more samples than big
    uniform ones — the statistically-correct version of the
    proportional split a naive pipeline uses).

    Determinism: per-stratum Σx/Σx² are exact DECIMAL sums; the
    unbiased stddev ``√((n·Σx² − (Σx)²)/(n·(n−1)))`` is ONE fixed
    double expression per stratum floored to micro AT BIRTH, so the
    allocation weights ``N_h·σ_micro,h`` are exact integers, their
    total is an exact integer sum (no float accumulation across
    strata), and each allocation is one truncating integer DIV.
    Single-row strata get σ = 0 (no within-variance evidence) and
    thus 0 allocation.

    Budget exactness (ADVICE r13): the truncating per-stratum DIV
    leaves up to n_strata−1 samples unassigned; the leftover is
    redistributed by LARGEST REMAINDER (Hamilton's method) — strata
    ranked by the exact integer remainder ``(n·w_h) mod Σw``
    descending, ties by stratum ascending, each of the first L taking
    +1 — so ``Σ alloc = n_total`` exactly whenever Σ N_h·σ_h > 0
    (all-zero-variance input keeps the NULL-allocation convention:
    Neyman weights carry no evidence). A zero-remainder stratum never
    receives a +1 (L·Σw = Σ remainders and each remainder < Σw, so
    L ≤ #nonzero remainders).

    Scale shape: one stratum-keyed partial-agg shuffle, two 1-row
    scalar broadcasts, and one rank window over the (bounded,
    stratum-domain-sized) stats table. The data is scanned once.

    Returns (stratum, n_rows, sigma_micro, alloc) per stratum.
    """
    from pyspark.sql import Window

    if n_total < 1:
        raise ValueError(f"n_total must be >= 1 (got {n_total})")
    x = F.col(value_col).cast("decimal(38,6)")
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sx2"),
    )
    per = per.withColumn(
        "sigma_micro",
        F.expr(
            """CASE WHEN n_rows < 2 THEN CAST(0 AS BIGINT)
               ELSE CAST(FLOOR(SQRT(
                 CAST(n_rows * sx2 - sx * sx AS DOUBLE)
                 / (CAST(n_rows AS DOUBLE) * (n_rows - 1))
               ) * 1000000) AS BIGINT) END"""
        ),
    ).withColumn(
        "__w", F.expr("CAST(n_rows AS DECIMAL(38,0)) * sigma_micro")
    )
    tot = per.groupBy().agg(F.sum("__w").alias("__tw"))
    base = (
        per.join(F.broadcast(tot))
        .withColumn(
            "__fl",
            F.expr(
                f"CAST(CAST({n_total} AS DECIMAL(38,0)) * __w"
                " DIV NULLIF(__tw, 0) AS BIGINT)"
            ),
        )
        .withColumn(
            "__rem",
            F.expr(
                f"CAST(CAST({n_total} AS DECIMAL(38,0)) * __w"
                " % NULLIF(__tw, 0) AS DECIMAL(38,0))"
            ),
        )
    )
    used = base.groupBy().agg(F.sum("__fl").cast("long").alias("__used"))
    wrank = Window.orderBy(F.col("__rem").desc(), F.col("stratum"))
    return (
        base.join(F.broadcast(used))
        .withColumn("__rk", F.row_number().over(wrank).cast("long"))
        .select(
            "stratum",
            "n_rows",
            "sigma_micro",
            (
                F.col("__fl")
                + F.when(
                    F.col("__rk") <= F.lit(n_total) - F.col("__used"), F.lit(1)
                ).otherwise(F.lit(0))
            ).cast("long").alias("alloc"),
        )
    )


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon_micro: int = 1_000_000,
    sensitivity: int = 1,
    seed: int = 0,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Laplace-mechanism count release per group (Dwork et al. 2006) —
    the differential-privacy publication step after the
    k_anonymity / l_diversity / t_closeness audit trilogy: each
    group's count is released as ``n + Lap(sensitivity/epsilon)``.

    Noise derivation: a per-group uniform u ∈ (−1, 1) comes from a
    seeded hash of the group key (``xxhash64`` in production; the
    engine-portable md5-prefix family for oracle replay — the
    minhash_lsh_candidates precedent), then the Laplace inverse CDF
    ``noise = −b·sign(u)·ln(1 − |u|)`` with b = sensitivity/epsilon.
    u is an exact rational (hash % 1999999 mapped to ±0.999999), the
    ln is ONE fixed double expression floored to micro at birth, and
    the release is integer micro arithmetic.

    SECURITY NOTE (documented, deliberate): hash-seeded noise makes
    the release REPRODUCIBLE — what a test/oracle gate needs, and what
    real DP forbids (an adversary knowing the seed removes the noise).
    Production must supply a fresh random seed per release and treat
    the seed as a secret; the mechanism, sensitivity accounting, and
    scale shape are what this operator contributes.

    Scale shape: one group-keyed partial-agg shuffle, a pure
    projection for the noise. Returns (group, released_micro,
    epsilon_micro, sensitivity).
    """
    if epsilon_micro <= 0:
        raise ValueError(f"epsilon_micro must be > 0 (got {epsilon_micro})")
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    b = float(sensitivity) * 1_000_000.0 / float(epsilon_micro)
    noisy = _with_seeded_laplace(per, seed, b, hash_family)
    return noisy.select(
        "group",
        (F.col("__n") * F.lit(1_000_000) + F.col("__noise")).cast("long").alias(
            "released_micro"
        ),
        F.lit(int(epsilon_micro)).cast("long").alias("epsilon_micro"),
        F.lit(int(sensitivity)).cast("long").alias("sensitivity"),
    )


def _with_seeded_laplace(
    per: DataFrame, seed: int, b: float, hash_family: str
) -> DataFrame:
    """Attach a ``__noise`` micro column — Lap(b) via the inverse CDF
    over a seeded per-group hash uniform (see dp_noisy_counts' security
    note: reproducible on purpose for gates; production supplies a
    secret random seed). ``per`` must carry a ``group`` column."""
    gs = "CAST(group AS STRING)"
    if hash_family == "xxhash64":
        h = f"pmod(xxhash64(concat({gs}, ':', '{int(seed)}')), 1999999)"
    elif hash_family == "md5":
        h = (
            f"pmod(cast(conv(substring(md5(concat({gs}, ':', '{int(seed)}')),"
            f" 1, 15), 16, 10) as bigint), 1999999)"
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r} (xxhash64|md5)")
    return per.withColumn(
        "__u", F.expr(f"({h} + 1 - 1000000) / 1000000.0")
    ).withColumn(
        "__noise",
        F.expr(
            f"CAST(FLOOR(-({b!r}) * SIGN(__u) * LN(1.0 - ABS(__u))"
            " * 1000000) AS BIGINT)"
        ),
    )


def dp_noisy_sum(
    df: DataFrame,
    group_col: str,
    value_col: str,
    clip: int,
    epsilon_micro: int = 1_000_000,
    seed: int = 0,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Laplace-mechanism CLIPPED-SUM release per group — the metric
    companion to :func:`dp_noisy_counts` (counts bound sensitivity for
    free; sums must CLIP each contribution to a bound C first, which
    is where real DP releases win or lose utility):

        release = Σ min(max(y, 0), C) + Lap(C/ε)

    The clip is applied per row BEFORE aggregation (exact integers);
    the clipped total's sensitivity is exactly C, so the noise scale
    is C/ε. Same seeded inverse-CDF noise machinery and SECURITY NOTE
    as dp_noisy_counts (reproducible for gates; production seeds must
    be secret and fresh). Emitting n alongside would spend extra
    budget — deliberately NOT returned.

    Scale shape: one projection (clip) + one group-keyed partial-agg
    shuffle + the per-group noise projection. Returns
    (group, released_micro, epsilon_micro, clip).
    """
    if epsilon_micro <= 0:
        raise ValueError(f"epsilon_micro must be > 0 (got {epsilon_micro})")
    if clip <= 0:
        raise ValueError(f"clip must be > 0 (got {clip})")
    y = F.col(value_col).cast("long")
    clipped = F.least(F.greatest(y, F.lit(0)), F.lit(int(clip)))
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.sum(clipped).cast("long").alias("__s")
    )
    b = float(clip) * 1_000_000.0 / float(epsilon_micro)
    noisy = _with_seeded_laplace(per, seed, b, hash_family)
    return noisy.select(
        "group",
        (F.col("__s") * F.lit(1_000_000) + F.col("__noise")).cast("long").alias(
            "released_micro"
        ),
        F.lit(int(epsilon_micro)).cast("long").alias("epsilon_micro"),
        F.lit(int(clip)).cast("long").alias("clip"),
    )


def dp_noisy_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    clip: int,
    epsilon_micro: int = 1_000_000,
    sum_share_micro: int = 500_000,
    seed: int = 0,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Laplace-mechanism MEAN release per group with an explicit
    basic-composition epsilon ledger (VERDICT r13 #7) — the natural
    closer of the DP release trio: a private mean is a private clipped
    sum divided by a private count, each noised from its OWN slice of
    the budget, and by basic composition (Dwork et al. 2006, seq.
    composition theorem) the release costs exactly
    ``ε_total = ε_sum + ε_count``.

    Budget split: ``ε_sum = (ε_total · sum_share) DIV 1e6`` (integer
    micro), ``ε_count = ε_total − ε_sum`` — the ledger columns in the
    output ARE the accounting (they sum to epsilon_micro by
    construction, auditable downstream). Each row's contribution is
    clipped to [0, C] before summing, so the sum's sensitivity is
    exactly C and the count's is 1; the two Laplace draws use
    DISJOINT seed tags (``seed`` and ``seed + 1000003``) so they are
    independent under the hash family.

    The released mean is ONE double division of the two released
    integers, micro-floored (identically replayed by the oracle);
    NULL when the noisy count is ≤ 0 (possible at tiny ε — the honest
    answer, not a clamp). Same seeded inverse-CDF machinery and
    SECURITY NOTE as dp_noisy_counts (reproducible for gates;
    production seeds must be secret and fresh).

    Scale shape: one projection (clip) + one group-keyed partial-agg
    shuffle + two per-group noise projections. Returns (group,
    released_sum_micro, released_count_micro, mean_micro,
    epsilon_sum_micro, epsilon_count_micro, epsilon_total_micro,
    clip).
    """
    if epsilon_micro <= 0:
        raise ValueError(f"epsilon_micro must be > 0 (got {epsilon_micro})")
    if clip <= 0:
        raise ValueError(f"clip must be > 0 (got {clip})")
    if not (0 < sum_share_micro < 1_000_000):
        raise ValueError(
            f"sum_share_micro must be in (0, 1e6) (got {sum_share_micro})"
        )
    eps_sum = (int(epsilon_micro) * int(sum_share_micro)) // 1_000_000
    eps_cnt = int(epsilon_micro) - eps_sum
    if eps_sum <= 0 or eps_cnt <= 0:
        raise ValueError("budget split leaves a zero-epsilon slice")
    y = F.col(value_col).cast("long")
    clipped = F.least(F.greatest(y, F.lit(0)), F.lit(int(clip)))
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.sum(clipped).cast("long").alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    b_sum = float(clip) * 1_000_000.0 / float(eps_sum)
    b_cnt = 1_000_000.0 / float(eps_cnt)
    noisy = (
        _with_seeded_laplace(per, seed, b_sum, hash_family)
        .withColumnRenamed("__noise", "__noise_s")
        .drop("__u")
    )
    noisy = _with_seeded_laplace(noisy, seed + 1_000_003, b_cnt, hash_family)
    rs = (F.col("__s") * F.lit(1_000_000) + F.col("__noise_s")).cast("long")
    rc = (F.col("__n") * F.lit(1_000_000) + F.col("__noise")).cast("long")
    staged = noisy.select(
        "group", rs.alias("released_sum_micro"), rc.alias("released_count_micro")
    )
    return staged.select(
        "group",
        "released_sum_micro",
        "released_count_micro",
        F.expr(
            """CASE WHEN released_count_micro <= 0 THEN NULL
               ELSE CAST(FLOOR(CAST(released_sum_micro AS DOUBLE)
                 / CAST(released_count_micro AS DOUBLE)
                 * 1000000) AS BIGINT) END"""
        ).alias("mean_micro"),
        F.lit(eps_sum).cast("long").alias("epsilon_sum_micro"),
        F.lit(eps_cnt).cast("long").alias("epsilon_count_micro"),
        F.lit(int(epsilon_micro)).cast("long").alias("epsilon_total_micro"),
        F.lit(int(clip)).cast("long").alias("clip"),
    )


def dp_exponential_quantile(
    df: DataFrame,
    value_col: str,
    q_micro: int = 500_000,
    epsilon_micro: int = 1_000_000,
    seed: int = 0,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Exponential-mechanism quantile release (McSherry & Talwar 2007)
    — the NON-numeric DP release completing the Laplace family
    (dp_noisy_counts/sum/mean add noise to a number; a median must
    instead SELECT a value, which is exactly what the exponential
    mechanism does): each candidate value v is scored by utility
    u(v) = -|cum(v) - r| (how far its rank sits from the target rank
    r = q·n), and one candidate is drawn with P(v) ∝ exp(ε·u/2)
    via the Gumbel-max trick — argmax over score + Gumbel noise,
    which turns the whole release into ONE deterministic max_by over
    the DISTINCT-VALUE aggregate (the ks_drift shape; candidate set =
    observed distinct values, documented; rank sensitivity Δu = 1).

    Noise derivation (the dp_noisy_counts discipline): per-candidate
    uniform from a seeded hash of the value, g = -ln(-ln(u)); the
    same SECURITY NOTE applies — hash-seeded noise is reproducible BY
    DESIGN for the oracle gate; production must supply a fresh secret
    seed per release.

    Scale shape: one partial-agg shuffle to value counts, a cumsum
    over the value domain, one argmax — no row-level pass after the
    aggregate.  Returns one row
    (n, q_micro, epsilon_micro, released_v, true_v).
    """
    if not 0 < q_micro < 1_000_000:
        raise ValueError(f"q_micro must be in (0, 1e6) (got {q_micro})")
    if epsilon_micro <= 0:
        raise ValueError(f"epsilon_micro must be > 0 (got {epsilon_micro})")
    v = F.col(value_col).cast("long")
    vc = df.filter(v.isNotNull()).groupBy(v.alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vc.select(
        "v",
        F.sum("c").over(w).cast("long").alias("cum"),
        F.sum("c").over(wt).cast("long").alias("n"),
    ).withColumn(
        "r", F.expr(f"GREATEST(CAST(n AS DECIMAL(38,0)) * {int(q_micro)} DIV 1000000, 1)")
    )
    vs = "CAST(v AS STRING)"
    if hash_family == "xxhash64":
        h = f"pmod(xxhash64(concat({vs}, ':', '{int(seed)}')), 1999999)"
    elif hash_family == "md5":
        h = (
            f"pmod(cast(conv(substring(md5(concat({vs}, ':', '{int(seed)}')),"
            f" 1, 15), 16, 10) as bigint), 1999999)"
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r} (xxhash64|md5)")
    eps = float(epsilon_micro) / 1_000_000.0
    scored = cum.withColumn(
        "__score",
        # CAST AS DOUBLE: a bare float repr literal is DECIMAL in
        # Spark (scale-rounded ops) but DOUBLE in DuckDB
        F.expr(
            f"-CAST({eps!r} AS DOUBLE) * ABS(cum - r) / 2.0"
            f" - LN(-LN(({h} + 1) / 2000000.0))"
        ),
    )
    return scored.groupBy().agg(
        F.max("n").alias("n"),
        F.lit(int(q_micro)).cast("long").alias("q_micro"),
        F.lit(int(epsilon_micro)).cast("long").alias("epsilon_micro"),
        F.expr("max_by(v, struct(__score, v))").alias("released_v"),
        F.min(F.when(F.col("cum") >= F.col("r"), F.col("v"))).alias("true_v"),
    )


def dp_above_threshold(
    df: DataFrame,
    group_col: str,
    threshold: int,
    max_releases: int = 3,
    epsilon_micro: int = 1_000_000,
    seed: int = 0,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Sparse Vector Technique (AboveThreshold, Dwork & Roth 2014
    §3.6): scan a sequence of count queries and RELEASE only the
    indices whose noisy count clears a noisy threshold, stopping after
    ``max_releases`` positives — the DP primitive whose cost scales
    with the number of POSITIVE answers, not the number of questions
    (the reason monitoring dashboards can afford hundreds of "is this
    slice anomalous?" probes under one small budget).  Budget split
    (documented, the standard composition): epsilon/2 on the
    threshold draw, epsilon/(4·max_releases) on each count draw.

    Determinism (the dp_noisy_counts discipline): both Laplace draws
    are seeded-hash inverse-CDF (threshold noise from the literal tag
    ``'T'``, count noise from the group key; disjoint tags), so the
    whole release — including the STOP position — is bit-for-bit
    oracle-replayable; the SECURITY NOTE applies: production supplies
    a fresh secret seed.  The scan order is the group-key order
    (deterministic by construction); the stop is a cumulative-count
    window over the ALREADY-AGGREGATED k-row query table, never rows.

    Returns the ANSWERED prefix: (group, n, released) — groups after
    the ``max_releases``-th positive are unanswered (absent), exactly
    as the mechanism must refuse them.
    """
    if epsilon_micro <= 0:
        raise ValueError(f"epsilon_micro must be > 0 (got {epsilon_micro})")
    if max_releases < 1:
        raise ValueError(f"max_releases must be >= 1 (got {max_releases})")
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    b_thr = 2.0 * 1_000_000.0 / float(epsilon_micro)
    b_cnt = 4.0 * float(max_releases) * 1_000_000.0 / float(epsilon_micro)

    def lap(tag_expr: str, b: float) -> str:
        if hash_family == "xxhash64":
            h = f"pmod(xxhash64(concat({tag_expr}, ':', '{int(seed)}')), 1999999)"
        elif hash_family == "md5":
            h = (
                f"pmod(cast(conv(substring(md5(concat({tag_expr}, ':',"
                f" '{int(seed)}')), 1, 15), 16, 10) as bigint), 1999999)"
            )
        else:
            raise ValueError(
                f"unknown hash_family {hash_family!r} (xxhash64|md5)"
            )
        u = f"(({h} + 1 - 1000000) / 1000000.0)"
        return (
            f"CAST(FLOOR(-CAST({b!r} AS DOUBLE) * SIGN({u})"
            f" * LN(1.0 - ABS({u})) * 1000000) AS BIGINT)"
        )

    noisy = per.withColumn(
        "__thr_micro",
        F.expr(f"{int(threshold)} * 1000000 + {lap(chr(39) + 'T' + chr(39), b_thr)}"),
    ).withColumn(
        "__cnt_micro",
        F.expr(f"n * 1000000 + {lap('CAST(group AS STRING)', b_cnt)}"),
    ).withColumn(
        "__pos", (F.col("__cnt_micro") >= F.col("__thr_micro")).cast("long")
    )
    w = Window.orderBy("group").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scanned = noisy.withColumn(
        "__cum_pos", F.sum("__pos").over(w).cast("long")
    )
    return scanned.filter(
        (F.col("__cum_pos") - F.col("__pos")) < F.lit(int(max_releases))
    ).select(
        "group",
        "n",
        (F.col("__pos") == 1).alias("released"),
    )
