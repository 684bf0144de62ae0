"""Generic readers and sinks.

Covers the reference's sinks (SURVEY.md §2.6): K1 is the single-file CSV
write with header + overwrite the reference uses for its client bridge
(reference README.md:95,217 — ``coalesce(1).write.mode("overwrite")
.csv(path, header=True)``), here written as ``repartition(1)`` so the plan
upstream of the one output file keeps its parallelism (see
``write_single_csv``); K2's read-back becomes a plain header/schema CSV
reader. ``read_binary_files`` is the modern ingest path for opaque
media blobs (SURVEY.md §2.1 S2): at scale the bytes live on blob storage
and are read directly, not unpickled on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV reader; pass an explicit schema in production paths —
    ``inferSchema`` triggers an extra full scan of the input."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON-lines reader (one object per line — the interchange format of
    LLM corpora). Pass an explicit schema in production: schema inference
    is a full extra scan, and a declared schema lets the scan prune
    unreferenced JSON fields instead of parsing whole objects.

    A web-scale dump ALWAYS contains malformed lines; pass
    ``corrupt_col`` to keep them instead of failing or silently
    nulling: parsed rows get NULL there, broken lines land verbatim in
    that column (PERMISSIVE mode) so the pipeline can route them to a
    quarantine sink and account for every input byte. Requires an
    explicit ``schema`` (Spark drops the corrupt column during
    inference); the column is appended to it automatically.
    """
    reader = spark.read
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema")
        if isinstance(schema, str):
            schema = f"{schema}, {corrupt_col} string"
        else:
            from pyspark.sql.types import StringType

            schema = schema.add(corrupt_col, StringType())
        reader = (
            reader.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
        )
    elif schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = "gzip",
) -> None:
    """JSON-lines sink, gzip by default (splittability doesn't matter on
    write; readers list many files). Partitioning columns become
    directories, same layout contract as ``write_parquet``."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader — same predicate-pushdown / column-pruning contract as
    parquet (both are columnar with min/max stats; Spark's ORC source
    supports PushedFilters identically)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink (built-in columnar alternative for Hive-adjacent stacks);
    partitioning columns become directories, same layout contract as
    ``write_parquet``."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_zordered(
    df: DataFrame,
    path: str,
    zcol_a: str,
    zcol_b: str,
    mode: str = "overwrite",
    n_files: int | None = None,
) -> None:
    """Write parquet clustered by the Morton key of two filter columns
    (``functions.layout.zorder_key2``): repartitionByRange on the key
    (range exchange via sampled bounds — balanced output files even with
    skewed keys) then sortWithinPartitions, so every row group's min/max
    stats are tight on BOTH columns and a range filter on either skips
    most row groups at scan time."""
    from hdinsight_pyspark_cntk_integration_spark.functions.layout import zorder_key2
    from pyspark.sql import functions as F

    key = zorder_key2(F.pmod(F.col(zcol_a), F.lit(65536)), F.pmod(F.col(zcol_b), F.lit(65536)))
    out = df.withColumn("__zkey", key)
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        out.repartitionByRange(n, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Distributed binary ingest: (path, modificationTime, length, content).

    Replacement for the reference's driver-side tar+pickle load
    (reference README.md:69-70): content is an opaque ``binary`` column
    decoded downstream by a mapInPandas UDF (operators.multimodal).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    key: str | list[str],
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table.

    THE pre-shuffle for repeated fact-fact joins at warehouse scale: two
    tables bucketed on the same key with the same bucket count join with
    ZERO exchanges (and, if sorted, zero sorts) — the shuffle is paid
    once at write time instead of per query. See
    tests/test_io_streaming_extra.py::test_bucketed_join_no_shuffle for
    the plan-level proof.
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a managed (e.g. bucketed) table registered in the metastore."""
    return spark.table(table)


def write_single_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K1: deliberate single-file CSV write with a header (reference
    README.md:95,217).

    One output file for a client to read back is an explicit user
    intent, not a scale path; for large results use ``write_parquet``
    with natural parallelism. The reference writes ``coalesce(1)``, but a
    coalesce adds no shuffle boundary, so Spark collapses the WHOLE
    upstream plan (scan, Python scoring, everything) into one task on one
    core. ``repartition(1)`` — the fix Spark's ``coalesce`` docstring
    recommends for a drastic coalesce — puts an ``Exchange
    SinglePartition`` in between: the upstream stage keeps one task per
    input split, and only the final rows (for scoring: the narrow
    predictions) cross the exchange to the single writer task.
    """
    df.repartition(1).write.mode(mode).option("header", True).csv(path)


def observed_write(
    df: DataFrame,
    metrics: dict[str, "Column"],  # noqa: F821 - Column via pyspark.sql
    path: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> dict[str, object]:
    """Write a frame while collecting aggregate metrics IN the same job
    via Spark's Observation API — row counts, null counts, value bounds
    arrive with the write, no second scan. This is how a 100 TB pipeline
    stage self-reports data-quality counters (rows written, nulls seen,
    max skew key) without doubling its IO.

    ``metrics`` maps metric name -> aggregate Column (e.g.
    ``{"rows": F.count(F.lit(1)), "null_ids": F.sum(F.col("id").isNull()
    .cast("long"))}``). Writes to ``path`` with ``fmt`` (or the noop sink
    when path is None — useful in tests/benchmarks) and returns the
    observed metric values as a plain dict.
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    writer = observed.write.mode(mode)
    if path is None:
        writer.format("noop").save()
    else:
        writer.format(fmt).save(path)
    return dict(obs.get)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> dict[str, int]:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target_file_bytes) files (a streaming sink or a
    high-parallelism job easily leaves thousands of KB-sized files, and
    at 100 TB the per-file open/footer overhead dominates the scan).
    File count comes from the ACTUAL on-disk byte size, not a row-count
    guess; optional ``sort_cols`` re-sorts within output files so
    min/max row-group stats stay tight after compaction. Writes to a
    staging dir then swaps, so a failed compaction never destroys the
    input. Returns {"files_before", "files_after", "bytes"}.
    """
    import math
    import shutil

    src = os.path.abspath(path)
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    staging = src + ".__compact__"
    shutil.rmtree(staging, ignore_errors=True)
    df = spark.read.parquet(src)
    out = df.repartition(n_out)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(staging)
    backup = src + ".__old__"
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(src, backup)
    os.rename(staging, src)
    shutil.rmtree(backup)
    n_new = sum(
        1
        for dp, _, fs in os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    )
    return {"files_before": len(files), "files_after": n_new, "bytes": total}


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving sibling partitions untouched — the incremental
    refresh path for a partitioned corpus (re-ingest one day / one
    source without rewriting or losing the rest). Static overwrite
    (Spark's default) would truncate the whole root first. The session
    conf is flipped to dynamic just for this write and restored after.
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key, "STATIC")
    try:
        spark.conf.set(key, "dynamic")
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(key, saved)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Write a dataset as deterministic training shards: directory per
    ``shard=<hash(id) % n_shards>``, rows inside each file ordered by the
    id hash then id — so every rewrite of the same corpus produces
    byte-stable shards a dataloader can seek into, and
    ``operators.pipeline.shard_manifest`` (same mixer) describes exactly
    what was written.

    One repartition on the shard column (each output directory is
    produced by one task — no thousand-small-files-per-shard problem),
    ``sortWithinPartitions`` for the intra-shard order: no global sort.
    """
    from hdinsight_pyspark_cntk_integration_spark.operators.pipeline import hash_bucket

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    (
        df.withColumn("shard", F.pmod(hash_bucket(id_col), F.lit(n_shards)))
        .repartition(n_shards, "shard")
        .sortWithinPartitions(F.pmod(hash_bucket(id_col), F.lit(n_shards)), hash_bucket(id_col), F.col(id_col))
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
