"""Generic readers and sinks.

Covers the reference's sinks (SURVEY.md §2.6): K1 is the single-file CSV
write with header + overwrite the reference uses for its client bridge
(reference README.md:95,217 — ``coalesce(1).write.mode("overwrite")
.csv(path, header=True)``), here written as ``repartition(1)`` so the plan
upstream of the one output file keeps its parallelism (see
``write_single_csv``); K2's read-back becomes a plain header/schema CSV
reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


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
