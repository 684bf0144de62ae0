"""Catalog over the driver-generated TPC-H-ish fixtures (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (session-id, sf_dir, table) -> DataFrame. A DataFrame is just a lazy
# plan, so reusing it skips the repeated footer/schema read that
# spark.read.parquet performs (~0.5 s per call on this fixture set) while
# every action still runs a fresh pushdown-capable FileScan.
_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain ``spark.read.parquet`` so Catalyst
    sees a pushdown-capable FileScan (ReadSchema/PushedFilters)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    key = (id(spark), sf_dir, name)
    cached = _CACHE.get(key)
    if cached is not None:
        return cached
    df = _read_table(spark, sf_dir, name)
    _CACHE[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The fixture's timestamp columns carry no isAdjustedToUTC annotation,
    # which Spark >= 3.4 infers as TIMESTAMP_NTZ by default. The engine's
    # time operators (unix_timestamp/unix_micros epoch math, range frames,
    # sessionization gaps) are written against the classic LTZ type, so pin
    # inference to LTZ at read time — unlike a per-column cast this keeps
    # parquet predicate pushdown on timestamp filters intact.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # LTZ is session-tz-sensitive; pin UTC so results are identical
    # regardless of the host session's zone (and match the naive-timestamp
    # DuckDB oracle wall-clock for wall-clock).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Older fixture generations stored ts as TIMESTAMP(NANOS), which
        # Spark's parquet reader rejects; read it as int64 ns (legacy conf)
        # and floor to microseconds — the DuckDB oracle mirrors this exact
        # floor with make_timestamp(epoch_ns(ts)//1000).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
