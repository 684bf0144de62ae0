"""Data-layout keys: Morton (Z-order) interleaving for multi-column
data skipping.

Sorting a table by the interleaved bits of two filter columns clusters
rows so that BOTH columns' parquet min/max row-group stats stay tight —
a range filter on either column then skips most row groups, where a
plain lexicographic sort only helps its leading column. This is the
layout story behind Delta/Iceberg ``OPTIMIZE ZORDER BY``; here it is a
pure Catalyst bit-arithmetic expression (codegen'd, shuffle-free) to
sort or range-partition a write by.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Parallel-bit-spread magic masks: 16 input bits -> even bit positions of
# a 32-bit lane (the classic "interleave by magic numbers" sequence).
_SPREAD = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def spread_bits16(col: Column | str) -> Column:
    """Spread the low 16 bits of a non-negative integer into the even bit
    positions of a 32-bit lane (b_i moves to position 2i). Pure shifts
    and masks — identical semantics in any engine with 64-bit integer
    ops, so the oracle reproduces it bit-for-bit."""
    x = _col(col).cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key2(a: Column | str, b: Column | str) -> Column:
    """Morton key of two 16-bit-quantized columns: interleave a's bits
    into even positions and b's into odd. Callers quantize first
    (``pmod(col, 65536)`` or a rank bucket) — quantization choice is the
    caller's skew lever."""
    return spread_bits16(a).bitwiseOR(F.shiftleft(spread_bits16(b), 1))


def spread_bits16_sql(expr: str) -> str:
    """SQL-text twin of ``spread_bits16`` (ANSI bit ops, DuckDB/Spark
    compatible)."""
    x = f"(CAST({expr} AS BIGINT) & 65535)"
    for shift, mask in _SPREAD:
        x = f"(({x} | ({x} << {shift})) & {mask})"
    return x


def zorder_key2_sql(a: str, b: str) -> str:
    """SQL-text twin of ``zorder_key2``."""
    return f"({spread_bits16_sql(a)} | ({spread_bits16_sql(b)} << 1))"


def _hilbert_level_sql(x: str, y: str, d: str, s: int) -> tuple[str, str, str]:
    """One xy2d Hilbert level as engine-portable SQL texts
    (new_x, new_y, new_d) over column names — the classic iterative
    quadrant walk (rx/ry from bit s, Gray-coded quadrant index, then
    the conditional reflect+swap rotation), with the quadrant XOR
    rewritten arithmetically (3*rx + ry - 2*rx*ry) because ``^`` is
    exponentiation, not xor, on some engines."""
    rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
    nd = (
        f"({d} + CAST({s * s} AS BIGINT)"
        f" * (3 * {rx} + {ry} - 2 * {rx} * {ry}))"
    )
    nx = (
        f"(CASE WHEN {ry} = 0 THEN"
        f" (CASE WHEN {rx} = 1 THEN {s} - 1 - {y} ELSE {y} END)"
        f" ELSE {x} END)"
    )
    ny = (
        f"(CASE WHEN {ry} = 0 THEN"
        f" (CASE WHEN {rx} = 1 THEN {s} - 1 - {x} ELSE {x} END)"
        f" ELSE {y} END)"
    )
    return nx, ny, nd


def hilbert_key2(df, a: Column | str, b: Column | str, out: str = "hkey",
                 bits: int = 16):
    """Hilbert-curve clustering key of two ``bits``-bit-quantized
    columns — the locality upgrade of :func:`zorder_key2`: the Hilbert
    curve never takes the long diagonal jumps Morton order does, so
    consecutive keys are always ADJACENT cells and range filters on
    either column touch strictly fewer parquet row groups at the same
    quantization (the measured win behind Databricks' liquid
    clustering and Iceberg's hilbert option).

    Pure unrolled bit arithmetic: ``bits`` chained projections of
    shifts/masks/CASE — codegen'd, shuffle-free, bit-for-bit
    reproducible on any engine via the shared per-level SQL text
    (:func:`hilbert_key2_sql`).  Callers quantize inputs to
    [0, 2^bits) first (the zorder contract).
    """
    xc, yc, dc = "__hx", "__hy", "__hd"
    staged = df.withColumn(
        xc, _col(a).cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    ).withColumn(
        yc, _col(b).cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    ).withColumn(dc, F.lit(0).cast("long"))
    s = 1 << (bits - 1)
    while s > 0:
        nx, ny, nd = _hilbert_level_sql(xc, yc, dc, s)
        staged = (
            staged.withColumn("__nx", F.expr(nx))
            .withColumn("__ny", F.expr(ny))
            .withColumn(dc, F.expr(nd))
            .withColumn(xc, F.col("__nx"))
            .withColumn(yc, F.col("__ny"))
            .drop("__nx", "__ny")
        )
        s //= 2
    return staged.withColumn(out, F.col(dc)).drop(xc, yc, dc)


def hilbert_key2_sql(a: str, b: str, carry: list[str], source: str,
                     out: str = "hkey", bits: int = 16) -> str:
    """SQL-text twin of :func:`hilbert_key2`: nested single-level
    SELECTs over ``source`` (a table name or parenthesized subquery),
    carrying ``carry`` columns through, emitting ``out``."""
    cols = ", ".join(carry)
    mask = (1 << bits) - 1
    q = (
        f"SELECT {cols}, (CAST({a} AS BIGINT) & {mask}) AS __hx,"
        f" (CAST({b} AS BIGINT) & {mask}) AS __hy,"
        f" CAST(0 AS BIGINT) AS __hd FROM {source}"
    )
    s = 1 << (bits - 1)
    while s > 0:
        nx, ny, nd = _hilbert_level_sql("__hx", "__hy", "__hd", s)
        q = (
            f"SELECT {cols}, {nx} AS __hx, {ny} AS __hy, {nd} AS __hd"
            f" FROM ({q})"
        )
        s //= 2
    return f"SELECT {cols}, __hd AS {out} FROM ({q})"
