"""Exact fixed-point money arithmetic on LONG cents.

Money columns in the star schema are 2-decimal values stored as
doubles. Summing them exactly (bit-identical to the DuckDB oracle)
originally used ``decimal(10,2)`` casts, but Spark's decimal SUM
accumulator leaves the long-backed compact path once the sum type
widens past 18 digits and benches ~2-3x slower than primitive math
(measured: q1-shape agg 1.11s decimal vs 0.57s long-cents at sf0.1
on local[32]).

Instead we scale to integer cents — ``round(x * 100)`` is unambiguous
because the doubles are exact 2dp values within 1e-9 of an integer
multiple — sum as LONG (whole-stage-codegen primitive path), and
divide once at the end. The oracle applies the identical transform,
so both engines divide the same exact integer by the same power of
ten: bit-identical doubles.

Overflow envelope (documented, not silent): a 4dp product sum
(price x discount-complement) overflows LONG at 9.2e18 / 1e4 =
9.2e14 currency units **per group** — about a quadrillion dollars —
and a 6dp double-product sum at 9.2e12 per group. Real-world money
aggregates sit far inside that envelope; for synthetic data beyond
it, :func:`decimal_sum` is the decimal path (slower, 38-digit
headroom).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents_expr(col: Column | str, scale: int = 2) -> Column:
    """LONG fixed-point value of a 2dp (or ``scale``-dp) money column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale)).cast("long")


def cents_sql(col: str, scale: int = 2) -> str:
    """DuckDB twin of :func:`cents_expr`."""
    return f"CAST(ROUND({col} * {10**scale}) AS BIGINT)"


def sum_money(expr_cents: Column, scale: int = 2) -> Column:
    """Exact SUM of a fixed-point cents expression, as DOUBLE units.

    The integer sum is exact; the single division by a power of ten is
    performed identically by Spark and DuckDB on the same integer, so
    the resulting double is bit-identical across engines.
    """
    return F.sum(expr_cents) / F.lit(float(10**scale))


def decimal_sum(col: Column, out_alias: str | None = None) -> Column:
    """Escape hatch: exact decimal SUM (38-digit headroom, slow path)."""
    e = F.sum(col.cast("decimal(20,2)")).cast("double")
    return e.alias(out_alias) if out_alias else e
