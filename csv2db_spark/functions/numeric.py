"""Exact-decimal aggregation helpers.

Why: double-precision sums are order-dependent; Spark (partial/merge over
32+ partitions, AQE re-plans) and a single-threaded oracle will not produce
bitwise-equal doubles on large inputs. Routing aggregation through DECIMAL
makes the arithmetic exact and order-independent on BOTH engines; the final
``cast(double)`` of the identical exact value is IEEE round-to-nearest →
identical bits, at any scale factor and any partitioning. No post-hoc
rounding is applied (rounding an inexact double near a boundary is exactly
the instability this avoids).

Precision discipline: casts are as narrow as the data needs (e.g. money →
decimal(12,2), rates → decimal(4,2)) so that chained products stay under
the 38-digit cap on both engines without silent scale reduction.

The identical recipe is written into each oracle SQL string via the
``sql_*`` builders, e.g. ``cast(sum(cast(x as decimal(12,2))) as double)``.

Cost: decimal aggregation stays inside whole-stage codegen on the JVM with
map-side partial aggregation — negligible vs the shuffle it rides on.

Reference parity note: and-hom/csv2db has no aggregation at all
(SURVEY.md §2.2) — this module underpins the analytics extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, prec: int = 18, scale: int = 2) -> Column:
    """Cast a fixed-point-valued double column to an exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def money(col: Column | str) -> Column:
    """Money-like column (< 1e10, two decimals)."""
    return dec(col, 12, 2)


def rate(col: Column | str) -> Column:
    """Small ratio column (discount/tax: < 100, two decimals)."""
    return dec(col, 4, 2)


def dsum(col: Column | str, prec: int = 18, scale: int = 2) -> Column:
    """Order-independent exact sum, presented as double."""
    return F.sum(dec(col, prec, scale)).cast("double")


def davg(col: Column | str, prec: int = 18, scale: int = 2) -> Column:
    """Exact decimal sum divided by count — one IEEE division of identical
    operands on both engines → identical double."""
    return F.sum(dec(col, prec, scale)).cast("double") / F.count(F.lit(1))


# --- SQL snippet builders so oracle strings use the identical recipe ---


def sql_dec(expr: str, prec: int = 18, scale: int = 2) -> str:
    return f"cast({expr} as decimal({prec},{scale}))"


def sql_money(expr: str) -> str:
    return sql_dec(expr, 12, 2)


def sql_rate(expr: str) -> str:
    return sql_dec(expr, 4, 2)


def sql_dsum(expr: str, prec: int = 18, scale: int = 2) -> str:
    return f"cast(sum(cast({expr} as decimal({prec},{scale}))) as double)"


def sql_davg(expr: str, prec: int = 18, scale: int = 2) -> str:
    return f"(cast(sum(cast({expr} as decimal({prec},{scale}))) as double) / count(*))"
