"""Shared helpers for oracle-matched queries.

Float sums are the one place Spark and DuckDB can legitimately
disagree: double addition is order-dependent and Spark's partial
aggregation order varies with partitioning.  The fix is to make the
reduction exact — cast each value to a fixed-scale DECIMAL *before*
summing (exact, associative, order-insensitive), then emit a rounded
DOUBLE.  Every oracle uses the same ``CAST(SUM(CAST(x AS
DECIMAL(18,s))) AS DOUBLE)`` shape so both engines reduce identical
values.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, scale: int = 4, out: int = 2) -> Column:
    """Order-insensitive sum of a double column, rounded to ``out``.

    Round while still DECIMAL (exact half-away-from-zero in both Spark
    and DuckDB), then cast; rounding a DOUBLE differs between engines
    at representation-boundary half-way points.
    """
    return F.round(
        F.sum(_c(col).cast(f"decimal(18,{scale})")), out
    ).cast("double")


def davg(col: Column | str, scale: int = 4, out: int = 6) -> Column:
    """Order-insensitive average (exact decimal sum / count)."""
    s = F.sum(_c(col).cast(f"decimal(18,{scale})")).cast("double")
    return F.round(s / F.count(F.lit(1)), out)


def sql_dsum(expr: str, scale: int = 4, out: int = 2) -> str:
    return (
        f"CAST(round(SUM(CAST({expr} AS DECIMAL(18,{scale}))), {out})"
        " AS DOUBLE)"
    )


def dround(col: Column | str, out: int = 2, scale: int = 6) -> Column:
    """Engine-stable per-row rounding: double → exact decimal → round."""
    return F.round(_c(col).cast(f"decimal(18,{scale})"), out).cast("double")


def sql_dround(expr: str, out: int = 2, scale: int = 6) -> str:
    return f"CAST(round(CAST({expr} AS DECIMAL(18,{scale})), {out}) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 4, out: int = 6) -> str:
    return (
        f"round(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / count(*), {out})"
    )
