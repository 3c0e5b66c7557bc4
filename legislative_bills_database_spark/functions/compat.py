"""Cross-engine deterministic numeric helpers.

Floating-point aggregates are the #1 source of false oracle mismatches:
``SUM(double)`` depends on accumulation order, which differs between Spark
partitions and DuckDB. The fix is to sum EXACTLY in decimal (deterministic
regardless of order) and only convert to double at the very end — the
decimal→double conversion is a single IEEE-754 rounding, identical in both
engines. Use ``exact_sum``/``exact_avg`` in every value-hashed aggregate,
and mirror with :func:`sql_exact_sum` in the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 18 total digits / 6 fractional holds any fixture measure exactly enough
# and leaves Spark's sum-precision headroom (p+10) far from overflow.
_DEC = "decimal(18,6)"


def exact_sum(col: Column | str) -> Column:
    """Order-insensitive SUM(double) → double via exact decimal arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double")


def exact_avg(col: Column | str) -> Column:
    """Order-insensitive AVG(double) → double (exact sum / exact count)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(_DEC)).cast("double") / F.count(c)).cast("double")


def sql_exact_sum(expr: str) -> str:
    """DuckDB twin of :func:`exact_sum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
