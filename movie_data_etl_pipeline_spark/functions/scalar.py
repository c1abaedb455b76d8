"""Scalar helpers, including exact-money arithmetic.

The reference stores money-like measures as NUMERIC and rounds with
PostgreSQL's exact-decimal HALF_UP (``/root/reference/sql/03_views.sql:34``).
Doubles can't reproduce that faithfully: ``round(avg(x), 2)`` on a
2-decimal-valued double column lands on ``.xx5`` knife edges where
different engines legitimately disagree (Spark rounds the shortest
decimal representation, DuckDB/C round the true binary value).

The engine therefore aggregates money in **integer cents** — exact,
overflow-safe to ±9.2e16 cents, and summation-order-independent (a real
correctness property at 1000 executors, where double summation order is
nondeterministic run to run) — and divides back to units only at the
end, unrounded, so the result is bit-identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def cents(col: Column | str) -> Column:
    """2-decimal-valued double → exact integer cents."""
    return F.round(_c(col) * 100, 0).cast("long")


def money_from_cents(total_cents: Column) -> Column:
    """Integer cents → double units (exact for all realistic totals)."""
    return total_cents.cast("double") / F.lit(100.0)


def avg_money(total_cents: Column, n: Column) -> Column:
    """Deterministic mean in units from exact cent totals: the division
    order (cents / n / 100) is fixed so every engine computes the same
    double."""
    return total_cents.cast("double") / n / F.lit(100.0)


def nullif_empty(col: Column | str) -> Column:
    """Empty-string → NULL (reference P3, ``/root/reference/02_etl.py:76``)."""
    return F.nullif(_c(col), F.lit(""))
