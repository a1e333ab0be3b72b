"""Deterministic (engine-independent) float aggregation helpers.

Summing doubles is order-dependent; Spark's partial aggregation order
differs run-to-run and engine-to-engine, so a naive ``SUM(double)`` can
hash-mismatch a DuckDB oracle in the last bits. The fix: aggregate in
DECIMAL (exact, associative), cast the exact result to double once.
Both engines convert the same decimal to the same IEEE double, so results
are bit-identical regardless of partitioning — which also means results
are *stable at any cluster size*, a property plain double-sum lacks.

The SQL mirror of ``dsum(c)`` is::

    CAST(SUM(CAST(c AS DECIMAL(p, s))) AS DOUBLE)

Cost note: decimal aggregation is mildly slower than double but stays in
codegen (no UDF); for money-typed TPC-H-style columns it is the correct
semantics anyway.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (precision, scale) for "money-like" columns: values < 10^10, 2-6 dp.
MONEY = (12, 2)
# for arbitrary synthetic doubles (events.value, scores): 10 dp.
GENERIC = (28, 10)


def dec(c: Column, prec: int = 12, scale: int = 2) -> Column:
    return c.cast(f"decimal({prec},{scale})")


def dsum(c: Column, prec: int = 12, scale: int = 2) -> Column:
    """Exact sum → double. Mirrors CAST(SUM(CAST(c AS DECIMAL)) AS DOUBLE)."""
    return F.sum(dec(c, prec, scale)).cast("double")


def davg(c: Column, prec: int = 12, scale: int = 2) -> Column:
    """Deterministic mean: exact sum / count, one double division."""
    return dsum(c, prec, scale) / F.count(c)
