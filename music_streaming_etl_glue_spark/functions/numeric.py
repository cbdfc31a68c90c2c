"""Deterministic numeric aggregation helpers.

Floating-point SUM is order-dependent; at cluster scale the partial-aggregate
combine order varies run to run, so a raw ``sum(double)`` is not reproducible
nor comparable against an external oracle. These helpers route the sum
through an exact decimal accumulator: bit-stable under any partitioning, and
identical in Spark and DuckDB.

(The reference sums raw doubles — ``/root/reference/scripts/compute_kpis.py:172``
— which is fine on 34k rows on 2 workers but non-deterministic at 100 TB.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM of a double column, exact to ``scale`` decimals.

    Each value is snapped to DECIMAL(18, scale) (exact for inputs that carry
    <= ``scale`` fractional digits, as money/duration-style measures do),
    summed exactly, and returned as double.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")

