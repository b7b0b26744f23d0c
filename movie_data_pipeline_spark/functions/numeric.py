"""Shared numeric column expressions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round4(col: Column) -> Column:
    """Cross-engine-deterministic 4-decimal rounding for doubles.

    Engine-native ROUND is implementation-defined at half boundaries
    (Spark rounds the shortest decimal repr via BigDecimal; DuckDB
    multiplies first, picking up a ulp of error — observed to disagree on
    identical input bits). floor(x*1e4 + 0.5)/1e4 uses only elementary
    IEEE-754 ops, which are bit-identical across engines for identical
    input. Intended for non-negative measures (half-up toward +inf).
    """
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
