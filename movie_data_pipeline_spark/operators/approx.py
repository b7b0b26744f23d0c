"""Approximate aggregates — the default answers at 100 TB.

Exact COUNT(DISTINCT) shuffles every distinct key; exact percentiles
sort or multi-pass the column (the q33 path). At petabyte scale the
sketch versions are the workhorses, trading bounded error for
one-pass, fixed-memory, partially-aggregable execution:

- ``approx_distinct``: HyperLogLog++ (Spark's approx_count_distinct) —
  fixed ~1.5 KB-per-group sketch at rsd=5%, merged map-side like any
  partial aggregate, so the exchange carries sketches, not keys;
- ``approx_quantiles``: Greenwald-Khanna (percentile_approx) — one
  pass, mergeable summaries, rank error ≤ 1/accuracy;
- ``frequent_items``: df.stat.freqItems — the heavy-hitters sketch
  answering "which keys dominate" (the skew-diagnosis input for
  operators/skew.py) without a full group-count.

These are deliberately NOT in the oracle-gated catalog: their outputs
are estimator-dependent, so cross-engine value-hash equality is the
wrong contract. The tests assert the real contract instead — error
bounds versus the exact answers on the same data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def approx_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-group approximate distinct count (HLL++), rel. std dev 0.05."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(value_col, rsd=0.05).alias("approx_distinct")
    )


def approx_quantiles(
    df: DataFrame,
    value_col: str,
    probabilities: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> list[float]:
    """Approximate quantiles, rank error ≤ 1/accuracy of the row count.

    Wraps ``DataFrame.approxQuantile`` (Greenwald-Khanna): a single
    pass building mergeable per-partition summaries — contrast with
    q33's exact path, which is the small-data / audit answer.
    """
    return df.approxQuantile(value_col, list(probabilities), 1.0 / accuracy)


def frequent_items(
    df: DataFrame, cols: Sequence[str], support: float = 0.01
) -> DataFrame:
    """Heavy hitters per column with frequency ≥ support (may include
    false positives, never false negatives) — the cheap skew probe run
    before choosing a salting factor for a join key."""
    return df.stat.freqItems(list(cols), support)
