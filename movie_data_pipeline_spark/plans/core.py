"""Query registry plumbing.

Each query is a named pair: a Spark DataFrame builder ``(spark, sf_dir)
-> DataFrame`` and (where SQL-expressible) an equivalent ANSI/DuckDB SQL
string run against the same parquet tables by the verification driver.
Column names and rounding are aligned on both sides because the driver
hash-compares values after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_pipeline_spark.functions.numeric import round4  # noqa: F401

Builder = Callable[[SparkSession, str], DataFrame]


def r4(expr: str) -> str:
    """DuckDB-side mirror of :func:`round4` for oracle SQL strings."""
    return f"floor(({expr}) * 10000 + 0.5) / 10000"


def exact_sum(col: Column) -> Column:
    """Order-independent cross-engine SUM for double measures.

    A plain double SUM accumulates in engine- and partition-order; on
    large groups the engines drift by ~1e-5 absolute — enough to land on
    opposite sides of a round4 boundary (observed on 6e9-magnitude
    revenue sums at sf0.1). Casting each term to DECIMAL(30,6) first
    makes the aggregation exact integer arithmetic (identical in any
    order on both engines); the result returns to double via a correctly
    rounded conversion of the same exact decimal.
    """
    return F.sum(col.cast("decimal(30,6)")).cast("double")


def exact_sum_sql(expr: str) -> str:
    """DuckDB-side mirror of :func:`exact_sum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE)"


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Builder
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# Tags of builders that run a whole streaming or lifecycle cadence
# (micro-batches, commits, maintenance) eagerly at build time and
# return a checkpoint scan of its result: there is no lazy plan to
# audit, and their wall time is orchestration, not plan cost.
EAGER_TAGS = frozenset({"streaming", "lifecycle"})


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a builder under ``name``; its docstring
    becomes the spec's ``doc``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, build=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco
