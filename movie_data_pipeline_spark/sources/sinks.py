"""Warehouse sinks: overwrite parquet (the reference's full-refresh
semantics) plus the scale-path layouts — partitioned and bucketed writes
that pre-pay shuffle cost once so repeated joins/aggregations on the
same keys skip their exchange.

The reference's load phase is row-at-a-time INSERTs / 1000-row batches
into an RDBMS (etl1.py:372-519, SURVEY §2.1 S4); here a sink is a
distributed write whose *layout* is the optimization surface:

- ``write_partitioned``: directory partitioning on a low-cardinality
  column → partition pruning at read (the Spark analogue of the
  reference's B-tree indexes on filter keys, SURVEY §4);
- ``write_bucketed``: hash-bucketed table registered in the
  metastore → joins/groupBys on the bucket key need no exchange at all
  (co-located join), the right layout for a fact table joined on the
  same key by every query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = 32
) -> None:
    """Bucketed managed table (saveAsTable — bucketing metadata lives in
    the catalog). n_buckets should divide evenly into cluster
    parallelism at the target scale."""
    df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).format(
        "parquet"
    ).saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_jsonl(df: DataFrame, path: str) -> None:
    """Gzipped line-delimited JSON sink — the interchange format of
    LLM-training-data pipelines (one document per line, streamable).
    Spark's json sink IS JSONL (one object per line, one file per
    partition); compression is codec metadata, splittability at read
    time comes from having many files, not from the codec."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSONL scan with an explicit schema — never schema inference
    (inference is an extra full pass over 100 TB and type-unstable
    between samples). Corrupt lines land in no row rather than failing
    the job (PERMISSIVE mode, Spark's default); pair with a
    _corrupt_record column in the schema when auditing bad input."""
    return spark.read.schema(schema).json(path)


def write_sorted_for_skipping(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    target_files: int | None = None,
) -> None:
    """Range-partition + sort-within-partitions write: the data-skipping
    layout (z-order-lite for a single sort dimension).

    ``repartitionByRange`` gives each output file a DISJOINT value range
    of ``sort_cols``; the within-partition sort tightens every parquet
    row group's min/max statistics. A later filtered read skips whole
    files (footer min/max) and row groups — the same mechanism
    Delta/Iceberg data-skipping relies on, available in plain parquet.
    At 100 TB this is the difference between scanning every file for a
    point/range predicate on the sort key and touching only the files
    whose range intersects it. Cost: one range exchange at write time
    (sampled boundaries, skew-resistant), paid once, amortized over
    every subsequent selective read.
    """
    out = (
        df.repartitionByRange(target_files, *sort_cols)
        if target_files
        else df.repartitionByRange(*sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (built-in columnar alternative to parquet; same
    predicate-pushdown + column-pruning + min/max skipping contract,
    preferred by Hive-heritage warehouses). zstd: parquet-class
    compression at faster decode than zlib."""
    df.write.mode("overwrite").option("compression", "zstd").orc(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan; pass the explicit schema where known (same
    no-inference-scan discipline as read_jsonl)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    target_files: int | None = None,
) -> None:
    """Z-order (Morton-curve) multi-dimensional data-skipping write —
    what ``write_sorted_for_skipping`` is for one sort dimension, for
    2-4 dimensions at once (the Delta/Iceberg OPTIMIZE ZORDER layout,
    in plain parquet).

    Each column is quantile-bucketed into 2^bits ranks (boundaries from
    ``approxQuantile`` — a driver-side array of ≤2^bits doubles, i.e.
    sketch-sized regardless of table size; quantile ranks, not raw
    values, so skew cannot collapse the curve). The per-column ranks
    are bit-interleaved into one Morton key; range-partitioning + an
    in-partition sort on that key gives every output file a compact
    hyper-rectangle of the value space, so parquet footer min/max stats
    stay tight on EVERY z-ordered column and a selective predicate on
    any of them skips most files. Cost: one quantile sketch pass + one
    range exchange — same write-side shape as the 1-D sorted layout.

    Columns must be numeric (cast timestamps to epoch first). bits=8 →
    256 ranks/dim; with k dims the Morton key uses k·bits ≤ 63 bits.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    k = len(cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a signed 64-bit key")
    n_bounds = (1 << bits) - 1
    probs = [(i + 1) / (n_bounds + 1) for i in range(n_bounds)]
    casted = df.select(
        "*", *[F.col(c).cast("double").alias(f"__z_{c}") for c in cols]
    )
    # single multi-column sketch pass (one job, not one scan per column)
    all_bounds = casted.stat.approxQuantile(
        [f"__z_{c}" for c in cols], probs, 0.01
    )
    bounds = dict(zip(cols, all_bounds))

    def rank(c: str) -> "F.Column":
        arr = F.array(*[F.lit(float(b)) for b in bounds[c]])
        return F.size(F.filter(arr, lambda b: b <= F.col(f"__z_{c}")))

    # materialize each column's rank ONCE; the bit-interleave loop then
    # references the projected rank column instead of re-instantiating
    # the 2^bits-literal array filter bits x cols times in the plan
    ranked = casted.select(
        "*", *[rank(c).alias(f"__zr_{c}") for c in cols]
    )
    z = F.lit(0)
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(F.col(f"__zr_{c}"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + (k - 1 - j)))
    keyed = ranked.withColumn("__zkey", z.cast("long")).drop(
        *[f"__z_{c}" for c in cols], *[f"__zr_{c}" for c in cols]
    )
    out = (
        keyed.repartitionByRange(target_files, "__zkey")
        if target_files
        else keyed.repartitionByRange("__zkey")
    )
    out.sortWithinPartitions("__zkey").drop("__zkey").write.mode(
        "overwrite"
    ).parquet(path)
