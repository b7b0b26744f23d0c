"""Small operator utilities."""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import TypeVar

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

T = TypeVar("T")


@contextmanager
def cached(
    df: DataFrame,
    count: bool = True,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
) -> Iterator[DataFrame]:
    """Persist ``df`` for the ``with`` block and always unpersist it on
    the way out, exception or not — a cache's lifetime is the block.

    ``count`` fills the cache with one action on entry: a consumer that
    scans the frame at several plan leaves inside one job would
    otherwise race on the cold cache and recompute the subtree at each
    leaf. Pass ``count=False`` when the block's own first action (a
    count the caller needs anyway, an emptiness probe) fills it.

    A frame the caller has already cached is yielded as is, uncounted:
    its owner's block releases it.
    """
    if df.is_cached:
        yield df
        return
    df = df.persist(level)
    try:
        if count:
            df.count()
        yield df
    finally:
        df.unpersist()


@contextmanager
def query_scope() -> Iterator[None]:
    """Own every cache and checkpoint a query makes: build and consume
    the query inside the block, and on the way out, exception or not,
    release whatever it left persisted.

    Exit runs ``clearCache()`` and then unpersists each RDD persisted
    since entry. The second step catches what ``clearCache()`` cannot
    reach: ``localCheckpoint`` results (eager or lazy) and RDDs a
    builder persisted outside the SQL cache. Builders therefore need not
    know which of their caches the caller's cleanup can reach.

    ``clearCache()`` drops every cached DataFrame of the session, so a
    scope wraps one whole query; RDDs persisted outside the SQL cache
    before entry are left alone.
    """
    spark = SparkSession.active()
    jsc = spark.sparkContext._jsc
    entry = set(jsc.getPersistentRDDs().keySet().toArray())
    try:
        yield
    finally:
        spark.catalog.clearCache()
        rdds = jsc.getPersistentRDDs()
        for rdd_id in set(rdds.keySet().toArray()) - entry:
            rdds.get(rdd_id).unpersist(False)


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh local directory ``mdp-{prefix}-*`` for the ``with``
    block, always removed on the way out. A builder that writes into it
    must materialize what it returns (``localCheckpoint(eager=True)``)
    before the block closes."""
    path = tempfile.mkdtemp(prefix=f"mdp-{prefix}-")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def array_pairs(
    arr: Column, make: Callable[[Column, Column], Column]
) -> Column:
    """The flattened array of ``make(x, y)`` over every element pair
    ``x = arr[i]``, ``y = arr[j]`` with ``i < j``: for a sorted array,
    each unordered pair once, in (smaller, larger) orientation.

    The pairs are built map-side by two nested higher-order functions
    over the row's own array, which replaces a self-join of the
    exploded array (one shuffle instead of two full-table exchanges).
    """
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr) - i - 1),
                lambda y: make(x, y),
            ),
        )
    )


def overlap(*thunks: Callable[[], T]) -> list[T]:
    """Run independent eager thunks on driver threads and return their
    results in argument order.

    Overlapping the job submissions of independent work (two component
    runs, compactions of different tables, read-only audits) lets the
    scheduler back-fill one job's straggler tail with the other's
    tasks. Results stay deterministic: the threads only overlap job
    submission. The caller must not overlap a writer of a table with
    its readers; this helper does not track what a thunk touches.

    Each thunk runs with its own copy of the caller's local properties
    (job group, job description, scheduler pool) and job tags, which a
    plain pool thread would drop; the copies are separate because a
    thread sets its own properties while it runs a query. Every thunk
    runs to completion; then the first exception in argument order is
    re-raised.
    """
    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=min(len(thunks), 4)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
        return [f.result() for f in futures]


def spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy narrow work downstream can use the cluster.

    A small source (one parquet file) arrives as a single partition, so
    per-row-expensive operators (shingling, hashing, per-char folds)
    would run on one core. Repartition round-robin to the session's
    default parallelism — but only when the input has at most half as
    many partitions, so at real scale (inputs already split into thousands of
    tasks) this is a no-op and adds no shuffle.

    Hazard: Catalyst pushes deterministic filters below the
    repartition, including the ``isnotnull`` filters it infers from a
    join key. A derived join key that is nullable (a per-row argmax,
    say) is then evaluated in the single-partition scan, before this
    spread can parallelise it; derive such keys non-nullable.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    current = df.rdd.getNumPartitions()
    if current * 2 <= target:
        return df.repartition(target)
    return df


def fixed_sample(df: DataFrame, id_col: str, target: int) -> DataFrame:
    """Deterministic FIXED-SIZE md5-bucket sample: keep rows whose
    32-bit md5 bucket of ``id_col`` satisfies ``bucket % m == 0`` with
    ``m = max(1, n // target)`` — so the sample stays ~``target`` rows
    at ANY corpus size, and the registered plan that consumes it can
    never go quadratic with the corpus (the q256/q248 discipline that
    graduated them off the r7 scale-killer list).

    Contract (shared by :func:`fixed_sample_ctes`, the oracle side):
    - ``n`` is a driver-side scalar count (the codebook-collect
      pattern — one constant-size action, never a per-row collect);
    - at ``n < 2 * target`` the modulus degenerates to 1 and the frame
      is returned UNTOUCHED, so small-SF driver hashes are
      bit-identical to the unsampled answer;
    - membership depends only on the id value — reproducible across
      engines, runs, partitionings, and parquet layouts.
    """
    n = df.count()
    m = max(1, n // target)
    if m == 1:
        return df
    bucket = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % m
    )
    return df.filter(bucket == 0)


def fixed_sample_ctes(
    table: str, id_col: str, target: int, alias: str
) -> str:
    """DuckDB-oracle twin of :func:`fixed_sample`: two CTE bodies
    (``{alias}_m`` computing the modulus, ``{alias}`` the filtered
    rows) that evaluate the identical md5-bucket rule, so the sampled
    Spark plan and its oracle select the exact same rows. Splice into
    a ``WITH`` list; ``table`` may itself be an earlier CTE.
    """
    return f"""{alias}_m AS (
      SELECT GREATEST(1, (SELECT COUNT(*) FROM {table}) // {target})
        AS m),
    {alias} AS (
      SELECT t.* FROM {table} t CROSS JOIN {alias}_m
      WHERE CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 8))
                 AS BIGINT) % m = 0)"""
