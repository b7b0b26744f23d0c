"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime join-strategy switching, skew-join splitting, partition
coalescing), explicit shuffle parallelism, Arrow for any pandas-interop
path, UTC session timezone so timestamp semantics are stable across
engines (the DuckDB correctness oracle runs in naive/UTC time).

ANSI mode is disabled to match the reference's coercion semantics
(``pd.to_numeric(errors='coerce')`` → invalid becomes NULL, see
reference etl1.py:340-341); library code nevertheless always uses
``try_cast``/``try_*`` so every operator also runs correctly under an
ANSI-enabled session (e.g. the verification driver's own session).

Generated code is reused across calls. Whole-stage code generation
compiles each plan's Java source with Janino and caches the class by
its source text in a JVM-wide cache of
``spark.sql.codegen.cache.maxEntries`` classes. Spark's default of 100
is smaller than the engine's working set: one warm cycle of the
warehouse load and its 7 queries, or of the MinHash-LSH build and an
IVF query, compiles about 90-120 classes when cold, and the cache is
split into segments that each evict least-recently-used first. So at
100 every warm step missed and recompiled 27-61 classes on the driver.
1000 holds them all and a warm call compiles nothing
(``tests/test_session.py``). It is a static setting: only the first
session of a JVM sets it, which is why this factory owns it.

A cache keyed by source text misses whenever the source changes.
Primitive literals (numbers, booleans, dates, timestamps) are written
into the generated source, so a value that changes per call, such as
``current_timestamp()``, ``now()`` or a driver-side ``F.lit(time)``,
compiles new classes on every call. Such a value belongs in data (a
broadcast one-row inline table joined in, as ``finalize_movies`` does
for ``created_at``), not in a projection. String and other object literals
are passed to the class as references and do not change its source.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["codegen_compiles", "get_spark"]


def get_spark(
    app_name: str = "movie-data-pipeline-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (else 32) — the local[]
    thread count standing in for executor slots. ``shuffle_partitions``
    defaults to the same number: at local scale one shuffle partition per
    core; on a real cluster this would be sized so each partition is
    ~128-200 MB of shuffle data.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the code generator has compiled in this JVM so far; a
    call served from the generated-code cache adds none."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
