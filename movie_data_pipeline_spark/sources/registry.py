"""Parquet table registry for the driver-generated synthetic tables.

Mirrors the reference's warehouse-table registration step (schema.sql
applied via DDL, SURVEY.md §2.1 S6): every table is loaded by name
with its explicit schema. Reads are plain
``spark.read.parquet`` — column pruning and predicate pushdown reach the
scan via Catalyst, so operators never pre-filter manually.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_pipeline_spark.schemas import TESTDATA_SCHEMAS

TESTDATA_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _events_ts_is_nanos(path: str) -> bool:
    """Sniff the parquet footer: True when ts is TIMESTAMP(NANOS).

    The driver has shipped events.parquet with either TIMESTAMP(NANOS)
    (unreadable as a Spark timestamp — handled as raw INT64 nanos) or
    TIMESTAMP(MICROS) (a plain NTZ read). A footer read is metadata-only
    (no row groups touched), and at cluster scale would run once on the
    driver — never per task. The cache key includes (mtime, size) so a
    file regenerated in place with a different encoding is re-sniffed
    rather than served the stale answer. A Spark-written table is a
    DIRECTORY of part files with one common schema — sniff the first
    part file.
    """
    if os.path.isdir(path):
        parts = sorted(
            f
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if parts:
            path = os.path.join(path, parts[0])
    st = os.stat(path)
    return _sniff_ts_unit_is_nanos(path, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=None)
def _sniff_ts_unit_is_nanos(path: str, mtime_ns: int, size: int) -> bool:
    import pyarrow.parquet as pq

    t = pq.read_schema(path).field("ts").type
    return getattr(t, "unit", None) == "ns"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TESTDATA_TABLES}")
    if name == "events":
        path = table_path(sf_dir, name)
        if not _events_ts_is_nanos(path):
            # TIMESTAMP(MICROS): direct NTZ read — timezone-free, matching
            # the naive-timestamp oracle in any session timezone.
            return spark.read.schema(TESTDATA_SCHEMAS["events_ntz"]).parquet(path)
        # Parquet TIMESTAMP(NANOS) is rejected by Spark's timestamp reader;
        # read the raw INT64 (see schemas.py) and rebuild a TIMESTAMP_NTZ by
        # pure epoch arithmetic — truncation to micros matches the oracle
        # engine's ns→µs cast, and no session timezone is involved.
        df = spark.read.schema(TESTDATA_SCHEMAS["events"]).parquet(path)
        return df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    # Explicit schema: no inference scan, and timestamps are pinned to NTZ
    # so semantics match the naive-timestamp oracle in any session timezone.
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(table_path(sf_dir, name))
