"""OMDb-style enrichment as a decoupled fetch-then-join (SURVEY.md §7).

The reference crosses a process/network boundary per movie inside a
pandas loop (etl1.py:304-337: HTTP GET, 0.2 s sleep, 3 fallback
strategies). That design cannot scale and cannot be tested offline, so
it is split:

1. **Fetch job** (``fetch_enrichment``): the N movies in the API budget
   (ordered by movieId — pandas ``head`` relied on file order, Spark
   must impose it, SURVEY §2.2 P10) are fetched per-partition with a
   rate limiter via ``mapInPandas``. The HTTP call itself is injectable;
   the default raises — this container has no network, and correctness
   must never depend on live HTTP. The output is an enrichment parquet
   table.
2. **Join step** (``enrich_movies``): the enrichment table is joined in
   with the reference's 3-strategy fallback expressed as three left
   joins + per-field coalesce: normalized-title+year ('Title+Year'),
   normalized-title ('Title Only'), links imdb id ('IMDb ID') —
   etl1.py:176-244. Movies in the budget with no match become the
   missing-movies side output with the reference's 10-column layout
   (etl1.py:246-261).

All joins broadcast the small side (enrichment ≤ N rows, links is a
per-movie dimension).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from movie_data_pipeline_spark.functions.titles import imdb_tt_id, normalize_title

ENRICHMENT_SCHEMA = StructType(
    [
        StructField("norm_title", StringType()),
        StructField("release_year", IntegerType()),
        StructField("imdb_id", StringType()),
        StructField("director", StringType()),
        StructField("plot", StringType()),
        StructField("box_office", StringType()),
        StructField("imdb_rating", StringType()),  # raw API string, 'N/A' possible
        StructField("runtime", StringType()),
    ]
)

_API_FIELDS = ("imdb_id", "director", "plot", "box_office", "imdb_rating", "runtime")


def fetch_enrichment(
    movies: DataFrame,
    links_raw: DataFrame,
    api_request_limit: int = 400,
    fetch_fn: Callable[[str, int | None, str | None], dict | None] | None = None,
    rate_limit_per_sec: float = 5.0,
) -> DataFrame:
    """The fetch job: rate-limited per-partition point lookups.

    ``fetch_fn(norm_title, year, imdb_tt) -> {field: value} | None`` is
    the injectable HTTP call (tests inject a canned function; production
    would wrap requests+retries). Parallelism = partitions × rate limit:
    the budget slice is small, so it is coalesced to a handful of
    partitions; each partition sleeps ``1/rate_limit_per_sec`` between
    calls — the reference's 0.2 s self-throttle (etl1.py:42)
    distributed.
    """
    if fetch_fn is None:
        raise NotImplementedError(
            "no live OMDb access in this environment; inject fetch_fn or "
            "use a prefetched enrichment table (pipeline/enrichment.py docstring)"
        )

    budget = (
        movies.orderBy("movieId")
        .limit(api_request_limit)
        .select("movieId", "clean_title", "release_year")
        .join(
            F.broadcast(
                links_raw.select(
                    "movieId", imdb_tt_id(F.col("imdbId")).alias("imdb_tt")
                )
            ),
            "movieId",
            "left",
        )
        .withColumn("norm_title", normalize_title(F.col("clean_title")))
        .coalesce(4)
    )

    out_schema = StructType(
        [StructField("movieId", IntegerType())] + list(ENRICHMENT_SCHEMA.fields)[2:]
    )

    def fetch_partition(batches: Iterator) -> Iterator:
        import time as _time

        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                got = fetch_fn(r.norm_title, r.release_year, r.imdb_tt)
                _time.sleep(1.0 / rate_limit_per_sec)
                if got is not None:
                    rows.append({"movieId": r.movieId, **{k: got.get(k) for k in _API_FIELDS}})
            yield pd.DataFrame(rows, columns=["movieId", *_API_FIELDS])

    return budget.mapInPandas(fetch_partition, schema=out_schema)


def enrich_movies(
    movies: DataFrame,
    links_raw: DataFrame,
    enrichment: DataFrame | None,
    api_request_limit: int = 400,
) -> tuple[DataFrame, DataFrame]:
    """Join step: apply the 3-strategy fallback to the budget slice.

    Returns (movies with the 6 API columns, missing-movies side output).
    Offline mode (enrichment=None): all API columns null, empty missing
    log — the shape the reference produces with API_REQUEST_LIMIT=0.
    """
    spark = movies.sparkSession
    if enrichment is None:
        enriched = movies.select(
            "*", *[F.lit(None).cast("string").alias(f) for f in _API_FIELDS]
        )
        missing = spark.createDataFrame([], _missing_schema())
        return enriched, missing

    links = F.broadcast(
        links_raw.select("movieId", imdb_tt_id(F.col("imdbId")).alias("links_imdb_id"))
    )
    # The API budget is the first N movies *by movieId order* — pandas
    # head() depended on file order; an explicit order is required for a
    # deterministic distributed limit (SURVEY §2.2 P10).
    # in_budget is true or null; a null fails every join condition and
    # the filter below exactly as false would.
    budget_ids = F.broadcast(
        movies.orderBy("movieId")
        .limit(api_request_limit)
        .select("movieId", F.lit(True).alias("in_budget"))
    )

    base = (
        movies.join(budget_ids, "movieId", "left")
        .join(links, "movieId", "left")
        .select("*", normalize_title(F.col("clean_title")).alias("norm_title"))
    )

    e = F.broadcast(enrichment)
    s1 = e.select(
        F.col("norm_title").alias("s1_title"),
        F.col("release_year").alias("s1_year"),
        *[F.col(f).alias(f"s1_{f}") for f in _API_FIELDS],
    )
    s2 = (
        e.groupBy("norm_title")
        .agg(*[F.min(f).alias(f"s2_{f}") for f in _API_FIELDS])
        .select(F.col("norm_title").alias("s2_title"), *[f"s2_{f}" for f in _API_FIELDS])
    )
    s3 = e.select(
        F.col("imdb_id").alias("s3_key"),
        *[F.col(f).alias(f"s3_{f}") for f in _API_FIELDS],
    )

    joined = (
        base.join(
            s1,
            (F.col("norm_title") == F.col("s1_title"))
            & (F.col("release_year") == F.col("s1_year"))
            & F.col("in_budget"),
            "left",
        )
        .join(
            s2,
            (F.col("norm_title") == F.col("s2_title")) & F.col("in_budget"),
            "left",
        )
        .join(
            s3,
            (F.col("links_imdb_id") == F.col("s3_key")) & F.col("in_budget"),
            "left",
        )
    )

    # The first strategy that matched (Title+Year, Title Only, IMDb ID)
    # supplies every field.
    enriched = joined.select(
        "movieId",
        "title",
        "genres",
        "release_year",
        "clean_title",
        *[
            F.when(F.col("s1_imdb_id").isNotNull(), F.col(f"s1_{f}"))
            .when(F.col("s2_imdb_id").isNotNull(), F.col(f"s2_{f}"))
            .when(F.col("s3_imdb_id").isNotNull(), F.col(f"s3_{f}"))
            .alias(f)
            for f in _API_FIELDS
        ],
    )

    # Anti-join side output (SURVEY §2.3 J4): budget movies with no match,
    # 10 columns per etl1.py:250-261 ('N/A' fills and Yes/No flags kept).
    missing = (
        joined.filter(
            F.col("in_budget")
            & F.coalesce("s1_imdb_id", "s2_imdb_id", "s3_imdb_id").isNull()
        )
        .select(
            F.col("movieId").alias("movie_id"),
            F.col("title").alias("original_title"),
            # reference passes clean_title as 'normalized_title' (etl1.py:325)
            F.col("clean_title").alias("normalized_title"),
            F.coalesce(F.col("release_year").cast("string"), F.lit("N/A")).alias(
                "release_year"
            ),
            F.coalesce(F.col("genres"), F.lit("N/A")).alias("genres"),
            F.when(F.col("links_imdb_id").isNotNull(), "Yes")
            .otherwise("No")
            .alias("imdb_id_available"),
            F.coalesce(F.col("links_imdb_id"), F.lit("N/A")).alias("imdb_id"),
            F.lit("Title+Year,Title Only,IMDb ID").alias("strategies_attempted"),
            F.lit("Not found in OMDb API").alias("error_reason"),
            F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss").alias(
                "timestamp"
            ),
        )
    )
    return enriched, missing


def _missing_schema() -> StructType:
    return StructType(
        [
            StructField("movie_id", IntegerType()),
            StructField("original_title", StringType()),
            StructField("normalized_title", StringType()),
            StructField("release_year", StringType()),
            StructField("genres", StringType()),
            StructField("imdb_id_available", StringType()),
            StructField("imdb_id", StringType()),
            StructField("strategies_attempted", StringType()),
            StructField("error_reason", StringType()),
            StructField("timestamp", StringType()),
        ]
    )
