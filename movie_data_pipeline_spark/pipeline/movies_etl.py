"""The reference ETL pipeline (etl1.py) re-expressed as Spark plans.

Reference lifecycle (SURVEY.md §3): extract 3 CSVs → transform movies
(year extraction, title cleanup, API enrichment of the first N by file
order) → transform ratings (coerce + dropna) → load a 4-table warehouse
with full-refresh semantics. Here every step is a declarative DataFrame
plan; the only imperative part of the reference — the per-row OMDb HTTP
loop — becomes a broadcast lookup join against a prefetched enrichment
table (movie_data_pipeline_spark/pipeline/enrichment.py).

Parity map:
- transform_movies     ← etl1.py:283-351 (P1/P2/P7)
- transform_ratings    ← etl1.py:353-370 (P7/P8; rating_id §2.9)
- build_genres         ← etl1.py:425-447 (A1 + sorted AUTO_INCREMENT)
- build_movie_genres   ← etl1.py:449-467 (explode + fk-by-construction)
- write_warehouse      ← etl1.py:372-519 (S4 full refresh → parquet
  mode('overwrite'); row-at-a-time INSERT loops do not survive)
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_data_pipeline_spark.functions.titles import clean_title, release_year

WAREHOUSE_TABLES = ("movies", "genres", "movie_genres", "ratings")


@dataclass
class Warehouse:
    movies: DataFrame
    genres: DataFrame
    movie_genres: DataFrame
    ratings: DataFrame


def transform_movies(movies_raw: DataFrame) -> DataFrame:
    """Year extraction + title cleanup as column expressions.

    The reference runs a row-at-a-time ``Series.apply`` (etl1.py:288-292)
    — 92% of its non-API runtime is this Python loop; here it is three
    codegen'd expressions over one scan.
    """
    return movies_raw.select(
        "movieId",
        "title",
        "genres",
        release_year(F.col("title")).alias("release_year"),
        clean_title(F.col("title")).alias("clean_title"),
    )


def _coerce_ratings(ratings_raw: DataFrame) -> DataFrame:
    """Typed rating columns with rows missing a key or rating dropped."""
    return ratings_raw.select(
        F.col("userId").try_cast("int").alias("user_id"),
        F.col("movieId").try_cast("int").alias("movie_id"),
        F.col("rating").try_cast("double").alias("rating"),
        F.col("timestamp").try_cast("long").alias("timestamp"),
    ).na.drop(subset=["movie_id", "user_id", "rating"])


def transform_ratings(ratings_raw: DataFrame) -> DataFrame:
    """Coerce + drop null keys + faithful surrogate ids (etl1.py:353-370).

    ``try_cast`` reproduces ``pd.to_numeric(errors='coerce')`` (invalid →
    null) under any session mode; rows missing movieId/userId/rating are
    dropped; a non-numeric timestamp is kept as null. ``rating_id`` is the
    (userId, movieId) row rank — the AUTO_INCREMENT order of the
    reference's input file (SURVEY.md §2.9). The global window for it is
    the one deliberately non-scalable construct here, kept for id
    fidelity — it is OPT-IN: ``build_warehouse`` defaults to
    ``ratings_with_fast_ids`` (monotonically_increasing_id —
    embarrassingly parallel) and only routes here when
    ``faithful_rating_ids=True`` is requested explicitly.
    """
    w = Window.orderBy("user_id", "movie_id")
    return _coerce_ratings(ratings_raw).select(
        F.row_number().over(w).cast("long").alias("rating_id"),
        "movie_id",
        "user_id",
        "rating",
        "timestamp",
    )


def ratings_with_fast_ids(ratings_raw: DataFrame) -> DataFrame:
    """Scale path: surrogate ids without a global sort. No documented
    reference query depends on rating_id values (SURVEY.md §2.9)."""
    return _coerce_ratings(ratings_raw).select(
        F.monotonically_increasing_id().alias("rating_id"),
        "movie_id",
        "user_id",
        "rating",
        "timestamp",
    )


def split_genres(movies: DataFrame) -> DataFrame:
    """(movieId, genre_name) pairs. The pipe-split keeps the sentinel
    ``(no genres listed)`` whole, exactly like the reference's
    ``str.split('|')`` (etl1.py:430-433); empty tokens are stripped."""
    return movies.select(
        "movieId",
        F.explode(F.split(F.col("genres"), r"\|")).alias("genre_name"),
    ).select("movieId", F.trim(F.col("genre_name")).alias("genre_name")).filter(
        F.col("genre_name") != ""
    )


def build_genres(movies: DataFrame) -> DataFrame:
    """Genre dimension with AUTO_INCREMENT-faithful ids: the reference
    inserts genres in sorted order (etl1.py:437), so genre_id is the
    1-based alphabetical rank → dense_rank over the distinct set. The
    single-partition window covers only the tiny distinct dimension."""
    distinct = split_genres(movies).select("genre_name").distinct()
    w = Window.orderBy("genre_name")
    return distinct.select(
        F.dense_rank().over(w).cast("int").alias("genre_id"), "genre_name"
    )


def build_movie_genres(movies: DataFrame, genres: DataFrame) -> DataFrame:
    """M:N bridge; FK integrity holds by construction (built from the
    join, not checked after — SURVEY.md §2.3 J5). genres is tiny →
    broadcast."""
    return (
        split_genres(movies)
        .join(F.broadcast(genres), "genre_name")
        .select(F.col("movieId").alias("movie_id"), "genre_id")
    )


def finalize_movies(movies_enriched: DataFrame) -> DataFrame:
    """Warehouse movies table (schema.sql:8-19): title is the *clean*
    title (etl1.py:397), imdb_rating coerced to double (etl1.py:340).

    ``created_at`` is the time this call ran, one value per load, joined
    in from a broadcast one-row inline table (a local relation: no
    Python worker; its broadcast is one small job). ``current_timestamp()``
    would be folded into a timestamp literal compiled into the write
    stage, so every load would generate and compile new classes (see
    session.py).
    """
    stamp = movies_enriched.sparkSession.sql(
        "SELECT * FROM VALUES (:now) AS stamp(created_at)",
        args={"now": datetime.now(timezone.utc)},
    )
    return movies_enriched.select(
        F.col("movieId").alias("movie_id"),
        F.col("clean_title").alias("title"),
        "release_year",
        "imdb_id",
        "director",
        "plot",
        "box_office",
        F.col("imdb_rating").try_cast("double").alias("imdb_rating"),
        "runtime",
    ).crossJoin(F.broadcast(stamp))


def build_warehouse(
    spark: SparkSession,
    movies_raw: DataFrame,
    ratings_raw: DataFrame,
    links_raw: DataFrame,
    enrichment: DataFrame | None = None,
    api_request_limit: int = 400,
    faithful_rating_ids: bool = False,
) -> tuple[Warehouse, DataFrame]:
    """Full pipeline → (warehouse tables, missing-movies side output).

    ``enrichment`` is a prefetched OMDb-shaped lookup table (see
    pipeline/enrichment.py); None runs the offline path (all enrichment
    columns null, no missing log) — correctness never depends on live
    HTTP (SURVEY.md §7 "hard parts").

    ``faithful_rating_ids`` defaults to False: the scale path assigns
    rating ids with monotonically_increasing_id (no shuffle, no global
    sort). No documented reference query depends on rating_id *values*
    (SURVEY.md §2.9) — pass True only for oracle-fidelity runs that hash
    ids, which routes through the deliberately single-partition
    ``transform_ratings`` window.
    """
    from movie_data_pipeline_spark.pipeline.enrichment import enrich_movies

    movies = transform_movies(movies_raw)
    movies_enriched, missing = enrich_movies(
        movies, links_raw, enrichment, api_request_limit
    )
    genres = build_genres(movies)
    wh = Warehouse(
        movies=finalize_movies(movies_enriched),
        genres=genres,
        movie_genres=build_movie_genres(movies, genres),
        ratings=(
            transform_ratings(ratings_raw)
            if faithful_rating_ids
            else ratings_with_fast_ids(ratings_raw)
        ),
    )
    return wh, missing


def write_warehouse(wh: Warehouse, out_dir: str) -> None:
    """Full-refresh load: mode('overwrite') parquet per table — the
    atomic equivalent of the reference's DELETE-then-INSERT
    (etl1.py:380-383); 1000-row batch loops (etl1.py:497-506) are
    subsumed by the distributed write."""
    for name in WAREHOUSE_TABLES:
        getattr(wh, name).write.mode("overwrite").parquet(f"{out_dir}/{name}")


def write_warehouse_jdbc(
    wh: Warehouse,
    url: str,
    batchsize: int = 1000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """Full-refresh load into an RDBMS over JDBC — the reference's
    actual sink (SQLAlchemy → MySQL/Postgres/SQLite, etl1.py:380-406,
    483-506; DDL schema.sql:8-46), distributed.

    Semantics mapped 1:1:
    - JDBC ``truncate`` + mode('overwrite') → Spark issues TRUNCATE/
      DELETE and re-INSERTs into the EXISTING table, preserving the
      DDL (types, PKs, indexes) exactly like the reference's
      ``DELETE FROM t`` + insert loop (etl1.py:380-383) — not a
      DROP/CREATE, which would lose schema.sql's constraints.
    - ``batchsize=1000`` → executeBatch flush size, the reference's
      1000-row insert chunks (etl1.py:497-506), but issued from every
      partition in parallel instead of one driver loop.
    - Tables load parent-first (movies, genres before movie_genres,
      ratings) so FK constraints (schema.sql:29-31, 40-44) hold during
      the load; on engines that validate FKs during TRUNCATE, run with
      deferred constraints or session-level FK checks off, as the
      reference's delete-children-first pass implies.
    - ``num_partitions`` caps write parallelism (max concurrent JDBC
      connections) — size to the database's connection budget, not the
      cluster's core count.

    ``properties`` carries driver/user/password (the reference reads
    these from .env, etl1.py:552-561). Verified two ways: a plumbing
    contract test against an intercepted writer (any RDBMS url), and a
    LIVE end-to-end roundtrip against embedded Apache Derby (bundled
    in pyspark's jars — tests/test_jdbc_sink.py::
    test_jdbc_live_derby_roundtrip): pre-created DDL, truncate-refresh
    of non-empty tables with PKs surviving, values hash-compared back.
    """
    props = {
        "batchsize": str(batchsize),
        "truncate": "true",
        "isolationLevel": "READ_COMMITTED",
        **(properties or {}),
    }
    if num_partitions is not None:
        props["numPartitions"] = str(num_partitions)
    for name in WAREHOUSE_TABLES:
        df = getattr(wh, name)
        df.write.jdbc(url, name, mode="overwrite", properties=props)
