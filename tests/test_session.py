"""The session's generated-code cache holds the engine's working set: a
warm second call of a measured path compiles no class. The counts come
from Spark's own compilation histogram, so a plan that inlines a value
changing per call (or a cache too small for the paths it serves) shows
up as a non-zero count."""

from __future__ import annotations

import random

from movie_data_pipeline_spark.operators.dedup import (
    lsh_candidate_pairs_wide,
    minhash_signatures_wide,
)
from movie_data_pipeline_spark.operators.similarity import cosine_topk_ivf
from movie_data_pipeline_spark.operators.util import query_scope
from movie_data_pipeline_spark.pipeline.enrichment import ENRICHMENT_SCHEMA
from movie_data_pipeline_spark.pipeline.movies_etl import (
    WAREHOUSE_TABLES,
    build_warehouse,
    write_warehouse,
)
from movie_data_pipeline_spark.pipeline.queries import (
    WAREHOUSE_QUERY_NAMES,
    run_warehouse_query,
)
from movie_data_pipeline_spark.session import codegen_compiles
from movie_data_pipeline_spark.sources.movielens import (
    read_links,
    read_movies,
    read_ratings,
)
from tests.test_movies_etl import ENRICH_ROWS, FIXTURE_DIR


def _warm_compiles(spark, call) -> int:
    """Classes compiled by the second of two back-to-back calls."""
    call()
    before = codegen_compiles(spark)
    call()
    return codegen_compiles(spark) - before


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_warm_warehouse_load_and_queries_compile_nothing(spark, tmp_path):
    out = str(tmp_path / "warehouse")

    def load_and_query():
        wh, _ = build_warehouse(
            spark,
            read_movies(spark, FIXTURE_DIR),
            read_ratings(spark, FIXTURE_DIR),
            read_links(spark, FIXTURE_DIR),
            spark.createDataFrame(ENRICH_ROWS, ENRICHMENT_SCHEMA),
            api_request_limit=6,
        )
        write_warehouse(wh, out)
        for name in WAREHOUSE_TABLES:
            spark.read.parquet(f"{out}/{name}").createOrReplaceTempView(name)
        for q in WAREHOUSE_QUERY_NAMES:
            run_warehouse_query(spark, q).toPandas()

    try:
        assert _warm_compiles(spark, load_and_query) == 0
    finally:
        for name in WAREHOUSE_TABLES:
            spark.catalog.dropTempView(name)


def test_warm_lsh_build_and_ivf_query_compile_nothing(spark, tmp_path):
    rng = random.Random(19)
    words = [f"w{i}" for i in range(80)]
    texts = [" ".join(rng.choice(words) for _ in range(30)) for _ in range(40)]
    texts += [t + " w0" for t in texts[:6]]  # planted near-duplicates
    docs_path, vecs_path = str(tmp_path / "docs"), str(tmp_path / "vectors")
    spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING").write.parquet(docs_path)
    spark.createDataFrame(
        [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(80)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    ).write.parquet(vecs_path)

    def lsh_build():
        docs = spark.read.parquet(docs_path)
        lsh_candidate_pairs_wide(minhash_signatures_wide(docs)).collect()

    def ivf_query():
        vecs = spark.read.parquet(vecs_path)
        with query_scope():
            cosine_topk_ivf(vecs, vecs.filter("vec_id < 5"), k=10).collect()

    assert _warm_compiles(spark, lsh_build) == 0
    assert _warm_compiles(spark, ivf_query) == 0
