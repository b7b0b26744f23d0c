"""Custom Python Data Source: the synthetic-corpus generator must be
deterministic, reshard-stable, partition-parallel, and carry planted
near-duplicate signal for the dedup operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.dedup import jaccard_pairs
from movie_data_pipeline_spark.sources.synthetic import register

pytestmark = pytest.mark.usefixtures("_scoped")


def _read(spark, n_docs, n_partitions, seed=42):
    register(spark)
    return (
        spark.read.format("synthetic_documents")
        .option("n_docs", n_docs)
        .option("n_partitions", n_partitions)
        .option("seed", seed)
        .load()
    )


def test_count_schema_and_partitioning(spark):
    df = _read(spark, 500, 7)
    assert df.count() == 500
    assert df.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    assert df.rdd.getNumPartitions() == 7
    row = df.filter(F.col("doc_id") == 123).collect()[0]
    assert row.n_chars == len(row.text)


def test_reshard_stable_and_seeded(spark):
    a = sorted((r.doc_id, r.text) for r in _read(spark, 300, 3).collect())
    b = sorted((r.doc_id, r.text) for r in _read(spark, 300, 11).collect())
    assert a == b  # partition split cannot change content
    c = sorted((r.doc_id, r.text) for r in _read(spark, 300, 3, seed=7).collect())
    assert a != c  # seed does


def test_planted_near_duplicates_found(spark):
    docs = _read(spark, 400, 4)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.6).collect()
    }
    # every 11th doc (>=7) is a perturbed copy of the doc 7 back
    planted = {
        (d - 7, d) for d in range(0, 400, 11) if d >= 7
    }
    assert planted <= pairs
