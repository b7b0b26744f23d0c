"""CI plan audit (VERDICT r1 item 8): every catalog query's physical
plan is checked for the five scale smells — row-at-a-time Python UDFs
(BatchEvalPython), cartesian products, unpartitioned windows outside
the documented bounded-frame allowlist, per-row work re-evaluated
inside higher-order lambdas, and arrays built twice by an inferred
``size(...) > 0`` filter — so the r1 global-window fixes
(q40/q93/q120/q123, faithful-id default), the hoisted tokenizer and
the single cast-array build of q177/q187 can't regress silently.

Analysis-only: plans are built and explained at sf0.001, never executed
(iterative builders do run their plan-time jobs)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from audit_plans import audit_all  # noqa: E402

from tests.conftest import TESTDATA_SF_DIR

pytestmark = pytest.mark.usefixtures("_scoped")


def test_no_plan_smells(spark):
    """Fast tier: every plan-cost query. Streaming/lifecycle builders
    run their full replay cadence eagerly at build time and return a
    localCheckpoint scan — there is no plan to audit, only minutes of
    execution — so they are deferred to the slow-marked full sweep
    (round 13, VERDICT r12 #1: the fast tier must fit the driver's
    pytest window)."""
    problems = audit_all(spark, TESTDATA_SF_DIR, skip_eager=True)
    assert problems == []


@pytest.mark.slow
def test_no_plan_smells_full(spark):
    """Every query, the eager ones included; each builder tagged with
    ``EAGER_TAGS`` must return a checkpoint scan, so a mistagged lazy
    plan cannot hide behind the fast tier's skip."""
    problems = audit_all(spark, TESTDATA_SF_DIR)
    assert problems == []


def test_structural_checkpoint_scan_detector(spark):
    """A materialized result reads only checkpoint scans, filtered or
    joined; a table read is lazy."""
    from audit_plans import lazy_leaves

    done = spark.range(5).localCheckpoint(eager=True)
    assert lazy_leaves(done) == []
    assert lazy_leaves(done.where("id > 1").join(done, "id")) == []
    table = spark.read.parquet(f"{TESTDATA_SF_DIR}/region.parquet")
    assert lazy_leaves(table) == ["LogicalRelation"]
    assert lazy_leaves(done.join(table, done.id == table.r_regionkey)) == [
        "LogicalRelation"
    ]


def test_movielens_etl_default_has_no_global_window(spark):
    """The DEFAULT warehouse build must not single-partition the
    ratings fact (VERDICT r1 'What's wrong' #1)."""
    from audit_plans import unpartitioned_window_count

    from movie_data_pipeline_spark.pipeline.movies_etl import build_warehouse
    from movie_data_pipeline_spark.sources.movielens import (
        read_links,
        read_movies,
        read_ratings,
    )

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "movielens")
    wh, _ = build_warehouse(
        spark,
        read_movies(spark, fixture),
        read_ratings(spark, fixture),
        read_links(spark, fixture),
        enrichment=None,
    )
    assert unpartitioned_window_count(wh.ratings) == 0


def test_structural_window_detector(spark):
    """The JSON-plan detector must catch global windows whose order
    expression contains parens/commas (the regex fallback's blind
    spot) and pass partitioned windows."""
    from audit_plans import unpartitioned_window_count
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn("d", F.col("id") % 3)
    sneaky = df.withColumn(
        "s",
        F.sum("id").over(
            Window.orderBy(F.expr("pmod(id, cast(3 as bigint))"), "id")
        ),
    )
    assert unpartitioned_window_count(sneaky) == 1
    fine = df.withColumn(
        "s", F.sum("id").over(Window.partitionBy("d").orderBy("id"))
    )
    assert unpartitioned_window_count(fine) == 0


def test_structural_lambda_invariant_detector(spark):
    """The lambda rule flags the tokenizer closed over by the shingle
    lambda and stays silent once tokens are a projected column; reading
    an array column's size inside a lambda is free."""
    from audit_plans import lambda_invariant_subexpressions
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.functions.text import (
        shingles,
        tokens,
        word_shingles,
    )

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id LONG, text STRING")
    inline = docs.select("doc_id", word_shingles(F.col("text")).alias("s"))
    assert set(lambda_invariant_subexpressions(inline)) == {
        "StringSplit(Lower(StringTrim(AttributeReference)), Literal, Literal)"
    }
    hoisted = docs.select("doc_id", tokens(F.col("text")).alias("t")).select(
        "doc_id", shingles(F.col("t")).alias("s")
    )
    assert lambda_invariant_subexpressions(hoisted) == []
    arrays = spark.createDataFrame([([1, 2],)], "a ARRAY<INT>")
    sized = arrays.select(F.transform("a", lambda x: x + F.size("a")))
    assert lambda_invariant_subexpressions(sized) == []
    scaled = arrays.select(F.transform("a", lambda x: x * F.abs(F.size("a") - 1)))
    assert lambda_invariant_subexpressions(scaled) == [
        "Abs(Subtract(Size(AttributeReference), Literal))"
    ]


def test_structural_rebuilt_array_detector(spark):
    """The rebuilt-array rule flags the size(...) > 0 filter Catalyst
    infers under an inner posexplode of a projected transform (the
    array is then built twice per row) and stays silent when the raw
    column is exploded and each element cast instead."""
    from audit_plans import rebuilt_array_filters
    from pyspark.sql import functions as F

    emb = spark.createDataFrame([(1, [0.5, 0.25])], "vec_id INT, embedding ARRAY<FLOAT>")
    arr = emb.select(F.transform("embedding", lambda x: x.cast("double")).alias("arr"))
    twice = arr.select(F.posexplode("arr"))
    assert rebuilt_array_filters(twice) == [
        "GreaterThan(Size(ArrayTransform(AttributeReference, "
        "LambdaFunction(Cast(NamedLambdaVariable), NamedLambdaVariable))), Literal)"
    ]
    once = emb.select(F.posexplode("embedding").alias("i", "x")).select(
        "i", F.col("x").cast("double")
    )
    assert rebuilt_array_filters(once) == []
