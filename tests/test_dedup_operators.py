"""Operator-level dedup tests on crafted corpora — prove the detection
paths fire (the synthetic testdata drives the oracle checks; these drive
semantics: planted exact dups, near-dups, and unrelated docs).
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.functions.text import word_shingles
from movie_data_pipeline_spark.operators.dedup import (
    doc_shingles,
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs_wide,
    minhash_signatures_wide,
    simhash,
)
from tests.conftest import TESTDATA_SF_DIR

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from audit_plans import plan_expressions  # noqa: E402

pytestmark = pytest.mark.usefixtures("_scoped")

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill near the garden gate"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-token edit → high jaccard
OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution pipelines"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, OTHER)]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_duplicates(corpus):
    out = {r.rep_doc_id: r.n_copies for r in exact_duplicates(corpus).collect()}
    assert out[0] == 2  # docs 0 and 1 identical
    assert out[2] == 1 and out[3] == 1


def test_jaccard_finds_near_dup(corpus):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(corpus, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup pair
    assert 0.5 <= pairs[(0, 2)] < 1.0  # near-dup pair
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_jaccard_df_cap_drops_stop_shingles(corpus):
    # With a document-frequency cap of 1, shingles shared by any two
    # docs are dropped → no pair can reach the threshold.
    out = jaccard_pairs(corpus, threshold=0.1, max_shingle_df=1).collect()
    assert out == []


def test_minhash_lsh_candidates(corpus):
    sigs = minhash_signatures_wide(corpus)
    cand = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs_wide(sigs).collect()}
    assert (0, 1) in cand  # identical docs always collide in every band
    assert (0, 2) in cand  # planted near-dup should collide in ≥1 band
    assert (0, 3) not in cand and (2, 3) not in cand


def test_simhash_hamming_ordering(corpus):
    fp = {r.doc_id: r.simhash for r in simhash(corpus).collect()}

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert fp[0] == fp[1]  # identical text → identical fingerprint
    assert hamming(fp[0], fp[2]) < hamming(fp[0], fp[3])


def test_incremental_matches_equal_cross_split_self_join(corpus):
    """incremental_lsh_matches(batch, corpus) must produce exactly the
    cross-split subset of the full self-join's candidate pairs — i.e.
    incremental ingestion finds the same duplicates the bootstrap
    self-join would, restricted to (new, existing) pairs."""
    from movie_data_pipeline_spark.operators.dedup import (
        incremental_lsh_matches,
    )

    batch = corpus.filter(F.col("doc_id") % 2 == 0)
    existing = corpus.filter(F.col("doc_id") % 2 == 1)
    got = {
        (r.batch_id, r.corpus_id)
        for r in incremental_lsh_matches(
            minhash_signatures_wide(batch), minhash_signatures_wide(existing)
        ).collect()
    }
    full = lsh_candidate_pairs_wide(minhash_signatures_wide(corpus)).collect()
    want = set()
    for r in full:
        if r.doc_a % 2 == 0 and r.doc_b % 2 == 1:
            want.add((r.doc_a, r.doc_b))
        elif r.doc_b % 2 == 0 and r.doc_a % 2 == 1:
            want.add((r.doc_b, r.doc_a))
    assert got == want and got  # non-trivial: planted dup pair crosses the split


def test_ppjoin_matches_bruteforce_on_crafted(corpus):
    from movie_data_pipeline_spark.operators.dedup import ppjoin_pairs

    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(corpus, threshold=0.5).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ppjoin_pairs(corpus, threshold=0.5).collect()
    }
    assert got == want  # lossless: identical pair set AND values


def test_ppjoin_releases_caches_on_error(spark, corpus, monkeypatch):
    """An exception between the shingle/array caches' persist and the
    final localCheckpoint must not leak the caches."""
    from movie_data_pipeline_spark.operators.dedup import ppjoin_pairs

    def fail(self, *args, **kwargs):
        raise RuntimeError("injected localCheckpoint failure")

    def persistent() -> set[int]:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return set(rdds.keySet().toArray())

    # only what the call persisted counts: an RDD released meanwhile
    # (Spark's ContextCleaner) must not move the comparison
    entry = persistent()
    monkeypatch.setattr(type(corpus), "localCheckpoint", fail)
    with pytest.raises(RuntimeError, match="injected"):
        ppjoin_pairs(corpus, threshold=0.5)
    assert persistent() - entry == set()


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_ppjoin_lossless_vs_uncapped_bucket_join(spark, threshold):
    """Independent-implementation equivalence on the real synthetic
    corpus: prefix-filtered PPJoin must equal the uncapped bucket join
    exactly, at every threshold (the prefix bound is threshold-
    dependent, so one threshold would not exercise the ceil edge
    cases)."""
    from movie_data_pipeline_spark.operators.dedup import ppjoin_pairs
    from movie_data_pipeline_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    want = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in jaccard_pairs(docs, threshold=threshold).collect()
    }
    got = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ppjoin_pairs(docs, threshold=threshold).collect()
    }
    assert got == want


def test_exact_ceiling_vs_float_ceil(spark):
    """The pruning bounds must use exact integer ceilings: for every
    decimal threshold and set size, _ceil_ratio_mul == math.ceil of the
    exact rational product — including the boundary cases where a
    double product like 0.7*10 = 7.000000000000001 would flip F.ceil
    up a step and shorten the prefix below the lossless minimum."""
    import math
    from fractions import Fraction

    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.dedup import _ceil_ratio_mul

    sizes = spark.range(1, 201).withColumnRenamed("id", "s")
    for t in ("0.1", "0.2", "0.3", "0.34", "0.5", "0.67", "0.7", "0.8"):
        fr = Fraction(t)
        num, den = fr.numerator, fr.denominator
        got = [
            r.c
            for r in sizes.select(
                _ceil_ratio_mul(num, den, F.col("s")).alias("c")
            )
            .orderBy("s")
            .collect()
        ]
        want = [math.ceil(fr * s) for s in range(1, 201)]
        assert got == want, f"threshold {t}"


from hypothesis import given, settings, strategies as st


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta eps zeta eta".split()),
            min_size=1,
            max_size=12,
        ),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.2, 0.34, 0.5, 0.67, 0.85]),
)
@pytest.mark.slow
def test_ppjoin_lossless_property(spark, docs, threshold):
    """Fuzzed losslessness: random tiny-vocab corpora hammer the
    prefix-length ceil boundaries, the positional-filter bound, and the
    shorter-than-n whole-doc shingle path; PPJoin must equal the
    uncapped bucket join on every draw."""
    from movie_data_pipeline_spark.operators.dedup import ppjoin_pairs

    corpus = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id LONG, text STRING",
    )
    want = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in jaccard_pairs(corpus, threshold=threshold).collect()
    }
    got = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ppjoin_pairs(corpus, threshold=threshold).collect()
    }
    assert got == want


# Edge rows for the shingle equivalence: empty, whitespace-only, 1- and
# 2-word docs (whole-doc shingle), repeated 3-grams, and null text.
EDGE_TEXTS = [
    (900, ""),
    (901, "   \t  "),
    (902, "solo"),
    (903, "two words"),
    (904, "a b c a b c a b c"),
    (905, None),
]


@pytest.fixture(scope="module")
def shingle_corpus(spark):
    docs = spark.read.parquet(f"{TESTDATA_SF_DIR}/documents.parquet")
    edge = spark.createDataFrame(EDGE_TEXTS, "doc_id LONG, text STRING")
    return docs.select("doc_id", "text").unionByName(edge)


def _inline_doc_shingles(df):
    """The reference: the tokenizer inlined into the n-gram lambda."""
    return df.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("shingle")
    )


def _bag(df):
    return Counter(map(tuple, df.collect()))


def test_hoisted_shingles_equal_inline_reference(shingle_corpus, monkeypatch):
    from movie_data_pipeline_spark.operators import dedup

    got_shingles = _bag(dedup.doc_shingles(shingle_corpus))
    got_sigs = _bag(minhash_signatures_wide(shingle_corpus))
    monkeypatch.setattr(dedup, "doc_shingles", _inline_doc_shingles)
    assert got_shingles == _bag(_inline_doc_shingles(shingle_corpus))
    assert got_sigs == _bag(minhash_signatures_wide(shingle_corpus))
    edge = {r[0] for r in got_shingles if r[0] >= 900}
    assert edge == {r[0] for r in EDGE_TEXTS}


def test_doc_shingles_splits_once_outside_lambdas(spark):
    docs = spark.read.parquet(f"{TESTDATA_SF_DIR}/documents.parquet")

    def splits(tree, in_lambda=False):
        cls, kids = tree
        inner = in_lambda or cls == "LambdaFunction"
        return [in_lambda] * (cls == "StringSplit") + [
            s for k in kids for s in splits(k, inner)
        ]

    found = [
        s for tree in plan_expressions(doc_shingles(docs))
        for s in splits(tree)
    ]
    assert found == [False]
