"""Planted-corpus property tests for the round-7 corpus operators:
q268's exact-substring detection guarantee (any cross-doc repeat
>= 40 chars is found regardless of alignment), q271's CDC boundary
realignment (chunks re-synchronize after an insertion, which
fixed-stride chunking cannot), and q272's zero-distortion fixpoint
(a corpus of codebook-exact prototypes quantizes losslessly)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.plans import REGISTRY
from movie_data_pipeline_spark.schemas import TESTDATA_SCHEMAS

pytestmark = pytest.mark.usefixtures("_scoped")


def _write_docs(spark, rows):
    """rows: (doc_id, text, lang, source). Writes a documents.parquet
    shaped like the driver testdata into a temp sf dir."""
    base = tempfile.mkdtemp(prefix="mdp-planted-")
    spark.createDataFrame(
        [(i, t, la, s, len(t)) for (i, t, la, s) in rows],
        TESTDATA_SCHEMAS["documents"],
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")
    return base


def _write_embeddings(spark, rows):
    base = tempfile.mkdtemp(prefix="mdp-planted-")
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for (i, v) in rows],
        TESTDATA_SCHEMAS["embeddings"],
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{base}/embeddings.parquet"
    )
    return base


def test_repeated_passage_found_at_any_alignment(spark):
    """A 60-char passage shared by two docs at offsets differing by 7
    (co-prime with any stride>1) must surface as exactly one span of
    covered_chars == 60 in BOTH docs — the stride-1 guarantee q268's
    docstring claims. A third, unique doc must not appear."""
    shared = "the quick brown fox jumps over the lazy dog again and again!"
    assert len(shared) == 60
    # distinct filler so no other window repeats across docs
    pre0, pre1 = "A" * 20, "B" * 27  # offsets differ by 7
    post0, post1 = "C" * 25, "D" * 30
    rows = [
        (0, pre0 + shared + post0, "en", "src0"),
        (1, pre1 + shared + post1, "en", "src1"),
        (2, "E" * 120, "en", "src2"),
    ]
    base = _write_docs(spark, rows)
    try:
        out = {
            r["doc_id"]: r
            for r in REGISTRY["q268_repeated_passages"]
            .build(spark, base)
            .collect()
        }
        assert set(out) == {0, 1}
        for d in (0, 1):
            assert out[d]["n_spans"] == 1
            assert out[d]["covered_chars"] == 60
            assert out[d]["max_span_len"] == 60
            # shared window starts = 60 - 40 + 1
            assert out[d]["n_dup_windows"] == 21
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cdc_chunks_realign_after_insertion(spark):
    """doc B = one char inserted at the head of doc A: CDC boundaries
    downstream of the insertion re-synchronize, so the two sources
    share chunk digests. The equivalent fixed-stride comparison (q250
    digests at stride offsets) shares nothing once shifted by one —
    re-derived here inline as the contrast baseline."""
    import hashlib

    text_a = (
        "pack my box with five dozen liquor jugs while zephyrs vex a "
        "quick daft jim and the jay walks by the lazy river bend now "
        "under bright autumn skies the caravan moves slowly onward to "
        "market town where traders barter salt cloth and sweet dates"
    )
    text_b = "X" + text_a
    base = _write_docs(
        spark,
        [(0, text_a, "en", "srcA"), (1, text_b, "en", "srcB")],
    )
    try:
        out = {
            r["source"]: r
            for r in REGISTRY["q271_cdc_chunking_audit"]
            .build(spark, base)
            .collect()
        }
        assert out["srcA"]["n_chunks_shared_xsource"] > 0
        assert out["srcB"]["n_chunks_shared_xsource"] > 0
        # contrast: fixed 64-char stride digests share nothing after
        # the one-char shift (chunk boundaries never re-align)
        fixed = lambda t: {
            hashlib.md5(t[i : i + 64].encode()).hexdigest()
            for i in range(0, len(t), 64)
        }
        assert not (fixed(text_a) & fixed(text_b))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_pq_zero_distortion_on_prototype_corpus(spark):
    """Vectors drawn EXACTLY from 8 prototype vectors with
    6-decimal-exact coordinates: the seed-Voronoi codebook reproduces
    the prototypes (DECIMAL(30,6) means are exact), so every
    per-subspace MSE is 0 and ADC ranking recovers exact top-10
    perfectly (all distances tie at 0 or exact prototype distances,
    ties break by vec_id on both rankings)."""
    protos = []
    for k in range(8):
        # multiples of 0.5 -> exact in DECIMAL(30,6), in IEEE doubles,
        # and (squared) in round4 quantization, so every distance the
        # audit compares is exact
        protos.append([0.5 * ((k * 7 + d * 3) % 9 - 4) for d in range(64)])
    # exactly one vector per prototype: the 8 seeds ARE the 8
    # prototypes (whatever the md5 order), every vector self-assigns
    # at distance 0, and vec_id 0 is the single _QUERY_PRED query
    rows = [(i, protos[i]) for i in range(8)]
    base = _write_embeddings(spark, rows)
    try:
        out = (
            REGISTRY["q272_pq_codebook_audit"].build(spark, base).collect()
        )
        assert len(out) == 8
        for r in out:
            assert r["mse"] == 0.0
            assert r["n_vectors"] == 8
            assert r["n_codes_used"] == 8
            assert r["n_exact_pairs"] == 7
            assert r["recall_at_10"] == 1.0
    finally:
        shutil.rmtree(base, ignore_errors=True)
