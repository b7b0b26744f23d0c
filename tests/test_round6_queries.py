"""Crafted-data semantics tests for the round-6 queries (q264 IVF
recall sweep, q265 MinHash estimator audit, q266 temperature mixing) —
pure-Python mirrors on tiny hand-built tables, independent of the
synthetic corpus (the r5 crafted-test pattern)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from movie_data_pipeline_spark.plans import REGISTRY

pytestmark = pytest.mark.usefixtures("_scoped")

DOC_SCHEMA = (
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
)
EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def _r4(x: float) -> float:
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def _write(spark, base, docs=None, emb=None):
    if docs is not None:
        spark.createDataFrame(docs, DOC_SCHEMA).coalesce(1).write.parquet(
            str(base / "documents.parquet")
        )
    if emb is not None:
        spark.createDataFrame(emb, EMB_SCHEMA).coalesce(1).write.parquet(
            str(base / "embeddings.parquet")
        )
    return str(base)


# --------------------------------------------------------------------------
# q266 — temperature mixing
# --------------------------------------------------------------------------
def test_temperature_mixing_crafted(spark, tmp_path):
    """Three sources with token counts 60/30/10: T=1 reproduces the
    natural shares exactly; higher T compresses toward uniform
    (monotonically lifting the smallest source, shrinking the
    largest); weights sum to ~1 per temperature and expected tokens
    re-scale the 100-token corpus."""
    base = tmp_path / "tm"
    base.mkdir()
    rows = [
        (1, " ".join(f"a{i}" for i in range(60)), "en", "big", 1),
        (2, " ".join(f"b{i}" for i in range(30)), "en", "mid", 1),
        (3, " ".join(f"c{i}" for i in range(10)), "en", "small", 1),
    ]
    d = _write(spark, base, docs=rows)
    out = REGISTRY["q266_temperature_mixing"].build(spark, d)
    got = {(r.temperature, r.source): r for r in out.collect()}
    assert len(got) == 9  # 3 temperatures x 3 sources

    # T=1: weight == natural share
    for src, share in (("big", 0.6), ("mid", 0.3), ("small", 0.1)):
        r = got[(1.0, src)]
        assert r.corpus_share == pytest.approx(share, abs=1e-4)
        assert r.sample_weight == pytest.approx(share, abs=2e-4)
        assert r.expected_tokens == pytest.approx(share * 100, abs=1)

    # higher temperature lifts the tail and shrinks the head,
    # monotonically in T
    assert (
        got[(1.0, "small")].sample_weight
        < got[(2.0, "small")].sample_weight
        < got[(5.0, "small")].sample_weight
    )
    assert (
        got[(1.0, "big")].sample_weight
        > got[(2.0, "big")].sample_weight
        > got[(5.0, "big")].sample_weight
    )
    for t in (1.0, 2.0, 5.0):
        total_w = sum(r.sample_weight for (tt, _), r in got.items() if tt == t)
        assert total_w == pytest.approx(1.0, abs=5e-4)

    # python mirror of the T=2 weight for 'big'
    raws = {s: _r4((n / 100.0) ** 0.5) for s, n in (("big", 60), ("mid", 30), ("small", 10))}
    z = sum(raws.values())  # quantized values sum exactly in decimal
    assert got[(2.0, "big")].sample_weight == pytest.approx(
        _r4(raws["big"] / z), abs=1e-9
    )


# --------------------------------------------------------------------------
# q265 — MinHash estimator audit
# --------------------------------------------------------------------------
def test_minhash_estimate_identical_docs(spark, tmp_path):
    """Two identical documents: every signature row matches
    (est_jaccard = 1.0), exact jaccard = 1.0, abs_err = 0. A third
    disjoint document may appear only with sub-1 estimates."""
    base = tmp_path / "mh"
    base.mkdir()
    text = " ".join(f"w{i:03d}" for i in range(100))
    other = " ".join(f"z{i:03d}" for i in range(100))
    rows = [
        (1, text, "en", "s", 1),
        (2, text, "en", "s", 1),
        (3, other, "en", "s", 1),
    ]
    d = _write(spark, base, docs=rows)
    out = {
        (r.doc_a, r.doc_b): r
        for r in REGISTRY["q265_minhash_estimate_audit"].build(spark, d).collect()
    }
    pair = out[(1, 2)]
    assert pair.est_jaccard == 1.0
    assert pair.exact_jaccard == 1.0
    assert pair.abs_err == 0.0
    # disjoint docs share no shingles: if banding ever surfaces such a
    # pair its exact jaccard must be 0
    for (a, b), r in out.items():
        if 3 in (a, b):
            assert r.exact_jaccard == 0.0


def test_minhash_estimate_partial_overlap(spark, tmp_path):
    """A half-overlapping pair: exact jaccard is the set ratio, the
    16-hash estimate lands within the binomial 3-sigma envelope
    (sd = sqrt(J(1-J)/16)), and abs_err is their difference."""
    base = tmp_path / "mh2"
    base.mkdir()
    # doc1 = w0..w62, doc2 = w3..w65 -> 3-gram jaccard ~ 0.906, which
    # the 4x4 banding surfaces deterministically (md5 hashes are fixed)
    text1 = " ".join(f"w{i:03d}" for i in range(63))
    text2 = " ".join(f"w{i:03d}" for i in range(3, 66))
    rows = [(1, text1, "en", "s", 1), (2, text2, "en", "s", 1)]
    d = _write(spark, base, docs=rows)
    rows_out = (
        REGISTRY["q265_minhash_estimate_audit"].build(spark, d).collect()
    )
    assert len(rows_out) == 1, "high-overlap pair must be an LSH candidate"
    r = rows_out[0]

    def sh3(t):
        tt = t.lower().split()
        return {" ".join(tt[i : i + 3]) for i in range(len(tt) - 2)}

    a, b = sh3(text1), sh3(text2)
    exact = len(a & b) / len(a | b)
    assert r.exact_jaccard == pytest.approx(_r4(exact), abs=1e-9)
    sd = math.sqrt(exact * (1 - exact) / 16)
    assert abs(r.est_jaccard - exact) <= 3 * sd + 1e-9
    assert r.abs_err == pytest.approx(
        _r4(abs(r.est_jaccard - exact)), abs=2e-4
    )


# --------------------------------------------------------------------------
# q264 — IVF recall sweep
# --------------------------------------------------------------------------
def test_ivf_recall_monotone_and_bounded(spark, tmp_path):
    """Crafted 64-dim embeddings with planted clusters: recall is
    monotone non-decreasing in nprobe, probing more cells never
    shrinks the candidate pool, and every count is consistent
    (hits <= approx_pairs, hits <= exact_pairs)."""
    import hashlib

    base = tmp_path / "ivf"
    base.mkdir()

    def vec(cluster, j):
        # cluster center +- deterministic jitter
        out = []
        for dim in range(64):
            h = int(
                hashlib.md5(f"{cluster}:{j}:{dim}".encode()).hexdigest()[:4],
                16,
            )
            center = 1.0 if (dim % 7) == cluster else 0.1
            out.append(float(center + (h / 65535.0 - 0.5) * 0.2))
        return out

    rows = []
    vid = 0
    for cluster in range(4):
        for j in range(50):
            rows.append((vid, vec(cluster, j), cluster))
            vid += 1
    d = _write(spark, base, emb=rows)
    out = (
        REGISTRY["q264_ivf_recall_sweep"]
        .build(spark, d)
        .orderBy("nprobe")
        .collect()
    )
    assert [r.nprobe for r in out] == [1, 2, 4]
    n_queries = out[0].n_queries
    assert n_queries == 2  # vec_id % 100 == 0 -> ids 0 and 100
    for r in out:
        assert r.n_exact_pairs == n_queries * 10
        assert r.n_hits <= r.n_approx_pairs
        assert r.n_hits <= r.n_exact_pairs
        assert r.recall == pytest.approx(
            _r4(r.n_hits / r.n_exact_pairs), abs=1e-9
        )
    recalls = [r.recall for r in out]
    approx = [r.n_approx_pairs for r in out]
    assert recalls == sorted(recalls)
    assert approx == sorted(approx)
    # planted clusters: by 4 probes the right cell group is covered
    assert recalls[-1] >= 0.8


# --------------------------------------------------------------------------
# q238 — embedding outlier quarantine (r6 quantized-norm semantics)
# --------------------------------------------------------------------------
def test_embedding_outliers_unit_corpus_is_empty(spark, tmp_path):
    """A perfectly unit-normalized corpus has quantized-norm sigma 0 —
    the quarantine list must be EMPTY (the r6 fix: raw norms differ
    only at float-noise level and each engine's noise differs, so
    thresholding unquantized z-scores fabricated outliers)."""
    base = tmp_path / "unit"
    base.mkdir()
    rows = []
    for i in range(40):
        v = [0.0] * 64
        v[i % 64] = 1.0  # exact unit norm
        rows.append((i, [float(x) for x in v], i % 3))
    _write(spark, base, emb=rows)
    out = REGISTRY["q238_embedding_outliers"].build(spark, str(base))
    assert out.count() == 0


def test_embedding_outliers_planted(spark, tmp_path):
    """Planting a genuinely-exploded norm among a cluster of near-unit
    rows quarantines exactly that row (a near-zero vector planted
    alongside is MASKED — the single extreme point inflates sigma past
    its own |z|, the classic z-score masking effect, so it must NOT
    appear; robust variants like q147's MAD exist for that)."""
    base = tmp_path / "planted"
    base.mkdir()
    rows = []
    for i in range(60):
        v = [0.0] * 64
        v[i % 64] = 1.0 + (i % 5) * 0.01  # norms 1.00..1.04
        rows.append((i, [float(x) for x in v], 0))
    big = [0.0] * 64
    big[0] = 9.0
    tiny = [0.001] + [0.0] * 63
    rows.append((100, [float(x) for x in big], 1))
    rows.append((101, [float(x) for x in tiny], 1))
    _write(spark, base, emb=rows)
    got = {
        r.vec_id: r
        for r in REGISTRY["q238_embedding_outliers"].build(spark, str(base)).collect()
    }
    assert set(got) == {100}
    assert got[100].z > 2.5
    assert got[100].norm == 9.0
