"""Recall gate for q256b, the banded-LSH margin-mining plan: its
answer is graded against q256's exact (cross-join) answer the way q132
grades the ANN index against brute-force top-k — measured floors, not
aspirations (VERDICT r5 #1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.plans import REGISTRY
from movie_data_pipeline_spark.plans.similarity import (
    _MB_BANDS,
    _MB_RMAX,
    _MB_TARGET,
    _margin_exact,
    _margin_lsh,
    _mb_rows_per_band,
)
from tests.conftest import ORACLE_SF_DIR, TESTDATA_SF_DIR

pytestmark = pytest.mark.usefixtures("_scoped")


def test_rows_per_band_ladder():
    """Integer ladder: smallest r with 2**r >= ceil(n/target), clamped
    to [2, _MB_RMAX] — spot values plus the exhaustive invariant."""
    assert _mb_rows_per_band(1) == 2
    assert _mb_rows_per_band(250) == 2      # sf0.001 / sf0.01 shards
    assert _mb_rows_per_band(1000) == 4     # sf0.1 shards
    assert _mb_rows_per_band(10_000) == 8   # 10x probe scale (capped)
    for n in range(1, 20_000, 37):
        r = _mb_rows_per_band(n)
        m = (n + _MB_TARGET - 1) // _MB_TARGET
        assert 2 <= r <= _MB_RMAX
        if r < _MB_RMAX:
            assert 2**r >= m
        if r > 2:
            assert 2 ** (r - 1) < m


@pytest.mark.parametrize(
    "sf_dir", [TESTDATA_SF_DIR, ORACLE_SF_DIR], ids=["sf0.001", "sf0.01"]
)
def test_margin_lsh_recall_vs_exact(spark, sf_dir):
    """Every floor is the measured value minus slack: recall/precision
    0.983/0.975 at sf0.001, 0.996/0.987 at sf0.01 (both r=2, where the
    exact-audit sample is the full shard). A drop below 0.9 means the
    banding or the plane table changed semantics, not noise (the plan
    is fully deterministic). The sf0.01 gate is VERDICT r6 #2."""
    exact = (
        REGISTRY["q256_margin_candidate_mining"]
        .build(spark, sf_dir)
        .select("x_id", "y_id")
        .persist()
    )
    approx = (
        REGISTRY["q256b_margin_mining_lsh"]
        .build(spark, sf_dir)
        .persist()
    )
    n_exact = exact.count()
    n_approx = approx.count()
    hits = approx.join(exact, ["x_id", "y_id"], "left_semi").count()
    assert n_exact > 0
    assert hits / n_exact >= 0.9, f"recall {hits}/{n_exact}"
    assert hits / n_approx >= 0.9, f"precision {hits}/{n_approx}"
    exact.unpersist()
    approx.unpersist()


def test_margin_lsh_recall_steep_region_r4(spark):
    """VERDICT r6 #2: the 'recall decays on isotropic corpora but holds
    in the steep S-curve region' claim, DEMONSTRATED at the r=4 ladder
    rung instead of asserted. A planted corpus of 600 true pairs
    (cos ~ 0.9) per side drives the ladder to r=4 (m = ceil(600/64) =
    10 -> r=4, as at sf0.1); banded-LSH margin mining must recover
    >= 0.9 of the exact answer there, even though the same rung
    measured ~0.76 on the near-isotropic embeddings table."""
    import numpy as np

    n, dim = 600, 64
    rng = np.random.default_rng(7)
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # cos(base, base + s*g) concentrates near 1/sqrt(1+s^2): s = 0.48
    # -> planted cos ~ 0.90, squarely in the steep region
    s = 0.48
    xv = base + s * rng.standard_normal((n, dim)) / dim**0.5
    yv = base + s * rng.standard_normal((n, dim)) / dim**0.5
    x = spark.createDataFrame(
        [(i, [float(v) for v in xv[i]]) for i in range(n)],
        "x_id LONG, xv ARRAY<DOUBLE>",
    )
    y = spark.createDataFrame(
        [(i + 1_000_000, [float(v) for v in yv[i]]) for i in range(n)],
        "y_id LONG, yv ARRAY<DOUBLE>",
    )
    assert _mb_rows_per_band(n) == 4  # the rung under test
    exact = _margin_exact(x, y).select("x_id", "y_id").persist()
    approx = _margin_lsh(x, y).select("x_id", "y_id").persist()
    n_exact = exact.count()
    n_approx = approx.count()
    hits = approx.join(exact, ["x_id", "y_id"], "left_semi").count()
    # the planted pairs dominate the exact answer; sanity-check that
    # the corpus really put the accepted pairs in the steep region
    assert n_exact >= 0.8 * n, f"corpus not steep: {n_exact} accepted"
    assert hits / n_exact >= 0.9, f"recall {hits}/{n_exact}"
    assert n_approx > 0
    exact.unpersist()
    approx.unpersist()


def test_margin_lsh_candidate_volume_is_pruned(spark):
    """The band join must examine strictly fewer pairs than the cross
    product — the whole point of the plan. Re-derive the candidate set
    exactly as the query does and compare against |X| * |Y|."""
    from movie_data_pipeline_spark.operators.similarity import (
        _hyperplane,
        dot,
        _to_double,
    )
    from movie_data_pipeline_spark.plans.similarity import (
        _ANN_DIM,
        _MARGIN_X_PRED,
        _MARGIN_Y_PRED,
    )
    from movie_data_pipeline_spark.sources.registry import load_table

    emb = load_table(spark, TESTDATA_SF_DIR, "embeddings")
    x = emb.filter(F.expr(_MARGIN_X_PRED)).select(
        F.col("vec_id").alias("x_id"), _to_double("embedding").alias("v")
    )
    y = emb.filter(F.expr(_MARGIN_Y_PRED)).select(
        F.col("vec_id").alias("y_id"), _to_double("embedding").alias("v")
    )
    nx, ny = x.count(), y.count()
    r = _mb_rows_per_band((nx + ny) // 2)
    planes = [_hyperplane(_ANN_DIM, i) for i in range(_MB_BANDS * r)]

    def sig(side, idc):
        chars = [
            F.when(
                dot(F.col("v"), F.array(*[F.lit(c) for c in p])) >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for p in planes
        ]
        return (
            side.select(idc, F.concat(*chars).alias("s"))
            .select(
                idc,
                F.explode(F.sequence(F.lit(0), F.lit(_MB_BANDS - 1))).alias(
                    "b"
                ),
                "s",
            )
            .select(
                idc,
                "b",
                F.substring(F.col("s"), F.col("b") * r + 1, r).alias("sig"),
            )
        )

    n_cand = (
        sig(x, "x_id")
        .join(sig(y, "y_id"), ["b", "sig"])
        .select("x_id", "y_id")
        .distinct()
        .count()
    )
    assert n_cand < nx * ny, f"no pruning: {n_cand} vs {nx * ny}"
    # For an isotropic corpus the per-plane collision probability is
    # ~1/2, so the candidate fraction is ~1 - (1 - 2^-r)^bands (0.90
    # at r=2 — tiny corpora barely prune, by design: r grows with n
    # and the fraction falls to 0.03 at r=8; the 10x probe shows the
    # trend). Gate against the analytic bound plus slack so a banding
    # bug that silently admits everything still fails.
    frac_bound = 1.0 - (1.0 - 2.0**-r) ** _MB_BANDS
    assert n_cand <= (frac_bound + 0.05) * nx * ny, (
        f"{n_cand} vs bound {frac_bound:.3f} * {nx * ny}"
    )
