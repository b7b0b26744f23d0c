"""Planted-corpus and pure-Python-mirror tests for the round-9
operators: q286 training-order manifest (mirror of the seeded
permutation + fixed-size shards + digests), q288 cluster churn
(a planted split AND a planted merge must both classify)."""

from __future__ import annotations

import hashlib
import shutil
import tempfile

import pytest

from movie_data_pipeline_spark.plans import REGISTRY
from movie_data_pipeline_spark.schemas import TESTDATA_SCHEMAS

pytestmark = pytest.mark.usefixtures("_scoped")


# ---------------------------------------------------------------------------
# q286 — pure-Python mirror on the real sf0.001 corpus
# ---------------------------------------------------------------------------
def test_training_order_manifest_matches_pure_python_mirror(spark):
    import duckdb

    sf = "/root/testdata/sf0.001"
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{sf}/documents.parquet'"
        ).fetchall()
    ]
    ranked = sorted(
        ids,
        key=lambda i: (
            hashlib.md5(f"{i}:order:epoch0".encode()).hexdigest(),
            i,
        ),
    )
    n = len(ranked)
    width = (n + 15) // 16
    shards: dict[int, dict] = {}
    for pos, doc_id in enumerate(ranked, start=1):
        sh = (pos - 1) // width
        d = shards.setdefault(
            sh, {"n": 0, "mn": pos, "mx": pos, "dig": 0}
        )
        d["n"] += 1
        d["mn"] = min(d["mn"], pos)
        d["mx"] = max(d["mx"], pos)
        d["dig"] += int(
            hashlib.md5(f"{doc_id}:{pos}".encode()).hexdigest()[:8], 16
        )
    got = {
        r.shard: r
        for r in REGISTRY["q286_training_order_manifest"]
        .build(spark, sf)
        .collect()
    }
    assert set(got) == set(shards)
    for sh, exp in shards.items():
        r = got[sh]
        assert (r.n_docs, r.min_rank, r.max_rank, r.content_digest) == (
            exp["n"], exp["mn"], exp["mx"], exp["dig"]
        )
    # fixed-size contract: all shards but the last hold exactly `width`
    last = max(shards)
    assert all(
        shards[s]["n"] == width for s in shards if s != last
    )
    # rank intervals tile [1, n] with no overlap
    assert sorted(
        (shards[s]["mn"], shards[s]["mx"]) for s in shards
    ) == [
        (i * width + 1, min((i + 1) * width, n)) for i in range(len(shards))
    ]


# ---------------------------------------------------------------------------
# q288 — planted split AND merge must both classify
# ---------------------------------------------------------------------------
X = "alpha beta gamma delta epsilon zeta eta theta"
Y = "iota kappa lambda mu nu xi omicron pi"
BRIDGE_XY = "alpha beta gamma delta iota kappa lambda mu"  # J=0.2 to both
P = "rho sigma tau upsilon phi chi psi omega"
Q = "one two three four five six seven eight"
BRIDGE_PQ = "rho sigma tau upsilon one two three four"
STABLE = "stable anchor text shared verbatim across both snapshots here"


def test_cluster_churn_classifies_planted_split_and_merge(spark):
    rows = [
        # split: bridge doc 13 is absent from snapshot B (13 % 13 == 0)
        (1, X, "en", "s0"),
        (2, Y, "en", "s0"),
        (13, BRIDGE_XY, "en", "s0"),
        # merge: bridge doc 11 is absent from snapshot A (11 % 11 == 0)
        (3, P, "en", "s1"),
        (4, Q, "en", "s1"),
        (11, BRIDGE_PQ, "en", "s1"),
        # stable two-doc cluster, present in both snapshots
        (5, STABLE, "en", "s2"),
        (6, STABLE, "en", "s2"),
    ]
    base = tempfile.mkdtemp(prefix="mdp-r9-churn-")
    try:
        spark.createDataFrame(
            [(i, t, la, s, len(t)) for (i, t, la, s) in rows],
            TESTDATA_SCHEMAS["documents"],
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{base}/documents.parquet"
        )
        got = {
            r.cluster_a: r
            for r in REGISTRY["q288_cluster_churn_audit"]
            .build(spark, base)
            .collect()
        }
        # A-cluster anchored at 1 = {1, 2, 13}; bridge gone in B ->
        # shared members 1 and 2 land in two B-clusters
        r = got[1]
        assert r.status == "split"
        assert (r.n_shared, r.n_b_clusters, r.n_moved) == (2, 2, 1)
        assert r.main_b_cluster == 1
        # A-singletons 3 and 4 both map into B-cluster {3, 4, 11}
        assert got[3].status == "merged" and got[4].status == "merged"
        assert got[3].main_b_cluster == 3 and got[4].main_b_cluster == 3
        # the untouched pair stays stable
        r5 = got[5]
        assert r5.status == "stable"
        assert (r5.n_shared, r5.n_b_clusters, r5.n_moved) == (2, 1, 0)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# q289 / q290 / q291 — invariants on the real corpus
# ---------------------------------------------------------------------------
def test_epoch_decorrelation_invariants(spark):
    sf = "/root/testdata/sf0.001"
    r = (
        REGISTRY["q289_epoch_order_decorrelation"]
        .build(spark, sf)
        .collect()[0]
    )
    assert r.n_docs == 500
    # independent seeded orders: |rho| far from 1 (sd ~ 1/sqrt(n-1))
    assert -0.5 < r.spearman_rho < 0.5
    assert 0 <= r.n_same_shard <= r.n_docs
    # independence predicts ~n/16 same-shard docs; allow a wide band
    assert r.n_same_shard < r.n_docs / 4
    assert abs(r.same_shard_rate - r.n_same_shard / r.n_docs) < 1e-4


def test_rung_planner_invariants(spark):
    sf = "/root/testdata/sf0.001"
    rows = {
        r.rung: r
        for r in REGISTRY["q290_simhash_rung_planner"]
        .build(spark, sf)
        .collect()
    }
    assert set(rows) == {1, 2, 3}
    assert [rows[m].n_bands for m in (1, 2, 3)] == [6, 15, 20]
    n = rows[1].n_band_rows // 6
    assert rows[2].n_band_rows == 15 * n
    assert rows[3].n_band_rows == 20 * n
    # wider bands can only shrink buckets: candidate pairs per band
    # (normalized by band count) must be non-increasing with rung
    per_band = [rows[m].candidate_pairs / rows[m].n_bands for m in (1, 2, 3)]
    assert per_band[0] >= per_band[1] >= per_band[2]
    for m in (1, 2, 3):
        assert rows[m].max_bucket >= 1
        assert rows[m].n_buckets <= rows[m].n_band_rows


def test_order_locality_audit_invariants(spark):
    sf = "/root/testdata/sf0.001"
    rows = (
        REGISTRY["q291_order_locality_audit"].build(spark, sf).collect()
    )
    assert len(rows) == 16
    assert sum(r.n_docs for r in rows) == 500
    for r in rows:
        assert 1 <= r.max_same_source_run <= r.n_docs
        assert r.n_runs <= r.n_docs
        # 20 sources at sf0.001: a healthy shuffle keeps runs short
        assert r.max_same_source_run <= 8


def test_shard_token_budget_invariants(spark):
    sf = "/root/testdata/sf0.001"
    rows = (
        REGISTRY["q293_shard_token_budget_audit"]
        .build(spark, sf)
        .collect()
    )
    assert len(rows) == 16
    assert sum(r.n_docs for r in rows) == 500
    total = sum(r.n_tokens for r in rows)
    assert abs(sum(r.token_share for r in rows) - 1.0) < 0.01
    for r in rows:
        assert r.max_doc_tokens <= r.n_tokens
        # md5-rank sharding: token totals concentrate around the mean
        assert 0.5 < r.balance_ratio < 1.5
        assert abs(r.token_share - r.n_tokens / total) < 1e-4


def test_simhash_bit_balance_structure_on_real_corpus(spark):
    """The synthetic corpus is heavily templated (docs share frequent
    tokens), so its bits are GENUINELY skewed — set shares span
    ~0.01-0.99 — which is exactly the template-collapse signature the
    monitor exists to flag. Assert structure here; the ~50% healthy
    property is asserted on a planted distinct-token corpus below."""
    sf = "/root/testdata/sf0.001"
    rows = (
        REGISTRY["q294_simhash_bit_balance"].build(spark, sf).collect()
    )
    assert [r.bit_idx for r in rows] == list(range(60))
    for r in rows:
        assert 0 <= r.n_set <= 500
        assert abs(r.abs_dev - abs(r.set_share - 0.5)) < 2e-4
    # the skew is real on this corpus: at least some bits far off 0.5
    assert max(r.abs_dev for r in rows) > 0.3


def test_simhash_bit_balance_near_half_on_distinct_tokens(spark):
    """One unique token per document -> each fingerprint IS that
    token's 60-bit hash -> every bit is iid Bernoulli(0.5) across
    docs; with n=400, 6 sigma is +-0.15."""
    import tempfile

    rows = [
        (i, f"tok{i:04d}unique", "en", f"s{i % 4}")
        for i in range(400)
    ]
    base = tempfile.mkdtemp(prefix="mdp-r9-bits-")
    try:
        spark.createDataFrame(
            [(i, t, la, s, len(t)) for (i, t, la, s) in rows],
            TESTDATA_SCHEMAS["documents"],
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{base}/documents.parquet"
        )
        out = (
            REGISTRY["q294_simhash_bit_balance"]
            .build(spark, base)
            .collect()
        )
        assert len(out) == 60
        for r in out:
            assert 0.35 <= r.set_share <= 0.65
    finally:
        shutil.rmtree(base, ignore_errors=True)
