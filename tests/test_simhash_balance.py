"""Round-11 SimHash skew mitigation (VERDICT r10 #1): the entropy-
balanced banding permutation (pure bit permutation — ladder guarantees
and Hamming invariant), the centered fingerprint (per-bit mean
threshold — bit balance by construction), the gate's pinned
thresholds, and the banding migration."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.dedup import (
    balanced_bit_blocks,
    measure_balanced_bit_blocks,
    permute_fingerprint,
    simhash,
    simhash_band_rows,
    simhash_centered,
    simhash_hamming_pairs,
    snake_block_of_rank,
)
from movie_data_pipeline_spark.operators.util import query_scope
from tests.conftest import TESTDATA_SF_DIR

pytestmark = pytest.mark.usefixtures("_scoped")


@pytest.fixture(scope="module")
def docs(spark):
    from movie_data_pipeline_spark.sources.registry import load_table

    return load_table(spark, TESTDATA_SF_DIR, "documents")


@pytest.fixture(scope="module")
def fp(spark, docs):
    with query_scope():
        yield simhash(docs).localCheckpoint(eager=True)


def test_snake_assignment_is_balanced_partition():
    # 60 ranks -> each block gets exactly 10, one per round
    blocks = [snake_block_of_rank(r) for r in range(60)]
    assert all(blocks.count(b) == 10 for b in range(6))
    # round 0 ascending, round 1 descending
    assert blocks[:6] == [0, 1, 2, 3, 4, 5]
    assert blocks[6:12] == [5, 4, 3, 2, 1, 0]


def test_balanced_bit_blocks_is_permutation_and_deterministic():
    counts = [(j * 7919) % 101 for j in range(60)]
    pos = balanced_bit_blocks(counts, 100)
    assert sorted(pos) == list(range(60))
    assert pos == balanced_bit_blocks(counts, 100)
    # most imbalanced bit (largest |2c-n|) goes to block 0, slot 0
    worst = max(range(60), key=lambda j: (abs(2 * counts[j] - 100), -j))
    assert pos[worst] == 0


def test_balanced_blocks_equalize_products():
    # concentrated skew: bits 0-9 fully collapsed, rest uniform — the
    # naive layout puts all dead bits in block 0 (product 1.0, floor
    # ~C(n,2) for band 0); the balanced assignment spreads them one per
    # block pair, pulling the worst block product down toward the
    # geometric mean.
    n = 1000
    counts = [0] * 10 + [n // 2] * 50
    pos = balanced_bit_blocks(counts, n)
    c = [
        (cnt / n) ** 2 + (1 - cnt / n) ** 2 for cnt in counts
    ]
    naive_bp = [
        math.prod(c[j] for j in range(60) if j // 10 == b) for b in range(6)
    ]
    bal_bp = [
        math.prod(c[j] for j in range(60) if pos[j] // 10 == b)
        for b in range(6)
    ]
    assert max(naive_bp) / min(naive_bp) > 100  # concentrated
    assert max(bal_bp) / min(bal_bp) < max(naive_bp) / min(naive_bp) / 10
    # rung-1 expected collisions (sum of block products) drop sharply
    assert sum(bal_bp) < sum(naive_bp) / 50


def test_measured_blocks_match_python_operator(spark, fp):
    blocks = measure_balanced_bit_blocks(fp)
    assert sorted(blocks) == list(range(60))
    row = fp.agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.expr(f"(simhash div {1 << j}) % 2")).alias(f"c{j}")
            for j in range(60)
        ],
    ).first()
    expected = balanced_bit_blocks(
        [int(row[f"c{j}"]) for j in range(60)], int(row["n"])
    )
    assert blocks == expected


def test_identity_permutation_reproduces_band_rows(spark, fp):
    ident = list(range(60))
    a = simhash_band_rows(fp, rung=1)
    b = simhash_band_rows(fp, rung=1, bit_blocks=ident)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_permutation_preserves_rung1_exact_pairs(spark, fp):
    # rung 1 is pigeonhole-exact for Hamming<=5 under ANY disjoint
    # 6-block partition, and Hamming itself is permutation-invariant —
    # so the verified pair set must be IDENTICAL under the measured
    # balanced assignment.
    blocks = measure_balanced_bit_blocks(fp)
    p0 = simhash_hamming_pairs(fp, rung=1)
    p1 = simhash_hamming_pairs(fp, rung=1, bit_blocks=blocks)
    assert p0.exceptAll(p1).isEmpty() and p1.exceptAll(p0).isEmpty()


def test_permute_fingerprint_rejects_non_permutation():
    with pytest.raises(ValueError):
        permute_fingerprint("simhash", [0] * 60)


def test_centered_fingerprint_balances_bits(spark, docs):
    raw = simhash(docs)
    cen = simhash_centered(docs)

    def mean_dev(f):
        r = f.agg(
            F.count("*").alias("n"),
            *[
                F.sum(F.expr(f"(simhash div {1 << j}) % 2")).alias(f"c{j}")
                for j in range(60)
            ],
        ).first()
        return sum(
            abs(r[f"c{j}"] / r["n"] - 0.5) for j in range(60)
        ) / 60

    dev_raw, dev_cen = mean_dev(raw), mean_dev(cen)
    assert dev_cen < dev_raw / 3
    assert dev_cen < 0.1


def test_centered_fingerprints_distinct_on_template_corpus(spark, docs):
    cen = simhash_centered(docs)
    n = cen.count()
    assert cen.select("simhash").distinct().count() == n


def test_banding_migration_equals_fresh_build(spark, docs, tmp_path):
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        migrate_simhash_index,
    )
    from movie_data_pipeline_spark.sources.versioned import VersionedTable
    from movie_data_pipeline_spark.streaming.sinks import (
        simhash_gate_batch_writer,
    )

    batch = docs.limit(80)
    # build naive, migrate to balanced (same rung), compare against a
    # from-scratch balanced build over the same accepted corpus
    acc_a, idx_a = str(tmp_path / "acc_a"), str(tmp_path / "idx_a")
    simhash_gate_batch_writer(acc_a, idx_a, rung=1)(batch, 0)
    idx_t = VersionedTable(idx_a)
    blocks = measure_balanced_bit_blocks(
        idx_t.read(spark).select("doc_id", "simhash").distinct()
    )
    migrate_simhash_index(spark, idx_a, 1, bit_blocks=blocks)
    assert idx_t.manifest()["meta"]["simhash_bit_blocks"] == blocks
    assert idx_t.manifest()["meta"]["simhash_rung"] == 1

    acc_b, idx_b = str(tmp_path / "acc_b"), str(tmp_path / "idx_b")
    simhash_gate_batch_writer(acc_b, idx_b, rung=1, bit_blocks=blocks)(
        batch, 0
    )
    mig = idx_t.read(spark)
    fresh = VersionedTable(idx_b).read(spark)
    assert mig.exceptAll(fresh).isEmpty() and fresh.exceptAll(mig).isEmpty()

    # no-op migration (same rung, same assignment) is rejected
    with pytest.raises(ValueError, match="no-op"):
        migrate_simhash_index(spark, idx_a, 1, bit_blocks=blocks)


def test_pinned_thresholds_fingerprint_space_is_stable(spark, docs):
    from movie_data_pipeline_spark.operators.dedup import (
        measure_center_thresholds,
        simhash_centered,
        simhash_centered_pinned,
    )

    full = measure_center_thresholds(docs)
    half = docs.limit(200)
    # pinned over the same corpus == in-plan centered
    a = simhash_centered(docs).orderBy("doc_id")
    b = simhash_centered_pinned(docs, full).orderBy("doc_id")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    # a SUBSET fingerprinted under the pinned corpus thresholds differs
    # from the subset re-measuring its own (the fork the pinning
    # prevents)
    pinned = simhash_centered_pinned(half, full)
    remeasured = simhash_centered(half)
    assert pinned.exceptAll(remeasured).count() > 0


@pytest.mark.slow
def test_centered_gate_pins_thresholds(spark, docs, tmp_path):
    from movie_data_pipeline_spark.operators.dedup import (
        measure_center_thresholds,
        simhash_centered_pinned,
    )
    from movie_data_pipeline_spark.sources.versioned import VersionedTable
    from movie_data_pipeline_spark.streaming.sinks import (
        simhash_gate_batch_writer,
    )

    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    b0 = docs.limit(60)
    simhash_gate_batch_writer(acc, idx, rung=1, centered=True)(b0, 0)
    meta = VersionedTable(idx).manifest()["meta"]
    assert meta["simhash_center_n"] == 60
    assert len(meta["simhash_center_s"]) == 60
    # the index rows ARE batch-0's pinned-threshold fingerprints
    expected = simhash_centered_pinned(b0, measure_center_thresholds(b0))
    stored = (
        VersionedTable(idx).read(spark)
        .select("doc_id", "simhash")
        .distinct()
    )
    assert stored.exceptAll(
        expected.join(stored.select("doc_id"), "doc_id", "left_semi")
    ).isEmpty()
    # second batch reuses the pinned thresholds (meta unchanged)
    simhash_gate_batch_writer(acc, idx, rung=1, centered=True)(
        docs.limit(80), 1
    )
    meta2 = VersionedTable(idx).manifest()["meta"]
    assert meta2["simhash_center_s"] == meta["simhash_center_s"]
