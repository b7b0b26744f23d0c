"""Round-9 SimHash band ladder (VERDICT r8 #1): rung thresholds, the
block-combination table, per-rung pigeonhole guarantees on a planted
corpus, and rung-1 exactness (banding lossless for Hamming<=5)."""

from __future__ import annotations

import itertools

import pytest

from movie_data_pipeline_spark.operators.dedup import (
    _SIMHASH_BLOCK_BITS,
    _SIMHASH_BLOCKS,
    simhash,
    simhash_band_combos,
    simhash_hamming_pairs,
    simhash_rung_thresholds,
)

pytestmark = pytest.mark.usefixtures("_scoped")


def test_rung_thresholds_are_occupancy_times_band_space():
    assert simhash_rung_thresholds() == (8 * 2**10, 8 * 2**20)


def test_combo_table_shape_and_order():
    combos = simhash_band_combos()
    assert len(combos) == 6 + 15 + 20
    # band_idx is GLOBAL across rungs: rung boundaries at 6 and 21, so
    # rows from different rungs can never share a join key
    assert [c[1] for c in combos] == list(range(41))
    starts = {1: 0, 2: 6, 3: 21}
    for m in (1, 2, 3):
        rows = [c for c in combos if c[0] == m]
        assert rows[0][1] == starts[m]
        assert [r[2] for r in rows] == sorted(
            itertools.combinations(range(_SIMHASH_BLOCKS), m)
        )
        assert all(len(r[2]) == m for r in rows)
    assert _SIMHASH_BLOCKS * _SIMHASH_BLOCK_BITS == 60


def test_band_rows_never_join_across_rungs(spark):
    """The review-found edge: with per-rung indices, a rung-2 band
    whose HIGH block is 0 yields band_val < 2^10 and could equi-join a
    rung-1 row. Global band_idx makes cross-rung joins impossible by
    key inequality — assert no (band_idx, band_val) key is shared."""
    from movie_data_pipeline_spark.operators.dedup import (
        simhash_band_rows,
    )

    # fingerprints crafted so rung-2 bands over blocks (0, j) collapse
    # to blk0 (all other blocks zero): the adversarial case
    fp = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["doc_id", "simhash"]
    )
    r1 = {
        (r.band_idx, r.band_val)
        for r in simhash_band_rows(fp, rung=1).collect()
    }
    r2 = {
        (r.band_idx, r.band_val)
        for r in simhash_band_rows(fp, rung=2).collect()
    }
    assert not (r1 & r2)


def _planted_fp(spark):
    """Fingerprint frame with hand-placed Hamming structure: pairs at
    distance 0 and at distances 1-7 with differing bits spread to
    exercise both clustered (same block) and scattered (distinct
    blocks) error layouts."""
    base = 0x5A5A5A5A5A5A5A5 & ((1 << 60) - 1)

    def flip(*bits):
        v = base
        for b in bits:
            v ^= 1 << b
        return v

    rows = [
        (0, base),
        (1, base),                      # d(0,1) = 0
        (2, flip(3)),                   # d=1 clustered
        (3, flip(3, 17)),               # d(0,3)=2 across two blocks
        (4, flip(0, 1, 2)),             # d=3 all in block 0
        (5, flip(0, 11, 22, 33)),       # d=4 in four distinct blocks
        (6, flip(0, 11, 22, 33, 44)),   # d=5 in five distinct blocks
        (7, flip(0, 11, 22, 33, 44, 55)),  # d=6: outside the bar
        (8, flip(6, 7, 8, 9, 16)),      # d=5, errors in two blocks
    ]
    return spark.createDataFrame(rows, ["doc_id", "simhash"])


def _exact_pairs(rows, hmax):
    out = {}
    for (a, fa), (b, fb) in itertools.combinations(rows, 2):
        h = bin(fa ^ fb).count("1")
        if h <= hmax:
            out[(min(a, b), max(a, b))] = h
    return out


def test_rung1_is_exact_for_hamming_le5(spark):
    fp = _planted_fp(spark)
    rows = [(r.doc_id, r.simhash) for r in fp.collect()]
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_pairs(fp).collect()  # n=9 -> rung 1
    }
    assert got == _exact_pairs(rows, 5)


@pytest.mark.parametrize("rung,guaranteed", [(2, 4), (3, 3)])
def test_forced_rungs_keep_pigeonhole_guarantee(spark, rung, guaranteed):
    fp = _planted_fp(spark)
    rows = [(r.doc_id, r.simhash) for r in fp.collect()]
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_pairs(fp, rung=rung).collect()
    }
    exact5 = _exact_pairs(rows, 5)
    # never a pair outside the verified exact set
    assert set(got) <= set(exact5)
    assert all(got[k] == exact5[k] for k in got)
    # every pair within the rung's pigeonhole bound is present
    must = {k for k, h in exact5.items() if h <= guaranteed}
    assert must <= set(got)


def test_rung2_catches_clustered_but_may_drop_scattered(spark):
    """The d=5 pair with errors in two blocks MUST survive rung 2
    (4 untouched blocks pair up); the d=5 pair spread over five blocks
    CANNOT (only one untouched block, bands need two)."""
    fp = _planted_fp(spark)
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_hamming_pairs(fp, rung=2).collect()
    }
    assert (0, 8) in got      # d=5 errors within blocks {0, 1}
    assert (0, 6) not in got  # d=5 errors in 5 distinct blocks


def test_real_corpus_pairs_match_brute_force(spark):
    """End-to-end on real sf0.001 text: operator output == brute-force
    exact Hamming<=5 over the computed fingerprints (rung 1 active)."""
    from movie_data_pipeline_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fp = simhash(docs)
    rows = [(r.doc_id, r.simhash) for r in fp.collect()]
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_pairs(fp).collect()
    }
    assert got == _exact_pairs(rows, 5)


@pytest.mark.slow
def test_rung2_cross_engine_parity(spark, tmp_path):
    """Rung SWITCH parity: a planted corpus of 8,400 docs (> the 8,192
    rung-1 breakpoint) makes BOTH engines take the m=2 branch of the
    ladder; the registered q79 plan and its DuckDB oracle must still
    hash-identically. Driver SFs never cross the breakpoint, so this is
    the one place the rung-2 SQL path is exercised against Spark."""
    import duckdb

    from movie_data_pipeline_spark.plans import REGISTRY
    from movie_data_pipeline_spark.schemas import TESTDATA_SCHEMAS

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    rows = []
    for i in range(8400):
        toks = [words[(i // 7 + j) % 10] for j in range(4)]
        if i % 97 == 0:  # plant near-identical neighbours
            toks[3] = words[(i + 1) % 10]
        text = " ".join(toks)
        rows.append((i, text, "en", f"src{i % 5}", len(text)))
    base = str(tmp_path / "sf-rung2")
    spark.createDataFrame(
        rows, TESTDATA_SCHEMAS["documents"]
    ).coalesce(2).write.mode("overwrite").parquet(
        f"{base}/documents.parquet"
    )

    got = (
        REGISTRY["q79_simhash_hamming_pairs"]
        .build(spark, base)
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base}/documents.parquet/*.parquet')"
    )
    exp = con.execute(
        REGISTRY["q79_simhash_hamming_pairs"].oracle
    ).fetchdf()
    assert len(got) == len(exp) and len(got) > 0
    key = ["doc_a", "doc_b"]
    g = got.sort_values(key, ignore_index=True)
    e = exp.sort_values(key, ignore_index=True)
    assert (g[key + ["hamming"]].values == e[key + ["hamming"]].values).all()
