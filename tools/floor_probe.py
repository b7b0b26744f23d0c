#!/usr/bin/env python
"""SimHash band-ladder collision-floor probe — uniform vs SKEWED bits
(round 10, VERDICT r9 #3; the committed version of the r9 one-off).

SCALE_PROBE_r9.md measured the ladder's collision floor on UNIFORM
distinct fingerprints (930k banded candidates at 10M docs vs 6.1B
predicted for the retired 4x15 layout). q294 then measured that THIS
corpus's fingerprint bits are nowhere near uniform (per-bit set shares
0.01-0.99 — the template-collapse signature), and every SCALING.md
threshold was derived from the uniform model. This probe measures the
floor degradation directly:

1. read the REAL per-bit set shares from the sf0.1 corpus (q294's
   measurement, recomputed live);
2. synthesize n fingerprints with INDEPENDENT bits drawn at (a) 0.5
   (uniform) and (b) the measured shares (skewed) — independence
   isolates the random-collision floor from true-duplicate structure,
   exactly like the r9 uniform probe did;
3. count banded candidate pairs (sum C(bucket, 2) over the active
   rung's buckets — q290's measure) and compare with the closed-form
   expectation C(n,2) * sum_bands prod_{bits in band} (p^2 + (1-p)^2)
   — the q297 pricing formula.

Prints one JSON line per (distribution, n) with measured vs predicted,
plus the rung the in-plan ladder would pick. Synthetic bits are
xxhash64-deterministic, so reruns are bit-reproducible.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SIZES = [int(x) for x in os.environ.get(
    "FLOOR_PROBE_SIZES", "500000,2000000,10000000"
).split(",")]


def expected_pairs(
    n: int,
    shares: list[float],
    rung: int,
    positions: list[int] | None = None,
) -> float:
    """C(n,2) * sum over the rung's bands of prod (p^2+(1-p)^2).
    ``positions`` prices a permuted (balanced) band layout: bit j
    belongs to block positions[j] div 10 instead of j div 10."""
    from movie_data_pipeline_spark.operators.dedup import simhash_band_combos

    c = [p * p + (1 - p) * (1 - p) for p in shares]
    block_of = [
        (positions[j] if positions else j) // 10 for j in range(60)
    ]
    total = 0.0
    for m, _idx, blocks in simhash_band_combos():
        if m != rung:
            continue
        prod = 1.0
        for b in blocks:
            for j in range(60):
                if block_of[j] == b:
                    prod *= c[j]
        total += prod
    return n * (n - 1) / 2 * total


def pick_rung(n: int) -> int:
    from movie_data_pipeline_spark.operators.dedup import (
        simhash_rung_thresholds,
    )

    t1, t2 = simhash_rung_thresholds()
    return 1 if n <= t1 else (2 if n <= t2 else 3)


def main() -> int:
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.dedup import (
        band_bucket_pairs,
        bit_census,
        simhash,
    )
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        simhash_index,
        simhash_layout,
    )
    from movie_data_pipeline_spark.session import get_spark
    from movie_data_pipeline_spark.sources.registry import load_table

    spark = get_spark(app_name="floor-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. measured per-bit shares from the real corpus (q294 live)
    fp = simhash(load_table(spark, SF_DIR, "documents"))
    per_bit = bit_census(fp).orderBy("bit_idx").collect()
    measured = [r["n_set"] / r["n"] for r in per_bit]
    uniform = [0.5] * 60
    print(json.dumps({
        "probe": "shares", "sf_dir": SF_DIR,
        "min_share": round(min(measured), 4),
        "max_share": round(max(measured), 4),
    }), flush=True)

    # Round 11 (VERDICT r10 #1): price the balanced-banding permutation
    # against the naive layout, on the measured shares AND on a
    # CONCENTRATED-skew synthetic (10 near-dead bits landing in ONE
    # naive block — a template burst) where the permutation is the
    # difference between a quadratic band and the Schur floor.
    from movie_data_pipeline_spark.operators.dedup import (
        balanced_bit_blocks,
    )

    def positions_for(shares: list[float]) -> list[int]:
        return balanced_bit_blocks(
            [int(round(p * 1_000_000)) for p in shares], 1_000_000
        )

    concentrated = [0.0001] * 10 + [0.5] * 50
    configs = [
        ("uniform", uniform, "naive", None),
        ("skewed", measured, "naive", None),
        ("skewed", measured, "balanced", positions_for(measured)),
        ("concentrated", concentrated, "naive", None),
        ("concentrated", concentrated, "balanced",
         positions_for(concentrated)),
    ]
    results = []
    for dist_name, shares, layout, positions in configs:
        for n in SIZES:
            rung = pick_rung(n)
            # synthetic independent-bit fingerprints, deterministic
            terms = None
            for j in range(60):
                bit = (
                    F.abs(F.xxhash64(F.col("id"), F.lit(j))) % 1_000_000
                    < int(shares[j] * 1_000_000)
                ).cast("long") * F.lit(1 << j)
                terms = bit if terms is None else terms + bit
            synth = (
                spark.range(n)
                .repartition(64)
                .select(
                    F.col("id").alias("doc_id"),
                    terms.alias("simhash"),
                )
            )
            t0 = time.perf_counter()
            index_rows = simhash_index(
                synth, simhash_layout(rung, positions, None, None)
            )
            measured_pairs = band_bucket_pairs(index_rows, "cp").first()["cp"]
            secs = round(time.perf_counter() - t0, 1)
            pred = expected_pairs(n, shares, rung, positions)
            row = {
                "probe": "floor", "dist": dist_name, "layout": layout,
                "n": n, "rung": rung,
                "measured_pairs": int(measured_pairs),
                "predicted_pairs": round(pred, 1),
                "ratio": round(measured_pairs / pred, 4) if pred else None,
                "sec": secs,
            }
            results.append(row)
            print(json.dumps(row), flush=True)

    print(json.dumps({"probe": "done", "rows": len(results)}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
