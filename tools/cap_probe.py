#!/usr/bin/env python
"""Measure the ``max_shingle_df`` cap's SAVINGS side (VERDICT r4 #7).

SCALE_PROBE_r4.md showed the registered cap (1000) not binding on the
10x replica (max df ~250), so those runs priced only the cap's
*overhead* (one bucket-size filter). This probe runs ``jaccard_pairs``
on the 10x replica with a cap that BINDS (default 64) against the
uncapped run, so the savings — stop-shingle buckets dropped whole
before the quadratic per-bucket pair generation — is measured, not
just bounded analytically:

    python tools/make_scaled_data.py --out /tmp/mdp_sf1   # once
    python tools/cap_probe.py [--cap 64] [--sf-dir /tmp/mdp_sf1]

Prints one JSON line per run plus a bucket-census line:
  {"run": "capped"|"uncapped", "cap": N|null, "secs": ..., "pairs": N}
  {"census": {"n_buckets": N, "n_dropped": N, "pairs_avoided": N,
              "max_df": N, "pairs_generated_capped": N}}

Run order is capped-then-uncapped: the shared warm JVM favors the
SECOND run, so any residual warmth deflates the uncapped time and the
reported speedup errs conservative (same discipline as
tools/scale_probe_queries.py after the r4 q245 ordering artifact).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cap", type=int, default=64)
    ap.add_argument("--sf-dir", default="/tmp/mdp_sf1")
    ap.add_argument("--threshold", type=float, default=0.2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
    )
    from movie_data_pipeline_spark.operators.util import query_scope
    from movie_data_pipeline_spark.session import get_spark
    from movie_data_pipeline_spark.sources.registry import load_table

    spark = get_spark(app_name="cap-probe")
    docs = load_table(spark, args.sf_dir, "documents")

    # Bucket census: how hard does the cap bind on this corpus, and how
    # many pairs does dropping those buckets avoid (df*(df-1)/2 each)?
    with query_scope():
        census = (
            doc_shingles(docs)
            .groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .agg(
                F.count("*").alias("n_buckets"),
                F.sum((F.col("df") > args.cap).cast("long")).alias(
                    "n_dropped"
                ),
                F.sum(
                    F.when(
                        F.col("df") > args.cap,
                        F.col("df") * (F.col("df") - 1) / 2,
                    ).otherwise(0)
                )
                .cast("long")
                .alias("pairs_avoided"),
                F.sum(
                    F.when(
                        F.col("df") <= args.cap,
                        F.col("df") * (F.col("df") - 1) / 2,
                    ).otherwise(0)
                )
                .cast("long")
                .alias("pairs_generated_capped"),
                F.max("df").alias("max_df"),
            )
            .collect()[0]
            .asDict()
        )

    # Untimed warmup (tiny slice) to pay codegen for the shared plan
    # shape before either timed run.
    with query_scope():
        jaccard_pairs(
            docs.limit(200), threshold=args.threshold, max_shingle_df=args.cap
        ).count()

    results = {}
    for run, cap in (("capped", args.cap), ("uncapped", None)):
        with query_scope():
            t0 = time.perf_counter()
            pairs = jaccard_pairs(
                docs, threshold=args.threshold, max_shingle_df=cap
            )
            n = pairs.count()
            secs = round(time.perf_counter() - t0, 2)
        results[run] = secs
        print(
            json.dumps({"run": run, "cap": cap, "secs": secs, "pairs": n}),
            flush=True,
        )

    print(json.dumps({"census": census}), flush=True)
    print(
        json.dumps(
            {
                "speedup_capped_vs_uncapped": round(
                    results["uncapped"] / max(results["capped"], 1e-9), 2
                )
            }
        ),
        flush=True,
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
