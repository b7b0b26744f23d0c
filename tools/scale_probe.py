#!/usr/bin/env python
"""Scale probe: time the heavy dedup operators on synthetic corpora
well beyond the bundled sf0.1 (5 000 docs) to show the plans hold as
the data grows — the local stand-in for the 100 TB question.

    python tools/scale_probe.py [n_docs ...]    # default 20000 50000

Prints one JSON line per corpus size with per-operator seconds and
output-pair counts (counts double as a determinism check across
machines: the synthetic source is seeded).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from movie_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs_wide,
        minhash_signatures_wide,
        ppjoin_pairs,
    )
    from movie_data_pipeline_spark.operators.util import query_scope
    from movie_data_pipeline_spark.session import get_spark
    from movie_data_pipeline_spark.sources.synthetic import register

    sizes = [int(a) for a in sys.argv[1:]] or [20000, 50000]
    spark = get_spark(app_name="scale-probe")
    register(spark)
    for n in sizes:
        docs = (
            spark.read.format("synthetic_documents")
            .option("n_docs", str(n))
            .option("seed", "42")
            .load()
            .select("doc_id", "text")
        )
        out: dict[str, float | int] = {"n_docs": n}
        with query_scope():
            t0 = time.perf_counter()
            out["n_jaccard_pairs"] = jaccard_pairs(
                docs, threshold=0.5, max_shingle_df=None
            ).count()
            out["jaccard_s"] = round(time.perf_counter() - t0, 2)

        with query_scope():
            t0 = time.perf_counter()
            out["n_ppjoin_pairs"] = ppjoin_pairs(docs, threshold=0.5).count()
            out["ppjoin_s"] = round(time.perf_counter() - t0, 2)

        with query_scope():
            t0 = time.perf_counter()
            sigs = minhash_signatures_wide(docs)
            out["n_lsh_candidates"] = lsh_candidate_pairs_wide(sigs).count()
            out["lsh_s"] = round(time.perf_counter() - t0, 2)
        assert out["n_jaccard_pairs"] == out["n_ppjoin_pairs"], (
            "PPJoin diverged from brute force at scale!"
        )
        print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
