#!/usr/bin/env python
"""Scale probe over REGISTERED queries: time the most expensive catalog
queries at sf0.1 and at the 10x key-shifted replica
(tools/make_scaled_data.py), and diff the physical-plan shape — the
empirical point behind "this plan survives a 10x scale-up"
(VERDICT r2 #8).

    python tools/make_scaled_data.py --out /tmp/mdp_sf1
    python tools/scale_probe_queries.py [qname|qNN ...] \
        [--scaled /tmp/mdp_sf1] [--base /root/testdata/sf0.1]

Per query x scale, prints one JSON line:
  {"query": ..., "sf_dir": ..., "secs": ..., "rows": ...,
   "exchanges": N, "sort_merge_joins": N, "broadcast_joins": N}
and a final summary line with the time ratio per query. A plan whose
exchange/join counts CHANGE with scale (AQE re-planning aside) or whose
runtime grows much faster than 10x is the thing this probe exists to
catch.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Default: the most expensive headline queries from BENCH_r02 plus the
# round-3 rewrites whose scale behavior changed (q175 bounded blocking,
# q121 sampled audit).
DEFAULT_QUERIES = [
    "q175_entity_resolution",
    "q103_pagerank_trade_graph",
    "q144_ppjoin_pairs",
    "q18_ngram_jaccard_dupes",
    "q155_kcore_peeling",
    "q20_minhash_lsh_candidates",
    "q19_minhash_signatures",
    "q116_copurchase_triangles",
    "q126_incremental_dedup",
    "q174_semantic_dedup",
    "q121_lsh_quality_audit",
    "q16_pricing_summary",
    # round-6 scale-path additions: banded-LSH margin mining (vs q256's
    # quadratic audit baseline) and the IVF recall sweep
    "q256b_margin_mining_lsh",
    "q264_ivf_recall_sweep",
]


def plan_stats(df) -> dict[str, int]:
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    return {
        "exchanges": plan.count("Exchange"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        # codegen stages appear as "*(n) Op" markers in the physical
        # plan string (the word WholeStageCodegen only shows in
        # explain("formatted"))
        "wholestage_spans": plan.count("*("),
    }


def main() -> int:
    import argparse

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.util import query_scope
    from movie_data_pipeline_spark.plans import REGISTRY
    from movie_data_pipeline_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scaled", default="/tmp/mdp_sf1")
    args = ap.parse_args()
    prefixes = args.queries or DEFAULT_QUERIES
    # a full name or its qNN prefix, as tools/capture_plans.py takes them
    names = [
        n for p in prefixes for n in REGISTRY if n == p or n.startswith(p + "_")
    ]
    if args.queries and not names:
        raise SystemExit(f"no queries match {args.queries}")

    spark = get_spark(app_name="scale-probe-queries")
    # Untimed warmup: pay JVM boot + first-query codegen before any
    # timed run so the first recorded number measures the plan.
    if names:
        with query_scope():
            REGISTRY[names[0]].build(spark, args.base).write.format(
                "noop"
            ).mode("overwrite").save()
    ratios: dict[str, float] = {}
    for name in names:
        secs: dict[str, float] = {}
        # SCALED FIRST (VERDICT r4 #8): the shared warm JVM favors
        # whichever run goes second; ordering scaled-then-base means
        # any residual warmth inflates the base denominator and the
        # reported 10x ratio errs CONSERVATIVE (never the r4 q245
        # artifact, where a warm scaled run looked 6x faster than
        # base and needed a footnote).
        for sf_dir in (args.scaled, args.base):
            with query_scope():
                t0 = time.perf_counter()
                df = REGISTRY[name].build(spark, sf_dir)
                # noop write, same as bench.py:154 — a bare count() lets
                # Catalyst prune every computed projection, so a
                # projection-heavy query probes at the cost of its spine
                # row count, not the query (VERDICT r5 #2: q261 probed
                # 0.54 s while benching 29.1 s). The noop sink forces full
                # evaluation of every output column with zero write cost.
                # The row count piggybacks on the SAME action via observe()
                # (ADVICE r6: a post-timing count() re-executed the whole
                # plan, roughly doubling probe wall-clock for lazy plans).
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop"
                ).mode("overwrite").save()
                secs[sf_dir] = round(time.perf_counter() - t0, 2)
                n = obs.get["rows"]
                rec = {
                    "query": name,
                    "sf_dir": sf_dir,
                    "secs": secs[sf_dir],
                    "rows": n,
                    **plan_stats(df),
                }
                print(json.dumps(rec), flush=True)
        ratios[name] = round(secs[args.scaled] / max(secs[args.base], 1e-9), 1)
    print(json.dumps({"time_ratio_10x": ratios}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
