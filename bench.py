#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}.

Each query is forced end-to-end with a noop write (full computation, no
driver collect bottleneck); a warmup query amortizes JVM/codegen startup
so the numbers measure the plans, not session boot.

Ambient-drift control (VERDICT r2: 20-60% run-to-run VM throughput
drift made round-over-round deltas unattributable): the headline runs
$SPARK_GRAFT_REPEATS (default 3) INTERLEAVED passes — the whole list,
then again — and reports the per-query MINIMUM, the standard way to
strip one-sided noise from a best-case plan-cost measurement.
Per-query spread and its median are included in the JSON so
regressions can be judged against the measured band rather than
asserted drift. Since round 7 the spread statistic is MIN-CONVERGENCE
(gap between the two fastest runs, not max-min range); the JSON keys
carry the "minconv" suffix so round-over-round tooling can never
compare incompatible statistics (ADVICE r7).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from movie_data_pipeline_spark.operators.util import query_scope
from movie_data_pipeline_spark.plans import REGISTRY
from movie_data_pipeline_spark.plans.core import EAGER_TAGS
from movie_data_pipeline_spark.session import codegen_compiles, get_spark

# Headline set: heavy scan-agg, star joins, window, dedup/text/similarity
# extensions when present.
HEADLINE = [
    "q16_pricing_summary",
    "q15_segment_revenue",
    "q28_local_supplier_revenue",
    "q02_region_revenue",
    "q04_customer_order_stats",
    "q09_top_orders_per_customer",
    "q13_hourly_event_stats",
    "q17_dedup_exact",
    "q18_ngram_jaccard_dupes",
    "q19_minhash_signatures",
    "q20_minhash_lsh_candidates",
    "q22_ann_cosine_topk",
    "q24_text_quality",
    "q63_duplicate_clusters",
    "q64_hourly_locf",
    "q71_curation_decisions",
    "q72_sequence_packing",
    "q87_token_chunks",
    "q90_sole_blame_suppliers",
    "q94_part_cooccurrence",
    "q103_pagerank_trade_graph",
    "q105_doc_cosine_pairs",
    "q108_trailing_distinct_users",
    # round-2 additions: newest families (analytic windows, graph,
    # SCD2, profile rollup, calendar heatmap)
    "q115_rolling_view_purchase_corr",
    "q116_copurchase_triangles",
    "q117_point_in_time_join",
    "q124_nation_segment_profile",
    "q125_weekday_hour_heatmap",
    # round-2 additions, late batch: incremental dedup + ANN audit
    "q126_incremental_dedup",
    "q132_ann_recall_audit",
    # round-2 additions, third batch: exact similarity joins + rewrite
    "q144_ppjoin_pairs",
    "q146_span_scrubbed_corpus",
    "q149_containment_pairs",
    "q155_kcore_peeling",
    # round-2 additions, final batch: recsys / ER / community / semantic
    "q174_semantic_dedup",
    "q175_entity_resolution",
    "q176_item_item_cf",
    "q179_lpa_communities",
    # round-3 additions: sampled LSH audit, curation gates, best-rep dedup
    "q121_lsh_quality_audit",
    "q206_source_mixing_weights",
    "q208_quality_quantile_gate",
    "q209_cluster_best_rep",
    # round-3 late batch: LM scoring + threshold sensitivity
    "q211_doc_lm_score",
    "q229_dedup_threshold_curve",
    # round-4 additions (VERDICT r4 #5): cap calibration + sensitivity,
    # token-budget fill, and one streaming replay so regressions in the
    # newest families are measurable
    "q239_stop_shingle_lexicon",
    "q243_budget_fill",
    "q245_df_cap_sensitivity",
    "q244_streaming_multibatch_gate",
    # round-5 additions: substring runs, embedding decontam, S-curve
    # sweep, novelty curve
    "q246_substring_runs",
    "q247_embedding_decontamination",
    "q248_lsh_scurve_sweep",
    "q249_crawl_novelty_curve",
    "q250_chunk_dedup_rate",
    # round-5 continuation: sketch family, sparse retrieval, margin
    # mining, decontam calibration, drift test, weighted sampling
    "q251_kmv_distinct_audit",
    "q252_countmin_heavy_hitters",
    "q253_bloom_fpr_audit",
    "q254_kmv_overlap_estimates",
    "q255_bm25_retrieval",
    "q256_margin_candidate_mining",
    "q257_decontam_ngram_sweep",
    "q258_ks_source_drift",
    "q259_weighted_sample_audit",
    "q260_rrf_hybrid_fusion",
    "q261_hourly_interpolation",
    "q262_histogram_quantile_audit",
    "q263_interval_overlap_join",
    # round-6 additions: the scale-true banded-LSH margin-mining plan
    # (q256 stays as its exact audit baseline), the IVF recall sweep,
    # the MinHash estimator audit, and temperature mixing
    "q256b_margin_mining_lsh",
    "q264_ivf_recall_sweep",
    "q265_minhash_estimate_audit",
    "q266_temperature_mixing",
    "q267_streaming_closed_window_ledger",
    # round-7 additions: corpus-granularity exact-substring dedup,
    # quality-ladder calibration, cross-source duplicate-flow matrix
    "q268_repeated_passages",
    "q269_quality_rule_calibration",
    "q270_cross_source_dup_matrix",
    "q271_cdc_chunking_audit",
    "q272_pq_codebook_audit",
    "q273_idf_weighted_jaccard",
    "q274_simhash_quality_audit",
    "q275_dp_count_release",
    "q276_weighted_dedup_agreement",
    "q277_passage_scrub_savings",
    "q278_dedup_family_agreement",
    "q279_url_host_dedup_rollup",
    "q280_simhash_hamming_histogram",
    "q281_granularity_agreement",
    "q282_corpus_yield_waterfall",
    "q283_lang_source_composition",
    "q284_ivfpq_topk",
    "q285_stratified_sample_manifest",
    # round-9 additions: training-order manifest, SimHash ingest gate
    # (the migrated band ladder on its production path), cluster churn
    "q286_training_order_manifest",
    "q287_simhash_index_gate",
    "q288_cluster_churn_audit",
    "q289_epoch_order_decorrelation",
    "q290_simhash_rung_planner",
    "q291_order_locality_audit",
    "q292_simhash_multibatch_gate",
    "q293_shard_token_budget_audit",
    # q79 joins the headline so the band-ladder migration's pair join
    # is priced directly round-over-round, not only via q274
    "q79_simhash_hamming_pairs",
    # round-9 late addition (joined post-bench, headlined since r10)
    "q294_simhash_bit_balance",
    # round-10 additions: index lifecycle (erasure scrub, rung
    # migration, vacuum compliance), skew-corrected rung pricing, and
    # the curriculum-ordered training layer
    "q295_index_erasure_audit",
    "q296_simhash_rung_migration",
    "q297_simhash_skew_pricing",
    "q298_curriculum_shard_manifest",
    "q299_erasure_vacuum_compliance",
    "q300_curriculum_token_pacing",
    "q301_minhash_index_erasure",
    "q302_midstream_erasure_gate",
    "q303_ann_index_erasure",
    # round-11 additions: the skew mitigation (balanced banding +
    # centered fingerprints), the banding/IVF migrations, the
    # partitioned-index erasure, and the manifest staleness audit
    "q304_simhash_balanced_banding",
    "q305_simhash_centered_balance",
    "q306_simhash_centered_pricing",
    "q307_banding_migration_gate",
    "q308_partitioned_index_erasure",
    "q309_ivf_centroid_migration",
    "q310_manifest_staleness_audit",
    "q311_centered_gate_replay",
    "q312_gate_compaction_replay",
    # round-12 additions (mid-build work verified this round): the
    # zero-tuning recommended gate, the manifest republish loop, the
    # center-drift audit + re-center, IVF cell-split recovery, pruned
    # bucketed compaction, and the maintenance planner — all
    # multi-commit lifecycle orchestrations, so all replay-tier.
    "q313_recommended_gate_replay",
    "q314_manifest_republish",
    "q315_center_threshold_drift",
    "q316_ivf_cell_split_recovery",
    "q317_bucketed_gate_compaction",
    "q318_maintenance_planner",
]

# Stable trend tier (VERDICT r5 #6): these 20 have been in the headline
# since rounds 1-2 and cover the main families (scan-agg, star join,
# window, dedup, graph, similarity, text, ER). Their subtotal is the
# round-over-round comparable number; everything else in HEADLINE is
# the rotating extension tier, which grows with the catalog and is NOT
# comparable across rounds when queries are added.
CORE20 = [
    "q16_pricing_summary",
    "q15_segment_revenue",
    "q02_region_revenue",
    "q04_customer_order_stats",
    "q09_top_orders_per_customer",
    "q13_hourly_event_stats",
    "q17_dedup_exact",
    "q18_ngram_jaccard_dupes",
    "q19_minhash_signatures",
    "q20_minhash_lsh_candidates",
    "q22_ann_cosine_topk",
    "q63_duplicate_clusters",
    "q64_hourly_locf",
    "q103_pagerank_trade_graph",
    "q105_doc_cosine_pairs",
    "q116_copurchase_triangles",
    "q144_ppjoin_pairs",
    "q155_kcore_peeling",
    "q174_semantic_dedup",
    "q175_entity_resolution",
]


# Replay tier: the eager streaming/lifecycle builders. Their wall time
# is fixed micro-batch and commit latency, not plan cost, so they are
# measured in the first two passes only (min-of-2) and reported as
# their own band in the stderr diff, where their scatter cannot read
# as a plan regression. Plan-cost entries keep the full interleaved
# min-of-n discipline.
REPLAY_TIER = {n for n, s in REGISTRY.items() if EAGER_TAGS & set(s.tags)}


def _short(name: str) -> str:
    """Compact per-query key for the stdout JSON line: the driver's tail
    capture is 2000 chars (BENCH_r03 was truncated mid-dict by full
    names + spreads — VERDICT r3 #2), so the headline line uses the
    unique ``qNN`` prefix; the full-name map lives in
    BENCH_DETAIL.json."""
    if name == "movielens_etl_full":
        return "etl"
    if name == "movielens_etl_jdbc":
        return "etl_jdbc"
    return name.split("_", 1)[0]


def _previous_round() -> tuple[str | None, dict[str, float] | None]:
    """Latest BENCH_r*.json in the repo root → (name, short-key secs);
    the driver records one per round, so this is last round's bench."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    if not files:
        return None, None
    with open(files[-1]) as fh:
        data = json.load(fh)
    queries = (data.get("parsed") or {}).get("queries") or data.get("queries")
    if queries:
        queries = {_short(k): v for k, v in queries.items()}
    return os.path.basename(files[-1]), queries


def run_query(spark, name: str, sf_dir: str) -> float:
    # Build INSIDE the timed section: iterative queries (e.g. q63's
    # label propagation) run jobs eagerly during plan construction, so
    # timing only the final write would under-report them. The scope's
    # release runs after the clock stops.
    with query_scope():
        t0 = time.perf_counter()
        df = REGISTRY[name].build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


REFERENCE_DATA = "/root/reference/data"


def run_movielens_pipeline(spark) -> float | None:
    """The reference's own workload, end to end: extract the bundled
    MovieLens CSVs, full transform, write the 4-table warehouse.

    Direct BASELINE.md comparison: the reference's compute-bound path
    (extract + load, API excluded) takes ~32 s on this dataset
    (README.md:610-612, 625-630).
    """
    if not os.path.exists(f"{REFERENCE_DATA}/movies.csv"):
        return None
    import shutil
    import tempfile

    from movie_data_pipeline_spark.pipeline.movies_etl import (
        build_warehouse,
        write_warehouse,
    )
    from movie_data_pipeline_spark.sources.movielens import (
        read_links,
        read_movies,
        read_ratings,
    )

    out = tempfile.mkdtemp(prefix="mdp-bench-wh-")
    try:
        t0 = time.perf_counter()
        wh, _ = build_warehouse(
            spark,
            read_movies(spark, REFERENCE_DATA),
            read_ratings(spark, REFERENCE_DATA),
            read_links(spark, REFERENCE_DATA),
            enrichment=None,
        )
        write_warehouse(wh, out)
        return time.perf_counter() - t0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_movielens_pipeline_jdbc(spark) -> float | None:
    """Extract → transform → JDBC full-refresh load into embedded
    Derby: the closest sandbox analog of the reference's ACTUAL sink
    (pandas → SQLAlchemy → MySQL, etl1.py:483-506 — its ~32 s
    compute-bound number INCLUDES the database load). Gated behind
    SPARK_GRAFT_BENCH_JDBC=1 — an embedded single-JVM database load is
    informative for the baseline comparison but too slow/noisy for the
    per-round headline loop."""
    if os.environ.get("SPARK_GRAFT_BENCH_JDBC") != "1":
        return None
    if not os.path.exists(f"{REFERENCE_DATA}/movies.csv"):
        return None
    import shutil
    import tempfile

    from movie_data_pipeline_spark.pipeline.movies_etl import (
        WAREHOUSE_TABLES,
        build_warehouse,
        write_warehouse_jdbc,
    )
    from movie_data_pipeline_spark.sources.movielens import (
        read_links,
        read_movies,
        read_ratings,
    )

    base = tempfile.mkdtemp(prefix="mdp-bench-jdbc-")
    url = f"jdbc:derby:{base}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        # pre-create DDL, as the reference's schema.sql does (strings
        # as CLOB: Spark's dialect-default JDBC type for StringType)
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(driver)
        wh0, _ = build_warehouse(
            spark,
            read_movies(spark, REFERENCE_DATA),
            read_ratings(spark, REFERENCE_DATA),
            read_links(spark, REFERENCE_DATA),
            enrichment=None,
        )
        type_map = {
            "int": "INTEGER", "bigint": "BIGINT", "double": "DOUBLE",
            "string": "CLOB", "timestamp": "TIMESTAMP",
        }
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            st = conn.createStatement()
            for name in WAREHOUSE_TABLES:
                df = getattr(wh0, name)
                cols = ", ".join(
                    f"{f.name} {type_map[f.dataType.simpleString()]}"
                    for f in df.schema.fields
                )
                st.executeUpdate(f"CREATE TABLE {name} ({cols})")
        finally:
            conn.close()
        # wh0 is lazy — no plan has executed yet, so timing the write of
        # wh0 still times the full extract+transform+load (ADVICE r5:
        # the second identical build_warehouse was wasted work).
        t0 = time.perf_counter()
        write_warehouse_jdbc(
            wh0, url, properties={"driver": driver}, num_partitions=4
        )
        return time.perf_counter() - t0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="mdp-bench")

    # The only single-partition windows left in the catalog are the
    # documented bounded frames (tiny dims, rank-the-top-k, per-hour
    # series — allowlisted in tools/audit_plans.py, which runs in CI and
    # fails on any NEW unpartitioned window). WindowExec still logs a
    # warning per execution for those intended plans; mute that one
    # logger here so bench stderr shows real signals, not known noise.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )

    names = [n for n in HEADLINE if n in REGISTRY]
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))
    # Warmup: run the first query once to pay session/codegen startup.
    if names:
        run_query(spark, names[0], sf_dir)

    # Classes compiled by each timed run, in run order (the first run of
    # a query is its cold one).
    compiles: dict[str, list[int]] = {}

    def timed(name: str, run) -> float | None:
        before = codegen_compiles(spark)
        secs = run()
        compiles.setdefault(name, []).append(codegen_compiles(spark) - before)
        return secs

    def timed_query(name: str) -> float:
        return timed(name, lambda: run_query(spark, name, sf_dir))

    # Soft wall-clock budget (a pass always completes atomically so
    # min-of-n stays comparable across queries; passes 2+ are dropped
    # only as a whole). 1100 since round 10 (was 900); 1500 since round
    # 12: the six new replay entries (q313-q318, ~140 s per pass at
    # sf0.1) exhausted 1100 after two passes — the plan tier fell to
    # min-of-2 and the adaptive sub-second repeats never ran, which
    # made every cross-round number noisier (measured: repeats dropped
    # 3 -> 2 and even untouched sub-second entries read +40%+). The
    # worst-case wall stays bounded at budget + one pass.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1500"))
    t_start = time.perf_counter()
    runs: dict[str, list[float]] = {n: [] for n in names}
    done_passes = 0
    for _ in range(repeats):
        if done_passes and time.perf_counter() - t_start > budget_s:
            break
        for name in names:
            if done_passes >= 2 and name in REPLAY_TIER:
                continue  # replay tier: min-of-2 (passes 1-2 only)
            runs[name].append(timed_query(name))
        done_passes += 1

    def _spread(v: list[float]) -> float:
        # Min-convergence spread: gap between the two FASTEST runs.
        # The reported number per query is min-of-n, so its noise is
        # "how close did two independent runs get to each other", not
        # the full max-min range — a range statistic can only GROW
        # with extra repeats and punished exactly the queries the
        # sub-second extra passes exist to stabilize (VERDICT r6 #4).
        if len(v) < 2 or min(v) <= 0:
            return 0.0
        a, b = sorted(v)[:2]
        return (b - a) / a * 100

    def _noise_band() -> float:
        spreads = sorted(_spread(v) for v in runs.values() if v)
        return round(spreads[len(spreads) // 2], 1) if spreads else 0.0

    # Drift escalation (VERDICT r4 #2): a one-sided VM slowdown can
    # drown all n standard passes at once — min-of-n then records a
    # number the file itself flags as noise (BENCH_r04: 42.7% band,
    # judge rerun 20% faster across the board).  When the measured
    # band exceeds the threshold, keep adding whole interleaved passes
    # (bounded, budget-respecting) so at least one pass likely lands in
    # a quiet window; the escalation itself is recorded in the output.
    noise_threshold = float(
        os.environ.get("SPARK_GRAFT_NOISE_THRESHOLD_PCT", "30")
    )
    max_extra = int(os.environ.get("SPARK_GRAFT_MAX_EXTRA_PASSES", "2"))
    extra_passes = 0
    while (
        done_passes >= 2
        and extra_passes < max_extra
        and _noise_band() > noise_threshold
        and time.perf_counter() - t_start <= budget_s
    ):
        for name in names:
            if name in REPLAY_TIER:
                continue
            runs[name].append(timed_query(name))
        done_passes += 1
        extra_passes += 1
    repeats = done_passes

    # Sub-second entries dominate the noise-band ratio statistics
    # (VERDICT r6 #3: q04/q09/q208 "regressions" were all sub-second
    # blips). Since round 10 the extra repeats are ADAPTIVE (VERDICT
    # r9 #5: fixed min-of-7 still left q245 at 80% / q284 at 33%
    # min-convergence spread): every query whose best time is under
    # 1 s keeps getting repeats until its two fastest runs agree
    # within SPARK_GRAFT_SUBSEC_TARGET_PCT (default 10%), bounded by
    # SPARK_GRAFT_SUBSEC_MAX_EXTRA repeats and the wall-clock budget.
    # Sub-second queries are cheap by definition, so convergence is
    # bought where it is cheapest and needed most.
    sub_target = float(os.environ.get("SPARK_GRAFT_SUBSEC_TARGET_PCT", "10"))
    sub_max = int(os.environ.get("SPARK_GRAFT_SUBSEC_MAX_EXTRA", "12"))
    # worst spread first: if the budget runs out mid-loop, the entries
    # left unconverged are the least-noisy ones
    by_spread = sorted(
        (n for n in names if runs[n] and min(runs[n]) < 1.0),
        key=lambda n: -_spread(runs[n]),
    )
    for name in by_spread:
        added = 0
        while (
            (len(runs[name]) < 2 or _spread(runs[name]) > sub_target)
            and added < sub_max
            and time.perf_counter() - t_start <= budget_s
        ):
            runs[name].append(timed_query(name))
            added += 1

    # reference-workload replica (BASELINE.md: ~32 s compute-bound).
    # One warmup run first: the CSV-scan/codegen paths are cold (no
    # earlier headline query touches them) and the first run pays ~8 s
    # of one-time JIT that is not the pipeline's steady-state cost.
    if run_movielens_pipeline(spark) is not None:
        runs["movielens_etl_full"] = [
            timed("movielens_etl_full", lambda: run_movielens_pipeline(spark))
            for _ in range(repeats)
        ]
    jdbc_secs = timed("movielens_etl_jdbc", lambda: run_movielens_pipeline_jdbc(spark))
    if jdbc_secs is not None:
        runs["movielens_etl_jdbc"] = [jdbc_secs]

    timings = {n: round(min(v), 4) for n, v in runs.items()}
    spread_pct = {n: round(_spread(v), 1) for n, v in runs.items()}
    spreads = sorted(spread_pct.values())
    noise_band = spreads[len(spreads) // 2] if spreads else 0.0

    # The driver captures only the LAST 2000 chars of stdout and parses
    # the final JSON line from it (BENCH_r03 lost its record to a
    # too-long line — VERDICT r3 #2).  So: short keys, 3-dp rounding,
    # compact separators, nothing printed after it; full names/spreads
    # go to BENCH_DETAIL.json alongside.
    core = round(sum(t for n, t in timings.items() if n in CORE20), 3)
    ext = round(
        sum(
            t
            for n, t in timings.items()
            if n not in CORE20 and not n.startswith("movielens_etl")
        ),
        3,
    )
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {_short(n): round(t, 3) for n, t in timings.items()},
        "sf": sf,
        "repeats": repeats,
        "noise_band_minconv_pct": noise_band,
        # trend tiers (VERDICT r5 #6): core20 is round-comparable; ext
        # grows with the catalog
        "core20_sec": core,
        "ext_sec": ext,
    }
    if extra_passes:
        out["escalated_passes"] = extra_passes
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never outgrow the capture
        out.pop("noise_band_minconv_pct", None)
        out.pop("repeats", None)
        out.pop("escalated_passes", None)
        line = json.dumps(out, separators=(",", ":"))

    detail = {
        "queries_full": timings,
        "short_to_full": {_short(n): n for n in timings},
        "replay_tier": sorted(REPLAY_TIER),
        "core20": CORE20,
        "core20_sec": core,
        "ext_sec": ext,
        "spread_minconv_pct": spread_pct,
        "noise_band_minconv_pct": noise_band,
        "repeats": repeats,
        "escalated_passes": extra_passes,
        "noise_threshold_pct": noise_threshold,
        "sf": sf,
        "runs": {n: [round(x, 4) for x in v] for n, v in runs.items()},
        "codegen_compiles": {n: c for n, c in compiles.items() if n in runs},
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    # Round-over-round regression diff vs the last recorded round
    # (stderr — stdout stays the one-JSON-line driver contract).
    prev_name, prev = _previous_round()
    if prev:
        # Two bands (VERDICT r10 #5): plan-cost entries first (min-of-n,
        # round-comparable), then the replay tier (min-of-2,
        # orchestration-latency-dominated — its scatter must not read
        # as a plan regression, so it carries its own header and flag
        # threshold).
        print(f"\n# regression diff vs {prev_name}", file=sys.stderr)
        print(f"# {'query':38s} {'prev':>8s} {'now':>8s} {'delta':>8s}", file=sys.stderr)

        def _band(names_in_band, flag_pct, label):
            print(f"# --- {label}", file=sys.stderr)
            for name in names_in_band:
                now = timings[name]
                was = prev.get(_short(name))
                if was:  # positive prior timing
                    pct = (now - was) / was * 100
                    # Absolute-delta floor (round 12, VERDICT r11 #7):
                    # sub-second entries swing tens of percent on fixed
                    # JVM/scheduling overhead alone (r11: q258 "+79%"
                    # was +0.36 s) — a percentage flag below a 0.25 s
                    # absolute delta is scatter, not signal, so it can
                    # never raise the regression marker.
                    flag = (
                        "  <-- regression"
                        if pct > flag_pct and (now - was) >= 0.25
                        else ""
                    )
                    print(
                        f"# {name:38s} {was:8.3f} {now:8.3f} {pct:+7.1f}%{flag}",
                        file=sys.stderr,
                    )
                elif was == 0.0:
                    print(f"# {name:38s} {was:8.3f} {now:8.3f}      n/a", file=sys.stderr)
                else:
                    print(f"# {name:38s} {'new':>8s} {now:8.3f}", file=sys.stderr)

        _band(
            [n for n in timings if n not in REPLAY_TIER],
            25,
            "plan tier (min-of-n, round-comparable)",
        )
        _band(
            [n for n in timings if n in REPLAY_TIER],
            60,
            "replay tier (min-of-2, orchestration-bound — scatter is "
            "expected, not a plan regression)",
        )

    print(line)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
