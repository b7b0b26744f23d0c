"""Metric registry: every end-to-end and per-layer metric the runner
emits, with its unit, direction, and the end-to-end metric and workload
it is expected to move. ``BENCHMARK.json`` lists the same names; the
self-tests keep the two in step.

End-to-end metrics are defined for every workload, so each is named for
the kind of step it measures (``build_cpu_s``, ``query_cpu_s``); what
that step is on each workload is in ``E2E_MEANING``.
"""

from __future__ import annotations

from workloads import CATALOG_SAMPLE, DEDUP_CALLS, PAIR_CALLS, WAREHOUSE_QUERY_NAMES

ETL, CORPUS = "warehouse_etl", "corpus_dedup"
GATE, PROBE = "ingest_gate (traced probe)", "traced probe"

# Per-layer summaries that layer metrics of the probes name as what they
# move: the gate batch latency, the gate's maintenance, the pair searches
# and the catalog sample. The ``workload.*_s`` figures add the wall times
# of calls of one traced run (per-call medians where a call ran more than
# once); they are not timed passes.
GATE_BATCH = "streaming.sinks.dedup_gate.batch.wall_s"
MAINT = "workload.maintenance_s"
PAIRS_S = "workload.pair_search_s"
CATALOG_S = "workload.catalog_s"

WORKLOAD_WHY = {
    ETL: "The paper's ETL: MovieLens CSVs to a 4-table warehouse (build = one full load), then the 7 documented "
    "queries (query); never calls operators or the gate",
    CORPUS: "Batch curation: minhash-LSH + exact-copy candidate set over a corpus with planted near-duplicates "
    "(build), then IVF top-10 cosine queries (query)",
}

# name -> (unit, better, bound). The two call metrics are the median call
# CPU seconds of one step (``run.CallCpu``, garbage collection included),
# not wall time: on a shared 4-vCPU virtual machine hypervisor steal moved
# wall time by up to 2x between minutes, which no run length evens out.
# Wall latencies and no-job (waiting) time of the same calls are per-layer
# metrics of the traced run.
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "build_cpu_s": ("s", "lower", 0.25),
    "query_cpu_s": ("s", "lower", 0.25),
}

# What each end-to-end call metric measures on each workload.
E2E_MEANING = {
    "build_cpu_s": {ETL: "one full-refresh load of the warehouse", CORPUS: "one near-duplicate candidate-set build"},
    "query_cpu_s": {
        ETL: "one pass of the 7 documented queries, results collected",
        CORPUS: "one IVF top-10 search for every query vector, results collected",
    },
}


def _stats(prefix: str, stats: tuple[str, ...], moves: str, on: str) -> dict:
    units = {"jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB", "wall_ms": "ms", "planning_ms": "ms"}
    return {f"{prefix}.{s}": (units.get(s, "s"), "lower", moves, on) for s in stats}


_CALL = ("wall_s", "job_busy_s", "no_job_s", "task_cpu_s", "shuffle_mb", "spill_mb")
_GATE = ("wall_s", "jobs", "job_busy_s", "no_job_s", "task_cpu_s")

# name -> (unit, better, end-to-end metric it should move, workload)
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    "session.get_spark.wall_s": ("s", "lower", "setup_s", "all"),
    "leaked_persistent_rdds": ("count", "lower", "peak_rss_mb", "all"),
    "peak_rss_mb": ("MB", "lower", "build_cpu_s", "all"),
    "failed_ops_ratio": ("ratio", "lower", "build_cpu_s", "all"),
    "jvm.gc_cpu_s": ("s", "lower", "build_cpu_s", "all"),
    "trace.overhead.build_cpu_s": ("ratio", "lower", "build_cpu_s", "all"),
    "trace.overhead.query_cpu_s": ("ratio", "lower", "query_cpu_s", "all"),
    # warehouse_etl
    **_stats("sources.movielens.read", ("wall_s", "jobs", "task_cpu_s"), "build_cpu_s", ETL),
    "pipeline.movies_etl.transform_movies.self_s": ("s", "lower", "build_cpu_s", ETL),
    "pipeline.enrichment.enrich_movies.self_s": ("s", "lower", "build_cpu_s", ETL),
    "pipeline.enrichment.match_ratio": ("ratio", "higher", "build_cpu_s", ETL),
    **_stats(
        "pipeline.movies_etl.write_warehouse",
        ("wall_s", "jobs", "job_busy_s", "no_job_s", "task_cpu_s", "shuffle_mb"),
        "build_cpu_s",
        ETL,
    ),
    "pipeline.movies_etl.write_warehouse.files_written": ("count", "lower", "build_cpu_s", ETL),
    "pipeline.movies_etl.write_warehouse.bytes_written_mb": ("MB", "lower", "build_cpu_s", ETL),
    "pipeline.movies_etl.stored_bytes_per_input_byte": ("ratio", "lower", "build_cpu_s", ETL),
    **{f"pipeline.queries.{q}.wall_ms": ("ms", "lower", "query_cpu_s", ETL) for q in WAREHOUSE_QUERY_NAMES},
    **_stats("pipeline.queries", ("jobs", "planning_ms", "no_job_s"), "query_cpu_s", ETL),
    # corpus_dedup: exact and minhash-LSH in its build, simhash and ppjoin as probes
    **{k: v for n in DEDUP_CALLS for k, v in _stats(f"operators.dedup.{n}", _CALL, "build_cpu_s", CORPUS).items()},
    **{k: v for n in PAIR_CALLS for k, v in _stats(f"operators.dedup.{n}", _CALL, PAIRS_S, PROBE).items()},
    "operators.dedup.simhash.pairs": ("count", "lower", PAIRS_S, PROBE),
    "workload.pair_search_s": ("s", "lower", PAIRS_S, PROBE),
    "operators.dedup.lsh.candidate_pairs": ("count", "lower", "build_cpu_s", CORPUS),
    "operators.dedup.lsh.verified_pairs": ("count", "higher", "build_cpu_s", CORPUS),
    "operators.dedup.lsh.verified_ratio": ("ratio", "higher", "build_cpu_s", CORPUS),
    "operators.dedup.lsh.recall": ("ratio", "higher", "build_cpu_s", CORPUS),
    "operators.similarity.cosine_topk_ivf.wall_s": ("s", "lower", "query_cpu_s", CORPUS),
    "operators.similarity.cosine_topk_ivf.task_cpu_s": ("s", "lower", "query_cpu_s", CORPUS),
    "operators.similarity.cosine_topk_ivf.recall_at_10": ("ratio", "higher", "query_cpu_s", CORPUS),
    # ingest_gate: two batches per traced run
    **_stats("streaming.sinks.dedup_gate.batch", _GATE, GATE_BATCH, GATE),
    "streaming.sinks.dedup_gate.batch.rows_in": ("count", "higher", GATE_BATCH, GATE),
    "streaming.sinks.dedup_gate.batch.rows_committed": ("count", "higher", GATE_BATCH, GATE),
    "streaming.sinks.dedup_gate.batch.accept_ratio": ("ratio", "higher", GATE_BATCH, GATE),
    **_stats("streaming.sinks.dedup_gate.replay", ("wall_s", "jobs", "no_job_s"), GATE_BATCH, GATE),
    "sources.versioned.commits_per_batch": ("count", "lower", GATE_BATCH, GATE),
    "sources.versioned.files_per_commit": ("count", "lower", GATE_BATCH, GATE),
    "sources.versioned.bytes_per_commit_mb": ("MB", "lower", GATE_BATCH, GATE),
    "sources.versioned.head_data_dirs": ("count", "lower", GATE_BATCH, GATE),
    **_stats("sources.versioned.compact", ("wall_s",), MAINT, GATE),
    **_stats("sources.versioned.vacuum", ("wall_s",), MAINT, GATE),
    **_stats("sources.versioned.read", ("wall_s",), MAINT, GATE),
    "sources.versioned.compact.bytes_rewritten_mb": ("MB", "lower", MAINT, GATE),
    "sources.versioned.vacuum.dirs_removed": ("count", "higher", MAINT, GATE),
    "workload.maintenance_s": ("s", "lower", GATE_BATCH, GATE),
    "sources.versioned.stored_bytes_per_input_byte": ("ratio", "lower", MAINT, GATE),
    # catalog sample: one call each per traced run
    **{
        k: v
        for q in CATALOG_SAMPLE
        for k, v in _stats(f"plans.{q}", ("wall_s", "jobs", "job_busy_s", "no_job_s"), CATALOG_S, PROBE).items()
    },
    "workload.catalog_s": ("s", "lower", CATALOG_S, PROBE),
}


def benchmark_json(run_seconds: int) -> dict:
    """The BENCHMARK.json document these registries describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": w, "why": why} for w, why in WORKLOAD_WHY.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd} for n, (u, b, bd) in E2E.items()],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b, _, _) in PER_LAYER.items()],
    }
