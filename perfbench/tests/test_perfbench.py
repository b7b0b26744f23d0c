"""Self-tests of the benchmark: seeded inputs, the metric registry and
BENCHMARK.json, and a tiny-size run of every workload.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark, so the whole file takes a few minutes.
"""

from __future__ import annotations

import filecmp
import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SMALL = {
    "gen_warehouse": {"n_movies": 200, "n_ratings": 2000, "n_users": 50},
    "gen_corpus": {"n_docs": 120, "n_pairs": 12, "n_exact": 4, "n_vectors": 200},
    "gen_gate_batches": {"n_batches": 2, "batch_size": 60},
    "gen_catalog_tables": {"n_orders": 300, "n_events": 500, "n_docs": 60},
}


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


@pytest.mark.parametrize("fn", sorted(SMALL))
def test_same_seed_same_bytes_other_seed_differs(tmp_path, fn):
    make = getattr(gen, fn)
    make(str(tmp_path / "a"), 7, **SMALL[fn])
    make(str(tmp_path / "b"), 7, **SMALL[fn])
    make(str(tmp_path / "c"), 8, **SMALL[fn])
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_planted_pairs_straddle_ppjoin_threshold(tmp_path):
    truth = gen.gen_corpus(str(tmp_path), 3, **SMALL["gen_corpus"])
    sims = [j for _, _, j in truth["planted"]]
    assert min(sims) < gen.PPJOIN_THRESHOLD <= max(sims) < 1.0
    assert all(j == 1.0 for _, _, j in truth["exact_pairs"])


def test_call_cpu_counts_busy_time_of_this_process():
    import run

    cpu = run.CallCpu()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert 0.25 <= cpu.lap() <= 0.6


def test_benchmark_json_matches_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert doc == layers.benchmark_json(doc["run_seconds"])
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert len(doc["per_layer"]) <= 128


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_run_passes_checks_and_emits_e2e_metrics(workload):
    res = _result(_run(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "0", "--size", "tiny"], ROOT))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(layers.E2E)
    assert all(m["value"] > 0 and m["unit"] == layers.E2E[n][0] for n, m in res["metrics"].items())
    work = os.path.join(ROOT, ".perfbench_work")
    assert not glob.glob(os.path.join(work, f"{workload}-5-*"))  # the run's scratch is gone


def test_tiny_traced_run_emits_every_layer_metric():
    proc = _run(["--workload", "warehouse_etl", "--seed", "5", "--seconds", "1", "--trace", "1", "--size", "tiny"], ROOT)
    res = _result(proc)
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == set(layers.PER_LAYER)
    layer_map = json.loads(proc.stdout.strip().splitlines()[-2])["layer_map"]
    assert set(layer_map) == set(layers.PER_LAYER)


def test_without_program_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "warehouse_etl", "--seed", "1", "--seconds", "1"], str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
