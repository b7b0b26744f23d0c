"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload warehouse_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` under ``.perfbench_work/`` in the checkout, Spark's
scratch goes there too, and the run's directory is removed on exit; a
traced run leaves its spans in ``.perfbench_work/spans/``.

``--trace 0`` prints the end-to-end metrics (``layers.E2E``): the set-up
time of the session (cold JVM until its first job finished), then after
one warm-up cycle of the workload, steps for ``--seconds`` and at least
two cycles; ``build_cpu_s`` and ``query_cpu_s`` are the medians of the
call CPU seconds (``CallCpu``) of the steps of that kind. Wall times go
to stderr. The output checks follow the window. ``--trace 1`` prints the
per-layer metrics (``layers.PER_LAYER``): the set-up, one traced cycle of
the workload (the tracer's own seconds in it, over the step's, are the
tracing overhead), one traced cycle of the other workload, the
ingest-gate probe, and the stage, pair-search and catalog probes, so
every layer is measured in every traced run. Every call of a traced run
is a first call of its kind in the JVM.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 0 only when every call succeeded and every output check
passed. Without the program package next to ``perfbench/`` the runner
exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "movie_data_pipeline_spark"
TINY = {
    "warehouse_etl": {"n_movies": 500, "n_ratings": 5000, "n_users": 150},
    "corpus_dedup": {"n_docs": 240, "n_pairs": 24, "n_exact": 8, "n_vectors": 300, "n_queries": 10},
    "ingest_gate": {"n_batches": 2, "batch_size": 60},
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: small inputs (self-tests)")
    return p.parse_args(argv)


def launch(work: str):
    """Start a SparkSession on a fresh JVM and run its first job; returns
    the session and the seconds that took."""
    from movie_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # The driver JVM compiles with C1 only. With the default tiered JIT the
    # call CPU of the same step still fell by a quarter over the first five
    # warm cycles, at a pace that differed from run to run (the same seed
    # gave 4.5 and 6.0 s for one warehouse load); with C1 only it is flat
    # after the first cycle, and the set-up is about 2 s shorter. A run is
    # too short for C2 to pay off either way (4-vCPU virtual machine).
    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    elapsed = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def shutdown(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    from pyspark import SparkContext

    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


# JVM threads that compile code (JIT), whose work decays over the first
# minutes of a JVM instead of following the calls: left out of call CPU.
# Garbage collection is caused by the calls, so it is counted, and also
# kept apart so a per-layer metric can show it.
JIT_THREAD = re.compile(r"Compiler|Sweeper")
GC_THREAD = re.compile(r"GC Thread|G1 |VM Thread")


def _ppid(pid: str) -> int:
    with open(f"/proc/{pid}/stat") as fh:
        return int(fh.read().rsplit(")", 1)[1].split()[1])


class CallCpu:
    """CPU seconds spent on the calls between two ``lap()``s: every thread
    of this process and its descendants (the driver JVM and its Python
    workers) except the JVM's JIT-compiler threads. Read per thread from
    the scheduler's on-CPU nanoseconds, so threads that start or stop
    between laps do not skew the difference. ``gc_s`` is the part of the
    last lap spent in the JVM's garbage-collection threads.

    CPU time rather than wall time, because hypervisor steal on a shared
    virtual machine (a 4-vCPU one, measured) moved wall time by up to 2x
    within minutes. Time spent waiting (py4j round trips, scheduling gaps
    with no job running) therefore shows only in the per-layer
    ``no_job_s`` metrics of the traced run.
    """

    def __init__(self) -> None:
        self.last = self._read()
        self.gc_s = 0.0

    @staticmethod
    def _read() -> dict[int, tuple[int, bool]]:
        parent = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                parent[int(pid)] = _ppid(pid)
            except OSError:
                continue  # exited while listed
        tree, frontier = set(), {os.getpid()}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        out = {}
        for pid in tree:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                        name = fh.read()
                    with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                        ns = int(fh.read().split()[0])
                except OSError:
                    continue
                if not JIT_THREAD.search(name):
                    out[int(tid)] = (ns, bool(GC_THREAD.search(name)))
        return out

    def lap(self) -> float:
        now = self._read()
        spent = {k: (ns - self.last.get(k, (0, gc))[0], gc) for k, (ns, gc) in now.items()}
        self.last = now
        self.gc_s = sum(v for v, gc in spent.values() if gc) / 1e9
        return sum(v for v, _ in spent.values()) / 1e9


def window(steps, seconds: float, need: dict[str, int], tracer=None) -> dict[str, list[float]]:
    """Pull steps until ``seconds`` have passed and each kind has at least
    the samples ``need`` asks for; the wall seconds (``kind``), call CPU
    seconds (``kind_cpu``) and GC CPU seconds (``kind_gc``) of each step
    and, given a ``tracer``, the share of each step's wall time it took
    (``kind_trace``)."""
    samples: dict[str, list[float]] = {}
    t0 = time.perf_counter()
    cpu = CallCpu()
    traced_s = tracer.overhead_s if tracer else 0.0
    for kind, elapsed in steps:
        samples.setdefault(kind, []).append(elapsed)
        samples.setdefault(kind + "_cpu", []).append(cpu.lap())
        samples.setdefault(kind + "_gc", []).append(cpu.gc_s)
        if tracer:
            samples.setdefault(kind + "_trace", []).append((tracer.overhead_s - traced_s) / elapsed)
            traced_s = tracer.overhead_s
        if time.perf_counter() - t0 >= seconds and all(len(samples.get(k, ())) >= n for k, n in need.items()):
            break
    return samples


def run(args: argparse.Namespace, work: str) -> dict:
    import layers
    from tracing import StatusStore, Tracer, median
    from workloads import WORKLOADS, CallFailed, Ctx, IngestGate, catalog_probes

    tiny = args.size == "tiny"
    t_run = time.perf_counter()

    def progress(phase: str) -> None:
        print(f"perfbench: {phase} done at {time.perf_counter() - t_run:.1f} s", file=sys.stderr)

    spark, setup_s = launch(work)
    progress("set-up")
    tracer = Tracer(enabled=False)
    ctx = Ctx(spark, work, args.seed, tracer)

    def make(cls):
        wl = cls(ctx, TINY[cls.name] if tiny else None)
        wl.generate()
        return wl

    own = make(WORKLOADS[args.workload])
    steps = own.steps()
    metrics: dict[str, float] = {}
    try:
        if not args.trace:
            window(steps, 0.0, own.warmup)
            progress("input generation and warm-up")
            # At least two cycles, so every run has the same number of
            # samples whenever a cycle takes more than half of --seconds.
            s = window(steps, args.seconds, {k: 2 * n for k, n in own.cycle.items()})
            for k, v in s.items():
                print(f"perfbench: {k} samples: {' '.join(f'{x:.4g}' for x in v)}", file=sys.stderr)
            progress("window")
            own.check()
            progress("checks")
            metrics = {
                "setup_s": setup_s,
                "build_cpu_s": median(s["build_cpu"]),
                "query_cpu_s": median(s["query_cpu"]),
            }
        else:
            # Every call of the traced run is a first (cold) call, so that
            # all of it fits the time one run may take.
            tracer.enabled = True
            traced = window(steps, 0.0, own.cycle, tracer)
            progress("input generation and own traced cycle")
            other = make(next(w for n, w in WORKLOADS.items() if n != own.name))
            gate = make(IngestGate)
            for wl, need in ((other, other.cycle), (gate, gate.probe)):  # cold
                window(wl.steps(), 0.0, need)
                progress(f"{wl.name} cycle")
            by_name = {wl.name: wl for wl in (own, other, gate)}
            for wl in by_name.values():
                wl.check()
            progress("checks")
            store_fn = lambda: StatusStore(spark)  # noqa: E731 - read after the calls it covers
            metrics.update(by_name["warehouse_etl"].probes(store_fn))
            progress("stage probes")
            metrics.update(by_name["corpus_dedup"].probes())
            progress("pair-search probes")
            metrics.update(catalog_probes(ctx, store_fn))
            progress("catalog probes")
            store = StatusStore(spark)
            for wl in by_name.values():
                metrics.update(wl.layers(store))
            metrics.update(
                {
                    "session.get_spark.wall_s": setup_s,
                    "leaked_persistent_rdds": float(ctx.max_persistent_rdds),
                    "peak_rss_mb": peak_rss_mb(),
                    "failed_ops_ratio": ctx.failed / max(1, ctx.attempted),
                    "jvm.gc_cpu_s": median([b + q for b, q in zip(traced["build_gc"], traced["query_gc"])]),
                    **{f"trace.overhead.{k}_cpu_s": median(traced[f"{k}_trace"]) for k in ("build", "query")},
                }
            )
            spans = os.path.join(ROOT, ".perfbench_work", "spans", f"{own.name}-{args.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            tracer.write(spans)
            print(f"perfbench: {len(tracer.spans)} spans written to {os.path.relpath(spans, ROOT)}", file=sys.stderr)
            # The layer -> end-to-end metric -> workload map and what each
            # end-to-end metric measures per workload, one line before the result.
            layer_map = {n: {"moves": m, "on": on} for n, (_, _, m, on) in layers.PER_LAYER.items()}
            print(json.dumps({"layer_map": layer_map, "e2e_meaning": layers.E2E_MEANING}))
    except CallFailed:
        metrics = {}
    except Exception as exc:  # noqa: BLE001 - a check that raised fails the run
        traceback.print_exc(file=sys.stderr)
        ctx.check("run", repr(exc))
        metrics = {}
    finally:
        steps.close()
        shutdown(spark)

    registry = layers.PER_LAYER if args.trace else layers.E2E
    if ctx.failed or set(metrics) != set(registry):
        missing = sorted(set(registry) - set(metrics))
        for f in ctx.failures + ([f"metrics not measured: {missing}"] if missing else []):
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        correct = False
    else:
        correct = True
    return {
        "correct": correct,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed if ctx.failed or correct else max(1, ctx.failed),
        "metrics": {n: {"value": float(metrics[n]), "unit": registry[n][0]} for n in registry if n in metrics},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package beside perfbench/ in {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
