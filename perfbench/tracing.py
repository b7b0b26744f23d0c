"""Spans around layer calls, and the Spark status-store reads that turn
them into per-layer job, CPU, shuffle and spill figures.

Spans are kept in memory as ``Span`` records (name, start, end, parent,
run id) and written out only when the run ends. Job and stage data come
from the driver's in-process status store, which Spark keeps with
``spark.ui.enabled=false``. A span owns every job whose interval
overlaps it: the benchmark is a closed loop with one client, so no
other call runs at the same time.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: int | None = None
    run_id: str = ""

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields.

    ``overhead_s`` adds up the seconds the tracer itself takes inside the
    timed steps: its span bookkeeping and the extra reads the traced run
    makes between calls (``bookkeeping``)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        s = Span(name, time.time() * 1000.0, parent=self._stack[-1] if self._stack else None, run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t
        try:
            yield s
        finally:
            t = time.perf_counter()
            s.end_ms = time.time() * 1000.0
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t

    @contextmanager
    def bookkeeping(self):
        """Count the enclosed work as tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StatusStore:
    """Snapshot of finished jobs and their stages from Spark's status store,
    read as JSON in two calls (one py4j round trip per job or stage would
    take seconds once a run has made a few hundred jobs)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stages = json.loads(mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None)))
        # (start_ms, end_ms, [stage ids]) of every finished job
        self.jobs = [
            (float(j["submissionTime"]), float(j["completionTime"]), j["stageIds"])
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        ]
        # stage id -> (attempt, cpu_s, run_s, shuffle_write_mb, spill_mb) of its last attempt
        self._stages: dict[int, tuple[int, float, float, float, float]] = {}
        for st in stages:
            sid, attempt = st["stageId"], st["attemptId"]
            if sid not in self._stages or attempt >= self._stages[sid][0]:
                self._stages[sid] = (
                    attempt,
                    st["executorCpuTime"] / 1e9,
                    st["executorRunTime"] / 1e3,
                    st["shuffleWriteBytes"] / 1e6,
                    st["diskBytesSpilled"] / 1e6,
                )

    def stats(self, start_ms: float, end_ms: float) -> dict[str, float]:
        """Jobs overlapping [start, end]: count, busy union, no-job time,
        task CPU, shuffle write and spill of their stages."""
        inside = [(max(lo, start_ms), min(hi, end_ms), st) for lo, hi, st in self.jobs if hi >= start_ms and lo <= end_ms]
        busy = _union_length([(lo, hi) for lo, hi, _ in inside if hi > lo]) / 1000.0
        wall = (end_ms - start_ms) / 1000.0
        cpu = shuffle = spill = 0.0
        for sid in {sid for _, _, st in inside for sid in st}:
            _, c, _, sh, sp = self._stages.get(sid, (0, 0.0, 0.0, 0.0, 0.0))  # absent: never ran
            cpu, shuffle, spill = cpu + c, shuffle + sh, spill + sp
        return {
            "jobs": float(len(inside)),
            "job_busy_s": busy,
            "no_job_s": max(0.0, wall - busy),
            "task_cpu_s": cpu,
            "shuffle_mb": shuffle,
            "spill_mb": spill,
        }

    def span_stats(self, spans: list[Span]) -> dict[str, float]:
        """Per-call medians over ``spans`` (wall_s plus ``stats``)."""
        if not spans:
            return {}
        rows = [dict(self.stats(s.start_ms, s.end_ms), wall_s=s.wall_s) for s in spans]
        return {k: median([r[k] for r in rows]) for k in rows[0]}


def median(values: list[float]) -> float:
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no values")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0
