"""Timed run of a NAMED SUBSET of registry queries — the building block
of the same-context A/B harness (tools/ab_bench.py).

Usage: python tools/quick_bench.py [--repeats N] [--tag LABEL] q273 q276 ...

Methodology matches bench.py exactly (one session, warmup on the first
query, build inside the timed region, noop sink, each query inside its
own ``query_scope()``, per-query min-of-N over INTERLEAVED passes), so
numbers are comparable to a headline pass — but only WITHIN one machine
context.
Prints one JSON line: {"tag": ..., "queries": {name: min_sec},
"runs": {name: [sec, ...]}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movie_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from movie_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    repeats, tag = 3, "ab"
    while args and args[0].startswith("--"):
        if args[0] == "--repeats":
            repeats = int(args[1])
            args = args[2:]
        elif args[0] == "--tag":
            tag = args[1]
            args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    prefixes = args
    names = [
        n
        for n in REGISTRY
        if any(n == p or n.startswith(p + "_") for p in prefixes)
    ]
    if not names:
        raise SystemExit(f"no queries match {prefixes}")

    from bench import run_query  # same timed path as the headline

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"quick-bench-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    run_query(spark, names[0], sf_dir)  # warmup: session/codegen startup
    runs: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(repeats):
        for n in names:
            spark.sparkContext.setJobDescription(f"{tag}:{n}")
            runs[n].append(run_query(spark, n, sf_dir))
    out = {
        "tag": tag,
        "queries": {n: round(min(v), 3) for n, v in runs.items()},
        "runs": {n: [round(x, 3) for x in v] for n, v in runs.items()},
    }
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
