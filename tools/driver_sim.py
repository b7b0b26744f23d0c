"""Simulate the verification driver: plain SparkSession, every
__spark_entry__ query vs its DuckDB oracle at sf0.01, order-insensitive
value-hash compare (sort columns by name, then rows, then hash CSV).

Usage: python tools/driver_sim.py [sf_dir] [--only SUBSTR[,SUBSTR...]]

--only restricts the sweep to queries whose name contains any given
substring — the incremental loop while building one query; the full
sweep stays the pre-commit/pre-round gate.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movie_data_pipeline_spark.operators.util import query_scope  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def value_hash(pdf) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


def main() -> int:
    args = sys.argv[1:]
    only: list[str] = []
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1].split(",")
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    import __spark_entry__ as e

    n = e.entry(spark).count()
    assert n > 0, "entry() returned no rows"
    print(f"entry(): {n} rows OK", flush=True)

    queries, oracles = e.queries(), e.oracle_sql()
    if only:
        queries = {
            n: f for n, f in queries.items() if any(s in n for s in only)
        }
    failures = []
    for i, (name, fn) in enumerate(sorted(queries.items())):
        try:
            with query_scope():
                spdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"spark error: {ex}"))
            print(f"[{i+1}/{len(queries)}] {name}: SPARK ERROR", flush=True)
            continue
        if name not in oracles:
            print(f"[{i+1}/{len(queries)}] {name}: rows-only "
                  f"({len(spdf)} rows)", flush=True)
            continue
        odf = con.execute(oracles[name]).df()
        if len(spdf) != len(odf):
            failures.append((name, f"rowcount {len(spdf)} != {len(odf)}"))
            print(f"[{i+1}/{len(queries)}] {name}: ROWCOUNT MISMATCH",
                  flush=True)
            continue
        if sorted(spdf.columns) != sorted(odf.columns):
            failures.append(
                (name, f"columns {sorted(spdf.columns)} != "
                       f"{sorted(odf.columns)}"))
            print(f"[{i+1}/{len(queries)}] {name}: SCHEMA MISMATCH",
                  flush=True)
            continue
        hs, ho = value_hash(spdf), value_hash(odf)
        status = "OK" if hs == ho else "HASH MISMATCH"
        if hs != ho:
            failures.append((name, "value hash mismatch"))
        print(f"[{i+1}/{len(queries)}] {name}: {status}", flush=True)

    print(f"\n{len(queries) - len(failures)}/{len(queries)} passed")
    for name, why in failures:
        print(f"FAIL {name}: {why}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
