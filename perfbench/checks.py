"""Output checks against independent references (DuckDB SQL over the
same files, and the generators' ground truth). Run outside timing."""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import pandas as pd


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash: columns by name, then rows, then CSV."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


def same_result(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if value_hash(spark_pdf) != value_hash(oracle_pdf):
        return "value hash mismatch"
    return None


def duck_views(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per parquet file or directory."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in views.items():
        target = os.path.join(path, "**", "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{target}')")
    return con


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(f))


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
