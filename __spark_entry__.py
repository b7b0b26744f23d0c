"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over the query catalog in
``movie_data_pipeline_spark.plans`` — every implemented operator from
SURVEY.md §2 (plus the LLM-pipeline extensions) registers there as a
(Spark builder, DuckDB oracle SQL) pair with aligned column names and
rounding.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from movie_data_pipeline_spark.plans import REGISTRY

FLAGSHIP = "q02_region_revenue"
SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The verification driver records CORRECTNESS rows for the first 50
# entries of the ``queries()`` dict in insertion order, so the dict
# decides what the driver verifies. It leads with never-verified
# names, then the re-verification queue, then the verified names,
# stalest green row first. Canonical names stay in
# ``movie_data_pipeline_spark.plans.REGISTRY`` and in all tests/bench.
#
# Nothing here is kept by hand. A name counts as verified when its row
# in some CORRECTNESS_r{N}.json, written by the driver into the repo
# root, is fully green (rows+schema+hash, no err). The queue comes from
# FINGERPRINTS.json, written by ``tools/fingerprints.py``: each name
# maps to a hash of its builder's code and oracle and to ``since``,
# the first round after that hash last changed. A name is re-queued
# while its latest green round is older than its ``since``; ``since``
# 0 never queues. Queued names are ordered by (since, query number),
# so the oldest changes lead when more than the window is queued.


def _load_green_rounds() -> dict[str, int]:
    """name -> latest round number whose CORRECTNESS row was fully
    green (rows+schema+hash, no err)."""
    here = os.path.dirname(os.path.abspath(__file__))
    green_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        stem = os.path.basename(path)[len("CORRECTNESS_r"):].split(".")[0]
        try:
            rnd = int(stem)
        except ValueError:
            continue
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for key, row in data.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)  # rows-only checks
                and not row.get("err")
            )
            if green:
                name = key[2:] if key.startswith("a_") else key
                green_round[name] = max(green_round.get(name, 0), rnd)
    return green_round


_GREEN_ROUND: dict[str, int] = _load_green_rounds()
_DRIVER_VERIFIED: frozenset[str] = frozenset(_GREEN_ROUND)


def _qnum(name: str) -> tuple[int, str]:
    digits = ""
    for ch in name[1:]:
        if not ch.isdigit():
            break
        digits += ch
    return (int(digits) if digits else 10**9, name)


def _active_reverify(
    queue: dict[str, int], green_round: dict[str, int]
) -> tuple[str, ...]:
    return tuple(
        n for n, since in queue.items() if green_round.get(n, 0) < since
    )


def _load_queue() -> dict[str, int]:
    """name -> since from FINGERPRINTS.json, in (since, query number)
    order."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "FINGERPRINTS.json")) as fh:
        table = json.load(fh)
    return {
        name: since
        for name, (_sha, since) in sorted(
            table.items(), key=lambda kv: (kv[1][1], _qnum(kv[0]))
        )
    }


_REVERIFY_QUEUE: dict[str, int] = _load_queue()
_FORCE_REVERIFY: tuple[str, ...] = _active_reverify(
    _REVERIFY_QUEUE, _GREEN_ROUND
)


def _rotation_order() -> list[str]:
    """Catalog names, never-driver-verified first (ascending query
    number — oldest block first), then the force-reverify queue (stale
    greens re-enter only once no never-verified name would be displaced
    from the window), then verified sorted."""
    unverified = sorted(
        (n for n in REGISTRY if n not in _DRIVER_VERIFIED), key=_qnum
    )
    forced = [
        n for n in _FORCE_REVERIFY
        if n in REGISTRY and n in _DRIVER_VERIFIED
    ]
    verified = sorted(
        (n for n in REGISTRY
         if n in _DRIVER_VERIFIED and n not in forced),
        key=lambda n: (_GREEN_ROUND.get(n, 0), _qnum(n)),
    )
    return unverified + forced + verified


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY[FLAGSHIP].build(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name].build for name in _rotation_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    return {
        name: REGISTRY[name].oracle
        for name in _rotation_order()
        if REGISTRY[name].oracle is not None
    }
