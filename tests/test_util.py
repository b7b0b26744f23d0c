"""The shared operator helpers in ``operators/util.py`` — pair
generation, driver-thread overlap — and a structural guard that keeps
each Spark idiom they own from being pasted back in elsewhere."""

from __future__ import annotations

import ast
import itertools
import pathlib
import random
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.util import array_pairs, overlap

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / (
    "movie_data_pipeline_spark"
)


def test_array_pairs_equals_combinations(spark):
    rng = random.Random(7)
    arrays = [[], [5], [1, 9]] + [
        sorted(rng.sample(range(100), rng.randint(0, 12))) for _ in range(20)
    ]
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "id INT, arr ARRAY<INT>"
    )
    got = {
        r.id: [(p.a, p.b) for p in r.pairs]
        for r in df.select(
            "id",
            array_pairs(
                F.col("arr"), lambda x, y: F.struct(x.alias("a"), y.alias("b"))
            ).alias("pairs"),
        ).collect()
    }
    for i, a in enumerate(arrays):
        assert got[i] == list(itertools.combinations(a, 2)), a


def test_overlap_keeps_argument_order(spark):
    # the first thunk finishes last, so completion order differs from
    # argument order
    release = threading.Event()

    def slow():
        assert release.wait(30)
        return "slow"

    def fast():
        release.set()
        return "fast"

    assert overlap(slow, fast, lambda: 3) == ["slow", "fast", 3]


def test_overlap_reraises_thunk_exception(spark):
    ran = []

    def boom():
        raise KeyError("boom")

    with pytest.raises(KeyError, match="boom"):
        overlap(lambda: ran.append(1), boom, lambda: ran.append(3))
    assert sorted(ran) == [1, 3]


def test_overlap_threads_inherit_job_group(spark):
    sc = spark.sparkContext

    def group():
        return sc.getLocalProperty("spark.jobGroup.id")

    set_by_first = threading.Event()

    def set_own():
        sc.setLocalProperty("util.overlap.probe", "first")
        set_by_first.set()
        return group()

    def read_sibling():
        assert set_by_first.wait(30)
        return sc.getLocalProperty("util.overlap.probe")

    sc.setJobGroup("util-overlap", "job group inherited by pool threads")
    try:
        assert overlap(group, group) == ["util-overlap", "util-overlap"]
        # each thunk gets its own copy: a property one thunk sets is
        # not seen by a sibling or by the caller
        assert overlap(set_own, read_sibling) == ["util-overlap", None]
        assert sc.getLocalProperty("util.overlap.probe") is None
        # a plain pool thread drops the caller's local properties
        with ThreadPoolExecutor(max_workers=1) as pool:
            assert pool.submit(group).result() is None
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)


def _functions(tree: ast.AST):
    """(function name, node) for every node, tagged with the innermost
    enclosing function (None at module level)."""
    def walk(node, owner):
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else owner
            )
            yield name, child
            yield from walk(child, name)

    return walk(tree, None)


def _is_pair_slice(node: ast.AST) -> bool:
    """``F.slice(<arr>, i + 2, ...)``: the all-pairs slice idiom."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "slice"
        and len(node.args) >= 2
        and isinstance(node.args[1], ast.BinOp)
        and isinstance(node.args[1].op, ast.Add)
        and isinstance(node.args[1].right, ast.Constant)
        and node.args[1].right.value == 2
    )


def test_idioms_live_only_in_their_helpers():
    hits = {"concurrent.futures": set(), "unpersist": set(), "pairs": set()}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for owner, node in _functions(ast.parse(path.read_text())):
            where = f"{rel}:{owner}"
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").startswith("concurrent")
            ) or (
                isinstance(node, ast.Import)
                and any(a.name.startswith("concurrent") for a in node.names)
            ):
                hits["concurrent.futures"].add(rel)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "unpersist"
            ):
                hits["unpersist"].add(where)
            if _is_pair_slice(node):
                hits["pairs"].add(where)
    assert hits == {
        "concurrent.futures": {"operators/util.py"},
        "unpersist": {"operators/util.py:cached"},
        "pairs": {"operators/util.py:array_pairs"},
    }
