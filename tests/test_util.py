"""The shared operator helpers in ``operators/util.py`` — pair
generation, driver-thread overlap, query-lifetime release, scratch
directories — and a structural guard that keeps each Spark idiom they
own from being pasted back in elsewhere."""

from __future__ import annotations

import ast
import itertools
import os
import pathlib
import random
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.util import (
    array_pairs,
    overlap,
    query_scope,
    scratch_dir,
)
from movie_data_pipeline_spark.plans import REGISTRY
from tests.conftest import TESTDATA_SF_DIR

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


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_query_scope_releases_caches_and_checkpoints(spark):
    kept = spark.sparkContext.parallelize(range(5)).persist()
    kept.count()
    entry = _persistent(spark)
    assert kept.id() in entry
    with query_scope():
        spark.range(50).persist().count()
        spark.range(50).localCheckpoint(eager=True)
        spark.range(50).localCheckpoint(eager=False)
        assert len(_persistent(spark) - entry) == 3
    # earlier tests' cached DataFrames may go too (clearCache() is
    # session-wide); what the block made must, and the plain RDD stays
    assert _persistent(spark) - entry == set()
    assert kept.id() in _persistent(spark)

    with pytest.raises(KeyError, match="boom"):
        with query_scope():
            spark.range(50).persist().count()
            spark.range(50).localCheckpoint(eager=True)
            raise KeyError("boom")
    assert _persistent(spark) - entry == set()
    assert kept.id() in _persistent(spark)
    kept.unpersist()


@pytest.mark.parametrize(
    "name",
    [
        "q63",
        "q79",
        "q134",
        "q144",
        "q288",
        pytest.param("q204", marks=pytest.mark.slow),
    ],
)
def test_builders_leave_nothing_persisted(spark, name):
    # q204 is an eager streaming replay returning a checkpoint scan;
    # the others leave caches and checkpoints that clearCache() alone
    # does not release
    (full,) = [n for n in REGISTRY if n.startswith(name + "_")]
    entry = _persistent(spark)
    with query_scope():
        REGISTRY[full].build(spark, TESTDATA_SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
    assert _persistent(spark) - entry == set()


def test_scratch_dir_removed_when_block_raises():
    with pytest.raises(KeyError):
        with scratch_dir("test") as path:
            assert os.path.basename(path).startswith("mdp-test-")
            (pathlib.Path(path) / "sub").mkdir()
            (pathlib.Path(path) / "sub" / "f").write_text("x")
            raise KeyError(path)
    assert not os.path.exists(path)


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


def _is_ngram_join(node: ast.AST) -> bool:
    """``F.array_join(F.slice(<arr>, i, n), ...)`` with a variable start:
    the word n-gram window idiom."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "array_join"
        and bool(node.args)
        and isinstance(node.args[0], ast.Call)
        and isinstance(node.args[0].func, ast.Attribute)
        and node.args[0].func.attr == "slice"
        and len(node.args[0].args) >= 2
        and isinstance(node.args[0].args[1], ast.Name)
    )


def _strings(node: ast.AST) -> list[str]:
    """The literal text of a string constant, or of an f-string's
    constant parts."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return [node.value]
    if isinstance(node, ast.JoinedStr):
        return [v.value for v in node.values if isinstance(v, ast.Constant)]
    return []


def _is_vote_threshold(node: ast.AST) -> bool:
    """``<vote column f"b{j}"> ... > <threshold>``: the SimHash rule
    that sets bit j from its vote sum."""
    return (
        isinstance(node, ast.Compare)
        and isinstance(node.ops[0], ast.Gt)
        and any(
            isinstance(n, ast.JoinedStr)
            and len(n.values) == 2
            and isinstance(n.values[0], ast.Constant)
            and n.values[0].value == "b"
            for n in ast.walk(node.left)
        )
    )


def _calls(node: ast.AST, name: str) -> bool:
    """``<anything>.name(...)``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def _is_dim_collect(node: ast.AST) -> bool:
    """``F.collect_list(F.struct("dim_idx", ...))``: reassembling a
    per-dimension aggregate into a vector."""
    return (
        _calls(node, "collect_list")
        and bool(node.args)
        and _calls(node.args[0], "struct")
        and bool(node.args[0].args)
        and isinstance(node.args[0].args[0], ast.Constant)
        and node.args[0].args[0].value == "dim_idx"
    )


def _is_md5_seed_order(node: ast.AST) -> bool:
    """``.orderBy(F.md5(<vec_id>), ...)``: the IVF seed draw."""
    return (
        _calls(node, "orderBy")
        and bool(node.args)
        and _calls(node.args[0], "md5")
        and any(
            isinstance(n, ast.Constant) and n.value == "vec_id"
            for n in ast.walk(node.args[0])
        )
    )


def test_idioms_live_only_in_their_helpers():
    hits = {
        "concurrent.futures": set(),
        "unpersist": set(),
        "mkdtemp": set(),
        "pairs": set(),
        "ngrams": set(),
        "bucket column": set(),
        "rung column": set(),
        "mean vector": set(),
        "ivf codebook meta": set(),
        "ivf seed order": set(),
        "bit census": set(),
        "bucket pair count": set(),
        "vote threshold": set(),
    }
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
            for idiom in ("unpersist", "mkdtemp"):
                if _calls(node, idiom):
                    hits[idiom].add(where)
            if _is_pair_slice(node):
                hits["pairs"].add(where)
            if _is_ngram_join(node):
                hits["ngrams"].add(where)
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "pmod(doc_id" in node.value
            ):
                hits["bucket column"].add(where)
            if (
                _calls(node, "withColumn")
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "rung"
            ):
                hits["rung column"].add(where)
            if _is_dim_collect(node):
                hits["mean vector"].add(where)
            if isinstance(node, ast.Constant) and node.value == "ivf_centroids":
                hits["ivf codebook meta"].add(where)
            if _is_md5_seed_order(node):
                hits["ivf seed order"].add(where)
            text = _strings(node)
            if any("simhash div" in t for t in text):
                hits["bit census"].add(where)
            if any("(sz - 1)) div 2" in t for t in text):
                hits["bucket pair count"].add(where)
            if _is_vote_threshold(node):
                hits["vote threshold"].add(where)
    assert hits == {
        "concurrent.futures": {"operators/util.py"},
        "unpersist": {
            "operators/util.py:cached",
            "operators/util.py:query_scope",
        },
        "mkdtemp": {"operators/util.py:scratch_dir"},
        "pairs": {"operators/util.py:array_pairs"},
        "ngrams": {"functions/text.py:ngrams"},
        "bucket column": {"operators/index_lifecycle.py:bucketed"},
        "rung column": {"operators/index_lifecycle.py:simhash_index"},
        "mean vector": {
            "operators/similarity.py:cell_centroids",
            "operators/similarity.py:mean_vectors",
        },
        "ivf codebook meta": {
            "operators/index_lifecycle.py:ivf_layout",
            "operators/index_lifecycle.py:stored_ivf_codebook",
        },
        "ivf seed order": {"operators/similarity.py:ivf_seeds"},
        "bit census": {"operators/dedup.py:bit_census"},
        "bucket pair count": {"operators/dedup.py:band_bucket_pairs"},
        "vote threshold": {"operators/dedup.py:_threshold_fold"},
    }


REPO = PACKAGE.parent
CALLER_ROOTS = (
    PACKAGE,
    REPO / "tests",
    REPO / "tools",
    REPO / "perfbench",
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
)
# (function, parameter) pairs allowed to keep a default no caller
# overrides. Only deployment settings (addresses, paths, credentials)
# belong here, each with a comment naming the setting.
NEVER_SET_ALLOWED: set[tuple[str, str]] = set()


def _py_files(root: pathlib.Path) -> list[pathlib.Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _defaulted_params(fn: ast.FunctionDef, is_method: bool):
    """(positional parameter names, {name: default node})."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args][1 if is_method else 0:]
    defaults = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    defaults.update(
        (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    return pos, defaults


def _params_set_by(call: ast.Call, pos: list[str], defaults: dict,
                   in_tests: bool) -> set[str]:
    """Defaulted parameters this call sets: passed a value other than
    the default literal, by position or keyword. A test that passes a
    parameter explicitly pins it, so that counts as set too; a *args
    or **kwargs call may set any parameter it can reach."""
    def differs(value: ast.AST, name: str) -> bool:
        return in_tests or ast.dump(value) != ast.dump(defaults[name])

    out = set()
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            out.update(p for p in pos[i:] if p in defaults)
            break
        if i < len(pos) and pos[i] in defaults and differs(arg, pos[i]):
            out.add(pos[i])
    for kw in call.keywords:
        if kw.arg is None:
            out.update(defaults)
        elif kw.arg in defaults and differs(kw.value, kw.arg):
            out.add(kw.arg)
    return out


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    # A default that no caller overrides is a constant spelled as an
    # option: every uniquely named package function or method with a
    # call site must have each defaulted parameter set by some call.
    defs: dict[str, list] = {}
    for path in _py_files(PACKAGE):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, []).append((path, node, False))
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef):
                        static = any(
                            isinstance(d, ast.Name) and d.id == "staticmethod"
                            for d in m.decorator_list
                        )
                        defs.setdefault(m.name, []).append(
                            (path, m, not static)
                        )
    calls: dict[str, list] = {}
    for root in CALLER_ROOTS:
        for path in _py_files(root):
            in_tests = path.is_relative_to(REPO / "tests")
            for node in ast.walk(ast.parse(path.read_text())):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                calls.setdefault(name, []).append((node, in_tests))

    never_set = []
    for name, found in defs.items():
        if len(found) != 1 or name not in calls:
            continue
        path, fn, is_method = found[0]
        pos, defaults = _defaulted_params(fn, is_method)
        set_ = set()
        for call, in_tests in calls[name]:
            set_ |= _params_set_by(call, pos, defaults, in_tests)
        rel = path.relative_to(REPO).as_posix()
        never_set += [
            f"{rel}:{fn.lineno} {name}({p})"
            for p in defaults
            if p not in set_ and (name, p) not in NEVER_SET_ALLOWED
        ]
    assert never_set == []


def test_clear_cache_lives_only_in_query_scope():
    # Harnesses release each query through query_scope(); a bare
    # clearCache() misses localCheckpoint results. perfbench/ is left
    # out: it is the benchmark of record and keeps its own release.
    hits = set()
    for root in (
        PACKAGE,
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        REPO / "tools",
        REPO / "tests",
    ):
        for path in _py_files(root):
            for owner, node in _functions(ast.parse(path.read_text())):
                if _calls(node, "clearCache"):
                    rel = path.relative_to(REPO).as_posix()
                    hits.add(f"{rel}:{owner}")
    assert hits == {"movie_data_pipeline_spark/operators/util.py:query_scope"}

