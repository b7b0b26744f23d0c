#!/usr/bin/env python
"""Dump `explain(formatted)` for every catalog query and flag plan
smells: Python row-UDFs (BatchEvalPython), cartesian products,
single-partition windows outside the documented bounded-frame
allowlist, per-row work repeated inside higher-order lambdas, arrays
built twice per row by an inferred ``size(...) > 0`` filter, and
builders tagged eager whose plan is not a checkpoint scan.

Usage: python tools/audit_plans.py [sf_dir] > plans.txt

The same audit runs in CI as tests/test_plan_audit.py so the smells
can't regress silently.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMELLS = {
    "BatchEvalPython": "row-at-a-time Python UDF in plan",
    "CartesianProduct": "cartesian product (unbucketed cross join)",
}

# Fallback string detector (used only when no DataFrame is available):
# an unpartitioned windowspecdefinition starts with an ORDER expression
# (`col ASC/DESC NULLS ...`) or, for the unordered whole-frame case,
# directly with specifiedwindowframe. Partitioned windows lead with
# plain partition columns, which carry no ASC/DESC. NOTE: this regex
# misses order expressions containing parens/commas (e.g.
# date_trunc(...) ASC) — the structural check below is authoritative.
_UNPARTITIONED_WINDOW = re.compile(
    r"windowspecdefinition\(\s*(?:[^,()]*\s(?:ASC|DESC)|specifiedwindowframe)"
)


def unpartitioned_window_count(df) -> int:
    """Authoritative detector: walk the optimized logical plan as JSON
    and count Window nodes whose partitionSpec is empty — immune to how
    the order expressions render (parens, commas, nested functions)."""
    import json

    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return sum(
        1
        for n in nodes
        if n.get("class", "").endswith(".logical.Window")
        and not n.get("partitionSpec")
    )


_EXPRESSIONS = "org.apache.spark.sql.catalyst.expressions."


def _expression_trees(value):
    """Every expression tree held in a plan-JSON field value. Catalyst
    writes an expression as its nodes in pre-order, each with a
    ``num-children`` count; fields of those nodes that repeat their
    children (``CaseWhen.branches``) are not descended into."""
    if isinstance(value, dict):
        for v in value.values():
            yield from _expression_trees(v)
    elif isinstance(value, list):
        head = value[0] if value else None
        if isinstance(head, dict) and head.get("class", "").startswith(_EXPRESSIONS):
            yield _parse_expression(value, 0)[0]
        else:
            for v in value:
                yield from _expression_trees(v)


def _parse_expression(nodes, i):
    node = nodes[i]
    kids, i = [], i + 1
    for _ in range(node["num-children"]):
        kid, i = _parse_expression(nodes, i)
        kids.append(kid)
    return (node["class"].rsplit(".", 1)[-1], kids), i


def plan_expressions(df) -> list:
    """Every expression of the optimized logical plan, as nested
    ``(class name, [children])`` trees."""
    import json

    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return [tree for node in nodes for tree in _expression_trees(node)]


def _references(tree) -> set:
    cls, kids = tree
    if cls == "NamedLambdaVariable":
        return {"lambda"}
    if cls == "AttributeReference":
        return {"column"}
    return set().union(*map(_references, kids)) if kids else set()


def _render(tree) -> str:
    cls, kids = tree
    return f"{cls}({', '.join(map(_render, kids))})" if kids else cls


def _is_free(tree) -> bool:
    """A leaf, or the length of an array column (as cheap as reading
    the column)."""
    cls, kids = tree
    return not kids or (cls == "Size" and all(map(_is_free, kids)))


def _lambda_invariants(body):
    """Maximal subtrees of a lambda body that read a column but no
    lambda variable: they evaluate to the same value at every element,
    so they belong in a projection below the higher-order function.
    Literal-only subtrees are constant-folded; leaves and constant-time
    reads are free."""
    refs = _references(body)
    if "lambda" in refs:
        for kid in body[1]:
            yield from _lambda_invariants(kid)
    elif "column" in refs and not _is_free(body):
        yield _render(body)


def lambda_invariant_subexpressions(df) -> list[str]:
    """Authoritative detector for per-row work repeated per array
    element: Catalyst has no loop-invariant motion across a
    ``LambdaFunction`` boundary, so a column-only subexpression inside
    a lambda body (``split(lower(trim(text)))`` in a shingle transform)
    runs once per element. Walks the optimized logical plan as JSON."""
    found = []
    stack = plan_expressions(df)
    while stack:
        tree = stack.pop()
        if tree[0] == "LambdaFunction":
            found.extend(_lambda_invariants(tree[1][0]))
        stack.extend(tree[1])
    return found


def rebuilt_array_filters(df) -> list[str]:
    """Authoritative detector for an array built twice per row: under
    an inner ``explode``/``posexplode`` of a projected array, Catalyst
    infers ``size(arr) > 0`` and pushes it below the projection, where
    it becomes ``size(<the projection's higher-order function>) > 0``,
    so the filter builds the array once and the projection again.
    Walks the Filter conditions of the optimized logical plan as JSON."""
    import json

    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    found = []
    stack = [
        tree
        for node in nodes
        if node.get("class", "").endswith(".logical.Filter")
        for tree in _expression_trees(node["condition"])
    ]
    while stack:
        tree = stack.pop()
        cls, kids = tree
        rebuilt = cls == "GreaterThan" and kids[0][0] == "Size"
        if rebuilt and "lambda" in _references(kids[0]):
            found.append(_render(tree))
        stack.extend(kids)
    return found


# Queries where a single-partition window is the intended design: the
# windowed frame is provably bounded, independent of fact-table size.
WINDOW_OK = {
    # tiny-dimension surrogate keys (SURVEY §2.9): frame = |event types|
    "q10_event_type_dim",
    # whole-frame share-of-total over the per-status aggregate:
    # frame = |order statuses| (3)
    "q50_status_revenue_share",
    # rank-the-survivors after TakeOrderedAndProject: frame = k (50)
    "q106_weighted_sample",
    # rolling stats over the per-hour aggregate: frame = |hours in the
    # retention window| — bounded by calendar, not by row count
    "q115_rolling_view_purchase_corr",
    # balance-rank of the 60 fingerprint bits: frame = 60, constant
    "q304_simhash_balanced_banding",
}


def audit_plan(name: str, plan: str, df=None) -> list[str]:
    """Smell list for one query: string markers from the formatted
    physical plan, plus the structural unpartitioned-window check when
    the DataFrame is available (regex fallback otherwise) and the
    lambda-invariant and rebuilt-array checks, which need the
    DataFrame."""
    problems = [
        f"{name}: {why}" for marker, why in SMELLS.items() if marker in plan
    ]
    if name not in WINDOW_OK:
        global_windows = (
            unpartitioned_window_count(df)
            if df is not None
            else (1 if _UNPARTITIONED_WINDOW.search(plan) else 0)
        )
        if global_windows:
            problems.append(f"{name}: unpartitioned window over full data")
    if df is not None:
        problems.extend(
            f"{name}: per-row {expr} re-evaluated inside a lambda"
            for expr in sorted(set(lambda_invariant_subexpressions(df)))
        )
        problems.extend(
            f"{name}: array built twice, once for filter {expr}"
            for expr in sorted(set(rebuilt_array_filters(df)))
        )
    return problems


def explain_formatted(df) -> str:
    em = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(em)


def lazy_leaves(df) -> list[str]:
    """Node names of the optimized plan's leaves that are not
    checkpoint (``LogicalRDD``) scans: empty for a builder that ran
    eagerly and returned its materialized result."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    return [n for n in names if n != "LogicalRDD"]


def audit_all(
    spark, sf_dir: str, emit=None, skip_eager: bool = False
) -> list[str]:
    """Audit every registered plan. Builders tagged with ``EAGER_TAGS``
    return a checkpoint scan, so ``skip_eager`` (the fast CI tier) skips
    them; when they are built, each must really return one, or the skip
    would hide a lazy plan from the audit."""
    from movie_data_pipeline_spark.operators.util import query_scope
    from movie_data_pipeline_spark.plans import REGISTRY
    from movie_data_pipeline_spark.plans.core import EAGER_TAGS

    problems: list[str] = []
    for name, spec in sorted(REGISTRY.items()):
        eager = EAGER_TAGS & set(spec.tags)
        if skip_eager and eager:
            continue
        with query_scope():
            df = spec.build(spark, sf_dir)
            plan = explain_formatted(df)
            if emit:
                emit(f"{'=' * 30} {name}\n{plan}")
            problems.extend(audit_plan(name, plan, df=df))
            if eager and (lazy := lazy_leaves(df)):
                problems.append(
                    f"{name}: tagged {sorted(eager)} but its plan reads "
                    f"{lazy}, not a checkpoint scan"
                )
    return problems


def main() -> int:
    from movie_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-audit")
    problems = audit_all(spark, sf_dir, emit=print)
    print(f"\n{'=' * 30} SUMMARY")
    if problems:
        for p in problems:
            print("SMELL:", p)
        return 1
    from movie_data_pipeline_spark.plans import REGISTRY

    print(f"{len(REGISTRY)} plans audited, no smells")
    return 0


if __name__ == "__main__":
    sys.exit(main())
