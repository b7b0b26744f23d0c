"""Connected-components semantics on planted graphs."""

from __future__ import annotations

import pytest

from movie_data_pipeline_spark.operators.graph import (
    connected_components,
    duplicate_clusters,
)

pytestmark = pytest.mark.usefixtures("_scoped")


def test_chain_collapses_to_one_component(spark):
    # A long chain is the worst case for min-label propagation
    # (diameter = n-1); 6 nodes converge well inside max_rounds.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["src", "dst"]
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {(i, 1) for i in range(1, 7)}


def test_propagation_raises_past_its_round_budget(spark):
    # A 30-node path has diameter 29: label propagation cannot converge
    # in 25 rounds, and must say so instead of returning the partial
    # labels; the star contraction handles the same graph.
    from movie_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match='algorithm="star"'):
        connected_components(edges)
    got = {
        (r["node"], r["component"])
        for r in connected_components_star(edges).collect()
    }
    assert got == {(i, 0) for i in range(30)}


def test_components_are_separated_and_singletons_kept(spark):
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(n,) for n in (10, 11, 12, 20, 21, 30)], ["id"])
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
        (30, 30),  # isolated node is its own component
    }


def test_duplicate_clusters_drops_singletons(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], ["doc_id"])
    rows = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters(pairs, docs).collect()
    }
    assert rows == {(1, 1, 3), (2, 1, 3), (3, 1, 3)}


def _ground_truth(edges, nodes):
    """Python union-find oracle."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min of component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {(n, min(members)) for members in comp.values() for n in members}


def test_star_contraction_on_long_chain(spark):
    """60-node chain: diameter 59 — label propagation's worst case, the
    star contraction's reason to exist (converges in O(log^2 n) rounds;
    max_rounds=40 >> needed)."""
    from movie_data_pipeline_spark.operators.graph import connected_components_star

    n = 60
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    got = {
        (r["node"], r["component"])
        for r in connected_components_star(edges).collect()
    }
    assert got == {(i, 0) for i in range(n)}


def test_star_contraction_matches_union_find_on_random_graph(spark):
    """Deterministic pseudo-random graph (mixed cluster sizes, isolated
    nodes): star contraction must equal the union-find ground truth."""
    from movie_data_pipeline_spark.operators.graph import connected_components_star

    nodes = list(range(100))
    # deterministic edge list: chains, a clique, cross links, self-dups
    edges = (
        [(i, i + 1) for i in range(0, 30, 2)]
        + [(i, j) for i in range(40, 45) for j in range(i + 1, 45)]
        + [(50 + (i * 7) % 20, 50 + (i * 13) % 20) for i in range(15)]
        + [(90, 91), (91, 92), (90, 92), (92, 90)]
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components_star(
            spark.createDataFrame(edges, ["src", "dst"]),
            nodes=spark.createDataFrame([(n,) for n in nodes], ["id"]),
        ).collect()
    }
    assert got == _ground_truth(edges, nodes)


def test_star_and_propagation_agree(spark):
    from movie_data_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (21, 22), (22, 20)], ["src", "dst"]
    )
    a = {(r["node"], r["component"]) for r in connected_components(edges).collect()}
    b = {(r["node"], r["component"]) for r in connected_components_star(edges).collect()}
    assert a == b


def test_duplicate_clusters_star_variant(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"])
    docs = spark.createDataFrame([(i,) for i in range(1, 10)], ["doc_id"])
    got = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters(pairs, docs, algorithm="star").collect()
    }
    assert got == {(1, 1, 3), (2, 1, 3), (3, 1, 3), (7, 7, 2), (8, 7, 2)}
