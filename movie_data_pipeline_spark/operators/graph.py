"""Distributed connected components — the clustering step of a
near-duplicate pipeline (candidate pairs → duplicate clusters →
canonical representative per cluster).

The reference pipeline has no graph operator (its dedup surface is the
pandas set-difference check at ``README.md:482-488``); this is part of
the LLM-training-data extension surface: after q18/q20 produce near-dup
*pairs*, a training pipeline must group them into *clusters* and keep
one canonical document per cluster.

Algorithm: minimum-label propagation. Every node starts labelled with
its own id; each round, every node takes the min of its own label and
its neighbours' labels; converged when no label changes. Rounds needed =
graph diameter. Near-duplicate graphs are unions of small dense
clusters (diameter 2-3 in practice), so propagation converges in a
handful of rounds. For adversarial high-diameter graphs (long chains)
``connected_components_star`` implements the alternating
large-star/small-star contraction of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SoCC '14): O(log² n) rounds with
the same per-round shuffle shape, verified equivalent on chains, dense
clusters, and random graphs in tests/test_graph.py.

Scale notes (100 TB discipline):

- Each round is two shuffles: messages are grouped by destination node,
  then unioned with the current labels and min-aggregated. Both hash on
  the node id — AQE coalesces the exchanges.
- ``localCheckpoint`` after every round truncates lineage; without it
  the logical plan doubles per iteration and the driver, not the
  cluster, becomes the bottleneck.
- The convergence test is a single aggregate over the changed-label
  join, not a ``collect()``.
- Only (node, label) pairs ever shuffle — never document text or
  signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Round budget of connected_components: label propagation needs
# diameter + 1 rounds, so a graph wider than this must use the star
# contraction.
_PROPAGATION_ROUNDS = 25
# Round budget of connected_components_star: O(log^2 n) alternating
# rounds converge far inside it at any realistic graph size.
_STAR_ROUNDS = 40


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Label every node with the smallest node id in its component.

    Parameters
    ----------
    edges:
        Undirected edge list (either orientation; duplicates fine).
    nodes:
        Optional single-column node universe. Nodes absent from
        ``edges`` become singleton components (their own id). Defaults
        to the nodes appearing in ``edges``.
    Returns ``DataFrame[node, component]``. Raises ``RuntimeError``
    when labels still change after the round budget (a graph of
    diameter 25 or more): use ``algorithm="star"``.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # both orientations emitted map-side from ONE evaluation of the
    # caller's edge frame — the union form inlined the (often
    # expensive: capped Jaccard pairs) edge subtree twice when the
    # materialization first ran (guide §2.4)
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .localCheckpoint(eager=True)
    )

    if nodes is None:
        universe = sym.select(F.col("a").alias("node")).distinct()
    else:
        universe = nodes.toDF("node").distinct()
    labels = (
        universe.withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(_PROPAGATION_ROUNDS):
        # Every node forwards its current label to each neighbour.
        msgs = sym.join(labels, sym.a == labels.node).select(
            F.col("b").alias("node"), "component"
        )
        new_labels = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "label propagation did not converge within "
            f"{_PROPAGATION_ROUNDS} rounds (graph diameter too large); "
            'use connected_components_star / algorithm="star"'
        )
    return labels


def connected_components_star(
    edges: DataFrame, nodes: DataFrame | None = None
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC '14) — the O(log² n)-round scale path for
    high-diameter graphs where min-label propagation
    (``connected_components``) needs diameter rounds.

    Each round rewires the edge set toward a star forest:

    - **large-star**: every node attaches its *larger* neighbours to
      the minimum of its closed neighbourhood m = min(Γ(u) ∪ {u});
    - **small-star**: every node attaches its *smaller-or-equal*
      neighbours (and itself) to m.

    Both are one groupBy (per-node min) + one join (re-emit edges), the
    same two-shuffle round shape as label propagation; edges stay
    (node, node) pairs — nothing wider ever shuffles. Converged when a
    small-star pass leaves the edge set unchanged, at which point every
    edge is (member, component-min) and labels read off directly.
    Same output contract as ``connected_components``:
    ``DataFrame[node, component]`` with singletons from ``nodes``, read
    from ``edges``' ``src``/``dst`` columns.
    """
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).filter(
        F.col("a") != F.col("b")
    )
    cur = (
        # map-side two-orientation explode: one evaluation of the edge
        # subtree, same rows as the old self-union (guide §2.4)
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    if nodes is None:
        universe = cur.select(F.col("a").alias("node")).distinct()
    else:
        universe = nodes.toDF("node").distinct()

    def mins_of(sym: DataFrame) -> DataFrame:
        # m(u) = min over the closed neighbourhood Γ(u) ∪ {u}
        return (
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least(F.col("a"), F.col("mn")).alias("m"))
        )

    prev_ss: DataFrame | None = None
    for _ in range(_STAR_ROUNDS):
        # -- large-star: (v, m(u)) for v in Γ(u), v > u; keep (u, m(u))
        mins = mins_of(cur)
        ls = (
            cur.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        sym_ls = (
            ls.union(ls.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
            .localCheckpoint(eager=True)
        )
        # -- small-star: (v, m(u)) for v in Γ(u), v <= u; keep (u, m(u))
        # every emitted pair has a > b (m is the closed-neighbourhood min)
        mins = mins_of(sym_ls)
        ss = (
            sym_ls.filter(F.col("b") < F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # converged when successive small-star outputs (both child->root
        # directed, deduped) coincide
        changed = 1
        if prev_ss is not None:
            changed = (
                ss.join(prev_ss, ["a", "b"], "left_anti").limit(1).count()
                + prev_ss.join(ss, ["a", "b"], "left_anti").limit(1).count()
            )
        prev_ss = ss
        cur = (
            ss.union(ss.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
            .localCheckpoint(eager=True)
        )
        if changed == 0:
            break
    else:
        # Exhausting the round budget without a fixpoint means the edge
        # set is NOT a star forest and the read-off below would silently
        # under-merge components — fail loudly instead.
        raise RuntimeError(
            f"star contraction did not converge within {_STAR_ROUNDS} "
            "rounds (bound is O(log^2 n) alternating rounds)"
        )

    # star forest: every remaining directed edge points member -> root
    members = (
        cur.filter(F.col("b") < F.col("a"))
        .groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("component"))
    )
    return (
        universe.join(members, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def duplicate_clusters(
    pairs: DataFrame, docs: DataFrame, algorithm: str = "propagation"
) -> DataFrame:
    """Cluster near-duplicate pairs; return members of multi-doc clusters.

    ``pairs`` must carry ``doc_a``/``doc_b`` (e.g. from
    ``operators.dedup.jaccard_pairs`` or ``lsh_candidate_pairs_wide``);
    ``docs`` supplies the node universe so isolated documents are
    (implicitly) singleton clusters. Output: one row per document that
    belongs to a cluster of ≥ 2 documents, with the cluster's canonical
    id (min doc_id) and size — exactly what a keep-one-per-cluster
    filter consumes downstream. ``algorithm='star'`` switches to the
    log-round star contraction for graphs where chains of borderline
    near-dups stretch the diameter.
    """
    if algorithm not in ("propagation", "star"):
        raise ValueError(
            f"algorithm must be 'propagation' or 'star', got {algorithm!r}"
        )
    cc = connected_components if algorithm == "propagation" else connected_components_star
    comp = cc(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        nodes=docs.select("doc_id"),
    )
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes.filter(F.col("cluster_size") > 1), "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
        )
    )
