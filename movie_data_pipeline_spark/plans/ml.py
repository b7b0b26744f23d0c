"""Iterative distributed algorithms as DataFrame loops: PageRank over a
relationally-derived graph and Lloyd k-means over the embedding corpus.

Both are *fixed-iteration* specifications so a SQL oracle can unroll the
same number of steps; the convergence-loop variants differ only in the
Python ``for`` bound. Numeric discipline follows q61/q62: per-term
double math is mirrored expression-for-expression on both engines and
every order-sensitive reduction (SUM across rows, fold across array
elements) goes through exact DECIMAL accumulation or a sequential fold
proven bit-identical (list_reduce == F.aggregate).

Reference parity note: the reference (etl1.py) has no iterative
operators at all; these extend SURVEY §7 phase 5 (north-star
extensions) — the duplicate-cluster label propagation in
operators/graph.py is the third member of this family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.similarity import mean_vectors, sq_dist
from movie_data_pipeline_spark.operators.util import array_pairs
from movie_data_pipeline_spark.plans.core import query, r4, round4
from movie_data_pipeline_spark.sources.registry import load_table

_PR_ITERS = 3
_PR_DAMP = 0.85
_KMEANS_K = 4
_KMEANS_ITERS = 2


def _pagerank_oracle() -> str:
    """Unroll _PR_ITERS PageRank steps as chained CTEs.

    Every scalar expression mirrors the Spark plan token-for-token:
    w = 1.0 / CAST(outdeg AS DOUBLE) (reciprocal once, then multiply),
    contributions summed as DECIMAL(38,18), rank update
    0.15 / n + 0.85 * COALESCE(m, 0.0) in doubles.
    """
    parts = [
        """
    WITH base AS (
      SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT src, dst FROM base
              UNION ALL
              SELECT dst AS src, src AS dst FROM base),
    deg AS (SELECT src, COUNT(*) AS outdeg,
                   1.0 / CAST(COUNT(*) AS DOUBLE) AS w
            FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(f""",
    c{i} AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(r{i-1}.r * deg.w AS DECIMAL(38,18))) AS DOUBLE) AS m
      FROM edges e
      JOIN r{i-1} ON e.src = r{i-1}.node
      JOIN deg ON e.src = deg.src
      GROUP BY e.dst),
    r{i} AS (
      SELECT nodes.node, 0.15 / nn.n + 0.85 * COALESCE(c{i}.m, 0.0) AS r
      FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.node)"""
        )
    parts.append(f"""
    SELECT CASE WHEN r.node % 2 = 0 THEN 's' || CAST(r.node // 2 AS VARCHAR)
                ELSE 'c' || CAST((r.node - 1) // 2 AS VARCHAR) END AS node,
           {r4('r.r * nn.n')} AS rel_rank,
           CAST(deg.outdeg AS BIGINT) AS degree
    FROM r{_PR_ITERS} r
    CROSS JOIN nn
    JOIN deg ON r.node = deg.src
    ORDER BY rel_rank DESC, r.node
    LIMIT 30
    """)
    return "".join(parts)


@query(
    "q103_pagerank_trade_graph",
    oracle=_pagerank_oracle(),
    tags=("extension", "iterative", "graph", "pagerank"),
)
def q103_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, d=0.85) over the symmetric
    supplier↔customer trade graph derived from lineitem⋈orders,
    reported as rank relative to uniform (r·N) for the top 30 nodes.

    The loop is a DataFrame-level Pregel: each iteration is one join of
    the rank vector with the weighted edge list (shuffle on src) and one
    aggregation of contributions (shuffle on dst) — the exact
    computation GraphX/Pregel schedules, expressed relationally so
    Catalyst/AQE own the physical plan. Symmetrizing the bipartite graph
    removes dangling-node mass correction (every node has out-edges).

    Scale: the rank vector is (node, double) — tiny next to the edge
    list, which is scanned once per iteration and never mutated; at real
    iteration counts persist the edge list and checkpoint ranks every
    ~5 iterations to truncate lineage. Per-row products stay in doubles;
    cross-row sums accumulate in DECIMAL(38,18) so partition order
    cannot perturb results (q61 discipline).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            # Numeric node ids (supplier=even, customer=odd): long-keyed
            # shuffles/distincts run several× faster than string keys at
            # this edge volume; labels are rendered only for the final
            # 30-row report.
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # Loop invariants: persisted so each iteration (and each of its two
    # uses per iteration) reads the materialized edge list instead of
    # re-deriving the join+distinct lineage — without this, iteration k
    # recomputes iterations 1..k-1 and the build is O(iters²).
    # both orientations map-side from one evaluation of the join+
    # distinct base (the unionByName form computed it twice when the
    # persist first materialized — guide §2.4)
    edges = (
        base.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )
    deg = edges.groupBy("src").agg(
        F.count("*").alias("outdeg"),
        (F.lit(1.0) / F.count("*").cast("double")).alias("w"),
    ).persist()
    # The per-iteration deg join is deliberately NOT hoisted into a
    # materialized weighted-edge frame: deg is a per-node (dim-sized)
    # side AQE can broadcast at runtime, so the in-loop join is cheap,
    # while pre-materializing edges⋈deg costs a full extra shuffle-join
    # job that 3 iterations never amortize (measured ~2x at sf0.1).
    # At real iteration counts (tens+), hoist it:
    #   wedges = edges.join(deg, "src").select("src","dst","w").persist()
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_PR_ITERS):
        rk = ranks.select(F.col("node").alias("rk_node"), "r")
        contrib = (
            edges.join(rk, F.col("src") == F.col("rk_node"))
            .join(deg, "src")
            .groupBy("dst")
            .agg(
                F.sum((F.col("r") * F.col("w")).cast("decimal(38,18)"))
                .cast("double")
                .alias("m")
            )
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("m"), F.lit(0.0))
                ).alias("r"),
            )
        )
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("s"), F.expr("node div 2").cast("string")),
    ).otherwise(
        F.concat(F.lit("c"), F.expr("(node - 1) div 2").cast("string"))
    )
    return (
        ranks.crossJoin(F.broadcast(nn))
        .join(deg, F.col("node") == F.col("src"))
        .withColumn("rel_rank", round4(F.col("r") * F.col("n")))
        .orderBy(F.desc("rel_rank"), "node")
        .limit(30)
        .select(
            label.alias("node"),
            "rel_rank",
            F.col("outdeg").cast("long").alias("degree"),
        )
    )


def _kmeans_oracle() -> str:
    """Unroll _KMEANS_ITERS Lloyd steps: assign (argmin over the
    sequential squared-distance fold) then re-center (exact decimal
    per-dimension means)."""
    dist = (
        "list_reduce(list_transform(generate_series(1, len({v}.arr)), "
        "i -> ({v}.arr[i] - {c}.cvec[i]) * ({v}.arr[i] - {c}.cvec[i])), "
        "(acc, x) -> acc + x)"
    )
    parts = [
        f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    c0 AS (SELECT vec_id AS cid, arr AS cvec FROM v ORDER BY vec_id LIMIT {_KMEANS_K})"""
    ]
    for i in range(1, _KMEANS_ITERS + 1):
        parts.append(f""",
    d{i} AS (SELECT v.vec_id, v.arr, c{i-1}.cid,
                    {dist.format(v='v', c=f'c{i-1}')} AS dist2
             FROM v CROSS JOIN c{i-1}),
    a{i} AS (SELECT vec_id, arr, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY dist2, cid) AS rn
               FROM d{i}) WHERE rn = 1),
    m{i} AS (SELECT cid, i - 1 AS dim_idx,
                    CAST(SUM(CAST(arr[i] AS DECIMAL(38,18))) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE) AS val
             FROM a{i}, unnest(generate_series(1, len(arr))) AS t(i)
             GROUP BY cid, dim_idx),
    c{i} AS (SELECT cid, list(val ORDER BY dim_idx) AS cvec
             FROM m{i} GROUP BY cid)"""
        )
    last = _KMEANS_ITERS
    parts.append(f"""
    SELECT m.cid, CAST(m.dim_idx AS BIGINT) AS dim_idx,
           {r4('m.val')} AS centroid, s.n_vecs
    FROM m{last} m
    JOIN (SELECT cid, COUNT(*) AS n_vecs FROM a{last} GROUP BY cid) s
      USING (cid)
    ORDER BY cid, dim_idx
    """)
    return "".join(parts)


@query(
    "q104_kmeans_centroids",
    oracle=_kmeans_oracle(),
    tags=("extension", "iterative", "ml", "clustering"),
)
def q104_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=4, 2 fixed iterations) over the embedding corpus
    with deterministic seeding (the k lowest vec_ids), reporting final
    per-dimension centroids and cluster sizes.

    The IVF coarse quantizer trainer (operators/similarity.py uses these
    cells): assignment is a broadcast cross join of the corpus against k
    centroid rows with the squared-L2 fold evaluated in codegen
    (zip_with + sequential aggregate — bit-identical to the oracle's
    list_reduce, per q62); re-centering is one (cid, dim) hash aggregate
    with DECIMAL(38,18) sums (``mean_vectors``), and the last
    iteration's centroids are the long-form output. Ties in the argmin
    break on centroid id on both engines.

    Scale: each iteration shuffles only (cid, dim, partial-sum) — the
    corpus itself never reshuffles; centroids stay broadcast-sized
    (k×dim doubles). More iterations = longer plan; checkpoint the
    assignment every few rounds as in q103.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("arr"),
    )
    cents = (
        vecs.orderBy("vec_id")
        .limit(_KMEANS_K)
        .select(F.col("vec_id").alias("cid"), F.col("arr").alias("cvec"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        d = vecs.crossJoin(F.broadcast(cents)).withColumn(
            "dist2", sq_dist(F.col("arr"), F.col("cvec"))
        )
        w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "arr", "cid")
        )

    assigned = None
    for _ in range(_KMEANS_ITERS):
        # persist: the last assignment feeds the re-centering and the
        # sizes; k-row centroid frames cost nothing to cache and cut
        # each iteration's recursive lineage.
        assigned = assign(cents).persist()
        cents = mean_vectors(
            assigned, ["cid"], "arr", "decimal(38,18)"
        ).select("cid", F.col("centroid").alias("cvec")).persist()
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("n_vecs"))
    return (
        cents.join(sizes, "cid")
        .select("cid", F.posexplode("cvec").alias("dim_idx", "val"), "n_vecs")
        .select(
            "cid",
            F.col("dim_idx").cast("long").alias("dim_idx"),
            round4(F.col("val")).alias("centroid"),
            "n_vecs",
        )
        .orderBy("cid", "dim_idx")
    )


# --------------------------------------------------------------------------
# q116 — triangle counting + local clustering coefficient
# --------------------------------------------------------------------------
_TRI_MIN_CO = 2  # co-occurrence support threshold defining an edge


@query(
    "q116_copurchase_triangles",
    oracle=f"""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             COUNT(DISTINCT a.l_orderkey) AS n_co
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    edges AS (SELECT pa, pb FROM pairs WHERE n_co >= {_TRI_MIN_CO}),
    tris AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM edges e1
      JOIN edges e2 ON e2.pa = e1.pb
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
    node_tris AS (
      SELECT node, COUNT(*) AS n_tri FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
      GROUP BY node),
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT pa AS node FROM edges
        UNION ALL SELECT pb FROM edges)
      GROUP BY node)
    SELECT deg.node, CAST(deg.degree AS BIGINT) AS degree,
           CAST(COALESCE(node_tris.n_tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN floor((CAST(2 * COALESCE(node_tris.n_tri, 0) AS DOUBLE)
                            / CAST(deg.degree * (deg.degree - 1) AS DOUBLE))
                           * 10000 + 0.5) / 10000
           END AS clustering_coeff
    FROM deg LEFT JOIN node_tris ON deg.node = node_tris.node
    ORDER BY deg.node
    """,
    tags=("extension", "graph", "triangles", "clustering-coefficient"),
)
def q116_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts and local clustering coefficients on the
    part co-purchase graph (edge = two parts ordered together in ≥2
    orders) — the graph-analytics companion to q103's PageRank and
    q63's connected components.

    Edge construction reuses q94's basket pattern (collect_set +
    map-side pair generation — the fact table never self-joins); the
    oracle spells the textbook self-join. Triangles are enumerated once
    each via the ordered (a < b < c) two-hop join: wedge generation
    (e1⋈e2 on the shared middle node) closed by an equi-join back into
    the edge list. Scale: wedge count is Σdeg² — the quantity to manage,
    standard degree-ordering (orienting edges low→high degree) bounds
    it; here a<b<c ordering plays that role. Coefficients are exact
    integer ratios in IEEE doubles; every count is engine-exact, so the
    whole topology hash-matches.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_gen = array_pairs(
        F.col("parts"), lambda x, y: F.struct(x.alias("pa"), y.alias("pb"))
    )
    edges = (
        baskets.select(F.explode(pair_gen).alias("pr"))
        .select("pr.pa", "pr.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= _TRI_MIN_CO)
        .select("pa", "pb")
        .persist()  # consumed by two wedge sides, the closing probe, and degrees
    )
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    tris = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    # each triangle credits all three corners map-side from ONE
    # evaluation of the wedge-close double join — the old 3-way
    # unionAll inlined that join subtree three times (guide §2.4;
    # round-12 measured win on the same shape in containment_pairs)
    node_tris = (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    deg = (
        edges.select(
            F.explode(F.array(F.col("pa"), F.col("pb"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0))
    return (
        deg.join(node_tris, "node", "left")
        .select(
            "node",
            F.col("degree").cast("long").alias("degree"),
            n_tri.cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                round4(
                    (F.lit(2) * n_tri).cast("double")
                    / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double")
                ),
            ).alias("clustering_coeff"),
        )
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# q155 — k-core peeling rounds on the co-purchase graph
# --------------------------------------------------------------------------
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    parts = [
        """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    sym AS (SELECT p, q FROM e UNION ALL SELECT q AS p, p AS q FROM e),
    d0 AS (SELECT p, COUNT(*) AS c FROM sym GROUP BY p),
    kk AS (SELECT CAST(ceil(quantile_cont(c, 0.1)) AS BIGINT) AS k FROM d0),
    a0 AS (SELECT p FROM d0)"""
    ]
    prev = "a0"
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(f""",
    d{i} AS (
      SELECT s.p, COUNT(*) AS c
      FROM sym s
      JOIN {prev} x ON s.p = x.p
      JOIN {prev} y ON s.q = y.p
      GROUP BY s.p),
    a{i} AS (SELECT d{i}.p FROM d{i}, kk WHERE d{i}.c >= kk.k)""")
        prev = f"a{i}"
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS round, kk.k, (SELECT COUNT(*) FROM a{i}) AS n_alive FROM kk"
        for i in range(_KCORE_ROUNDS + 1)
    )
    parts.append(f"\n    SELECT CAST(round AS BIGINT) AS round, k, n_alive FROM ({unions}) ORDER BY round")
    return "".join(parts)


@query(
    "q155_kcore_peeling",
    oracle=_kcore_oracle(),
    tags=("extension", "iterative", "graph", "kcore"),
)
def q155_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling trajectory of the co-purchase part graph (q116's
    basket edges): k is the ceiling of the 10th-percentile degree —
    scale-invariant, so the cascade is non-trivial at any sf yet a
    stable core survives (p25 unravels this near-uniform-degree graph
    to the empty set — the classic k-core collapse) — and each
    round drops nodes whose degree RESTRICTED TO SURVIVORS falls below
    k. Reported as (round, k, n_alive) for rounds 0..3: the fourth
    member of the iterative-algorithm family (q103 PageRank, q104
    k-means, q63 components), fixed-round like the others so the
    oracle unrolls the identical computation.

    Scale shape per round: two semi-joins of the (persisted) symmetric
    edge list against the shrinking survivor set — both keyed on node
    ids, AQE-broadcastable as the set shrinks — and one degree
    aggregate. The survivor sets are persisted so round r doesn't
    recompute rounds 1..r-1 (the q103 loop-invariant discipline). Full
    k-core = run to fixpoint; the peeling step is identical, only the
    Python loop bound changes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Basket trick (q94): ONE groupBy collects each order's sorted part
    # set; pairs generate map-side in codegen — replaces the textbook
    # basket self-join's double full-table exchange.
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_arr = array_pairs(
        F.col("parts"), lambda x, y: F.struct(x.alias("p"), y.alias("q"))
    )
    e = (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .select(F.col("pr.p").alias("p"), F.col("pr.q").alias("q"))
        .distinct()
    )
    # both orientations map-side from one evaluation of the basket
    # pair explode+distinct (the unionByName form computed it twice
    # when the persist first materialized — guide §2.4)
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("p"), F.col("q")),
                    F.struct(F.col("q").alias("p"), F.col("p").alias("q")),
                )
            ).alias("e")
        )
        .select("e.p", "e.q")
        .persist()
    )
    d0 = sym.groupBy("p").agg(F.count("*").alias("c")).persist()
    kk = d0.agg(
        F.ceil(F.expr("percentile(c, 0.1)")).cast("long").alias("k")
    )
    alive = d0.select("p").persist()
    rounds = [
        alive.agg(F.count("*").alias("n_alive")).select(
            F.lit(0).cast("long").alias("round"), "n_alive"
        )
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        deg = (
            sym.join(alive, "p", "left_semi")
            .join(
                alive.select(F.col("p").alias("q")), "q", "left_semi"
            )
            .groupBy("p")
            .agg(F.count("*").alias("c"))
        )
        alive = (
            deg.crossJoin(F.broadcast(kk))
            .filter(F.col("c") >= F.col("k"))
            .select("p")
            .persist()
        )
        rounds.append(
            alive.agg(F.count("*").alias("n_alive")).select(
                F.lit(i).cast("long").alias("round"), "n_alive"
            )
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return (
        out.crossJoin(F.broadcast(kk))
        .select("round", "k", "n_alive")
        .orderBy("round")
    )


# --------------------------------------------------------------------------
# q171 — top principal component by power iteration
# --------------------------------------------------------------------------
_PCA_ITERS = 3
_EMB_DIM = 64


def _pca_oracle() -> str:
    dim = _EMB_DIM
    dot = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> ({a}[i] - {m}[i]) * {v}[i]), (p, q) -> p + q)"
    )
    parts = [
        f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    idx AS (SELECT unnest(generate_series(1, {dim})) AS i),
    mu AS (
      SELECT list(val ORDER BY i) AS m FROM (
        SELECT i, CAST(SUM(CAST(arr[i] AS DECIMAL(38,18))) AS DOUBLE)
                    / COUNT(*) AS val
        FROM e CROSS JOIN idx GROUP BY i)),
    v0 AS (SELECT list_transform(generate_series(1, {dim}),
                                 i -> 1.0 / sqrt({dim}.0)) AS v)"""
    ]
    prev = "v0"
    for k in range(1, _PCA_ITERS + 1):
        d = dot.format(d=dim, a="e.arr", m="mu.m", v=f"{prev}.v")
        parts.append(f""",
    d{k} AS (
      SELECT e.vec_id, e.arr, {d} AS d
      FROM e CROSS JOIN mu CROSS JOIN {prev}),
    s{k} AS (
      SELECT i, CAST(SUM(CAST((d{k}.arr[i] - mu.m[i]) * d{k}.d
                              AS DECIMAL(38,18))) AS DOUBLE) AS s
      FROM d{k} CROSS JOIN mu CROSS JOIN idx GROUP BY i),
    a{k} AS (SELECT list(s ORDER BY i) AS sa FROM s{k}),
    v{k} AS (
      SELECT list_transform(sa, x -> x /
               sqrt(list_reduce(list_transform(sa, x -> x * x),
                                (p, q) -> p + q))) AS v
      FROM a{k})""")
        prev = f"v{k}"
    d_fin = dot.format(d=dim, a="e.arr", m="mu.m", v=f"{prev}.v")
    loadings = ", ".join(
        f"floor({prev}.v[{j + 1}] * 10000 + 0.5) / 10000 AS loading_{j}"
        for j in range(8)
    )
    parts.append(f""",
    ray AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(({d_fin}) * ({d_fin}) AS DECIMAL(38,18)))
                  AS DOUBLE) AS sdd
      FROM e CROSS JOIN mu CROSS JOIN {prev})
    SELECT CAST(ray.n AS BIGINT) AS n_vecs,
           floor(ray.sdd / ray.n * 10000 + 0.5) / 10000 AS lambda1,
           {loadings}
    FROM ray CROSS JOIN {prev}
    """)
    return "".join(parts)


@query(
    "q171_pca_power_iteration",
    oracle=_pca_oracle(),
    tags=("extension", "iterative", "linear-algebra", "pca"),
)
def q171_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the centered embedding corpus by
    power iteration (3 fixed rounds, uniform unit start) — the
    eigen-problem behind PCA whitening / dimension reduction of
    embedding tables, expressed as the same distributed matvec loop a
    parameter server would run: per-row projection (sequential-fold dot
    in codegen), per-dimension DECIMAL re-aggregation, normalize.
    Reports the Rayleigh-quotient eigenvalue and the first 8 loadings.

    The fifth member of the iterative family (q103 PageRank, q104
    k-means, q63 components, q155 k-core). The direction vector and
    mean live as ONE-ROW broadcast frames (q104's discipline — nothing
    is collected to the driver); each iteration shuffles only (dim,
    partial-sum) pairs, so corpus size only affects the scan. The
    matvec Σ xc(xcᵀv) touches each row once per iteration — exactly
    the access pattern that makes power iteration THE scalable
    eigensolver.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("arr"),
    ).persist()
    mu = mean_vectors(vecs, [], "arr", "decimal(38,18)").select(
        F.col("centroid").alias("m")
    )
    dim = _EMB_DIM
    v = spark.range(1).select(
        F.array(*[F.lit(1.0 / dim**0.5)] * dim).alias("v")
    )

    def proj(vdf: DataFrame) -> DataFrame:
        """Per-row projection d = (x - mu) . v"""
        return (
            vecs.crossJoin(F.broadcast(mu))
            .crossJoin(F.broadcast(vdf))
            .withColumn("xc", F.zip_with("arr", "m", lambda x, m_: x - m_))
            .withColumn(
                "d",
                F.aggregate(
                    F.zip_with("xc", "v", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
        )

    for _ in range(_PCA_ITERS):
        s = (
            proj(v)
            .select("d", F.posexplode("xc").alias("i0", "x"))
            .groupBy("i0")
            .agg(
                F.sum((F.col("x") * F.col("d")).cast("decimal(38,18)"))
                .cast("double")
                .alias("s")
            )
        )
        v = (
            s.agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i0", "s"))),
                    lambda g: g.getField("s"),
                ).alias("sa")
            )
            .withColumn(
                "nrm",
                F.sqrt(
                    F.aggregate(
                        F.transform(F.col("sa"), lambda x: x * x),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
            )
            .select(
                F.transform(
                    F.col("sa"), lambda x: x / F.col("nrm")
                ).alias("v")
            )
            .persist()
        )
    ray = proj(v).agg(
        F.count("*").alias("n"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sdd"),
    )
    return ray.crossJoin(F.broadcast(v)).select(
        F.col("n").cast("long").alias("n_vecs"),
        round4(F.col("sdd") / F.col("n")).alias("lambda1"),
        *[
            round4(F.col("v")[j]).alias(f"loading_{j}")
            for j in range(8)
        ],
    )


# --------------------------------------------------------------------------
# q177 — embedding cluster-quality audit (centroid silhouette)
# --------------------------------------------------------------------------
_SIL_DIST = (
    "sqrt(list_reduce(list_transform(generate_series(1, len({v}.arr)), "
    "i -> ({v}.arr[i] - {c}.cvec[i]) * ({v}.arr[i] - {c}.cvec[i])), "
    "(acc, x) -> acc + x))"
)


@query(
    "q177_cluster_quality",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS arr FROM embeddings),
    m AS (SELECT label AS cid, i - 1 AS dim_idx,
                 CAST(SUM(CAST(arr[i] AS DECIMAL(38,18))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS val
          FROM v, unnest(generate_series(1, len(arr))) AS t(i)
          GROUP BY 1, 2),
    c AS (SELECT cid, list(val ORDER BY dim_idx) AS cvec FROM m GROUP BY cid),
    d AS (SELECT v.vec_id, v.label, c.cid,
                 {_SIL_DIST.format(v='v', c='c')} AS dist
          FROM v CROSS JOIN c),
    ab AS (SELECT vec_id, label,
                  MAX(CASE WHEN cid = label THEN dist END) AS a,
                  MIN(CASE WHEN cid <> label THEN dist END) AS b
           FROM d GROUP BY 1, 2),
    sil AS (SELECT label, (b - a) / greatest(a, b) AS s,
                   CASE WHEN a < b THEN 1 ELSE 0 END AS own
            FROM ab)
    SELECT label, COUNT(*) AS n_vecs,
           {r4('CAST(SUM(CAST(s AS DECIMAL(38,18))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)')}
             AS mean_silhouette,
           {r4('CAST(SUM(own) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)')}
             AS centroid_accuracy
    FROM sil GROUP BY label ORDER BY label
    """,
    tags=("extension", "ml", "clustering", "audit"),
)
def q177_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette audit of the labeled embedding space: per
    generator label, the mean simplified silhouette ``(b−a)/max(a,b)``
    (a = L2 distance to the own-label centroid, b = nearest other
    centroid — Rousseeuw's silhouette with centroids standing in for
    the quadratic mean-pairwise distances) and the centroid-1NN
    accuracy (share of vectors whose nearest centroid is their own
    label). The eval gate for an embedding pipeline: run it BEFORE
    trusting labels/clusters for SemDeDup (q174) or IVF cell routing
    (q104's trainer) — a label with low silhouette deduplicates and
    routes badly.

    Centroid silhouette is O(n·k) vs classic silhouette's O(n²) —
    that substitution IS the 100 TB design: centroids are a k-row
    broadcast, distances evaluate in codegen via the same sequential
    zip_with fold as q104/q62 (bit-identical to the oracle's
    list_reduce), and both reductions (per-vec argmin, per-label mean)
    are hash aggregates. Means use exact DECIMAL(38,18) sums
    (``mean_vectors``) so partition order can't move a round4
    boundary.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("arr"),
    )
    cents = mean_vectors(emb, ["label"], "embedding", "decimal(38,18)").select(
        F.col("label").alias("cid"), F.col("centroid").alias("cvec")
    )
    d = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "dist", F.sqrt(sq_dist(F.col("arr"), F.col("cvec")))
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("cid") == F.col("label"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("cid") != F.col("label"), F.col("dist"))).alias("b"),
    )
    sil = ab.select(
        "label",
        ((F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))).alias("s"),
        F.when(F.col("a") < F.col("b"), 1).otherwise(0).alias("own"),
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            round4(
                F.sum(F.col("s").cast("decimal(38,18)")).cast("double")
                / F.count("*").cast("double")
            ).alias("mean_silhouette"),
            round4(
                F.sum("own").cast("double") / F.count("*").cast("double")
            ).alias("centroid_accuracy"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q179 — label-propagation communities on the co-purchase graph
# --------------------------------------------------------------------------
_LPA_ITERS = 2


def _lpa_oracle() -> str:
    parts = [f"""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             COUNT(DISTINCT a.l_orderkey) AS n_co
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    edges AS (SELECT pa, pb FROM pairs WHERE n_co >= {_TRI_MIN_CO}),
    sym AS (SELECT pa AS src, pb AS dst FROM edges
            UNION ALL SELECT pb, pa FROM edges),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym)"""]
    for i in range(1, _LPA_ITERS + 1):
        parts.append(f""",
    l{i} AS (
      SELECT node, label FROM (
        SELECT s.dst AS node, c.label,
               ROW_NUMBER() OVER (PARTITION BY s.dst
                                  ORDER BY COUNT(*) DESC, c.label) AS rn
        FROM sym s JOIN l{i-1} c ON c.node = s.src
        GROUP BY s.dst, c.label) WHERE rn = 1)""")
    parts.append(f"""
    SELECT label AS community, COUNT(*) AS n_nodes, MIN(node) AS min_node
    FROM l{_LPA_ITERS} GROUP BY label
    ORDER BY n_nodes DESC, community LIMIT 30
    """)
    return "".join(parts)


@query(
    "q179_lpa_communities",
    oracle=_lpa_oracle(),
    tags=("extension", "graph", "community-detection", "iterative"),
)
def q179_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on q116's co-purchase graph (edge = co-ordered in ≥2
    orders): every node starts labeled with itself; each round it
    adopts the most frequent label among its neighbors, ties broken
    toward the smallest label so both engines converge identically.
    Two fixed rounds (the fixpoint-free, hash-comparable form — LPA's
    oscillation on bipartite-ish graphs is exactly why production runs
    bound rounds), reporting the 30 largest communities. Complements
    the connectivity-only q63/q134 (components merge everything
    touching; LPA splits dense regions inside one component) and
    q155's k-core density peeling.

    Scale: one round = one equi-join of the symmetric edge list
    against the (node, label) frame plus a (node, label) count
    aggregate and a per-node argmax window partitioned on the node key
    — all key-partitioned, nothing global; the edge list is built once
    via q94's map-side basket pair generation (the fact table never
    self-joins) and persisted across rounds like q103's PageRank edge
    frame.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_gen = array_pairs(
        F.col("parts"), lambda x, y: F.struct(x.alias("pa"), y.alias("pb"))
    )
    edges = (
        baskets.select(F.explode(pair_gen).alias("pr"))
        .select("pr.pa", "pr.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= _TRI_MIN_CO)
        .select("pa", "pb")
    )
    # both orientations emitted map-side from one evaluation of the
    # edge derivation (the unionAll form computed the basket explode +
    # co-count aggregate twice when the persist first materialized)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("pa").alias("src"), F.col("pb").alias("dst")
                    ),
                    F.struct(
                        F.col("pb").alias("src"), F.col("pa").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()  # reused every propagation round
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(_LPA_ITERS):
        labels = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .persist()
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy(F.desc("n_nodes"), F.asc("community"))
        .limit(30)
    )


# --------------------------------------------------------------------------
# q198 — co-purchase degree distribution and power-law fit
# --------------------------------------------------------------------------
@query(
    "q198_degree_powerlaw",
    oracle=f"""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             COUNT(DISTINCT a.l_orderkey) AS n_co
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    edges AS (SELECT pa, pb FROM pairs WHERE n_co >= {_TRI_MIN_CO}),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges)
      GROUP BY node),
    hist AS (
      SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM deg GROUP BY degree),
    fit AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(ln(CAST(degree AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ln(CAST(n_nodes AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ln(CAST(degree AS DOUBLE)) * ln(CAST(degree AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ln(CAST(degree AS DOUBLE)) * ln(CAST(n_nodes AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS sxy
      FROM hist)
    SELECT hist.degree, hist.n_nodes,
           {r4('(fit.n * fit.sxy - fit.sx * fit.sy) / (fit.n * fit.sxx - fit.sx * fit.sx)')}
             AS powerlaw_slope
    FROM hist CROSS JOIN fit
    ORDER BY hist.degree
    """,
    tags=("extension", "graph", "topology-audit", "model-fit"),
)
def q198_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph with a log-log
    OLS slope — the topology audit run BEFORE committing a graph
    algorithm budget: a heavy-tailed (power-law-ish) degree
    distribution predicts hub-induced skew in q103's PageRank
    contributions and q116's Σdeg² wedge count, and the slope is the
    one number that says how bad. Complements q138 (join-key skew on
    the FACT) with the same diagnosis on the derived GRAPH, and
    reuses q170's fit discipline (exact decimal moment sums over ln
    literals; the slope of synthetic co-purchase data sits far from
    real graphs' −2..−3, which is itself the finding).

    Scale: edges via q116's construction (Spark side: map-side basket
    pair generation, the fact never self-joins); degrees and the
    histogram are two hash aggregates; the fit is a broadcast scalar
    over the tiny histogram frame.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_gen = array_pairs(
        F.col("parts"), lambda x, y: F.struct(x.alias("pa"), y.alias("pb"))
    )
    edges = (
        baskets.select(F.explode(pair_gen).alias("pr"))
        .select("pr.pa", "pr.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= _TRI_MIN_CO)
        .select("pa", "pb")
    )
    # both endpoints counted map-side from one evaluation of the edge
    # derivation (the unionAll form inlined the basket explode +
    # co-count aggregate twice — guide §2.4)
    deg = (
        edges.select(
            F.explode(F.array(F.col("pa"), F.col("pb"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count("*").cast("long").alias("n_nodes")).persist()
    lx = F.log(F.col("degree").cast("double"))
    ly = F.log(F.col("n_nodes").cast("double"))
    fit = hist.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(lx.cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum(ly.cast("decimal(38,18)")).cast("double").alias("sy"),
        F.sum((lx * lx).cast("decimal(38,18)")).cast("double").alias("sxx"),
        F.sum((lx * ly).cast("decimal(38,18)")).cast("double").alias("sxy"),
    )
    return (
        hist.crossJoin(F.broadcast(fit))
        .select(
            "degree",
            "n_nodes",
            round4(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            ).alias("powerlaw_slope"),
        )
        .orderBy("degree")
    )
