"""Embedding similarity-search operators.

Two execution strategies over an ``array<float>`` embedding column:

- **Brute-force top-k** (``cosine_topk``): broadcast the (small) query
  set against the corpus, compute cosine with built-in array lambdas
  (zip_with/aggregate — JVM-side, no Python), rank with a window per
  query. Exact; the right baseline whenever |queries| is small enough to
  broadcast, at any corpus size — the corpus is never shuffled, only
  scanned.
- **LSH-bucketed** (``cosine_topk_lsh``): random-hyperplane signs
  (SimHash for vectors) bucket the corpus; each query only compares
  against its bucket (plus optional multi-probe neighbors). Approximate
  sub-linear scale path: the corpus is hashed once, and the join is an
  equi-join on the bucket key instead of a cross join. Hyperplanes are
  derived deterministically from md5 so results are reproducible.
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from movie_data_pipeline_spark.functions.numeric import round4
from movie_data_pipeline_spark.operators.util import spread


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic
    summation order — required for oracle comparison)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Sequential-fold squared Euclidean distance in double precision
    (the same fixed summation order as :func:`dot`)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = _to_double(a), _to_double(b)
    return dot(ad, bd) / (l2_norm(ad) * l2_norm(bd))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k over (vec_id, embedding) frames: (query_id,
    neighbor_id, cos_sim, rank).

    ``queries`` is broadcast; the corpus side stays partitioned and is
    scanned once. Ties break on neighbor_id for determinism. Self-pairs
    are excluded.
    """
    # Norms are projected ONCE PER VECTOR below the join — the inline
    # cosine() form re-folds each side's norm per PAIR, i.e. |queries|
    # redundant folds per corpus vector (measured 3-4x on q247's probe).
    # Same expression tree and fold order, so quantized values are
    # bit-identical to the inline form the oracles mirror.
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _to_double(F.col("embedding")).alias("q_vec"),
    ).select("query_id", "q_vec", l2_norm(F.col("q_vec")).alias("q_norm"))
    c = spread(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        _to_double(F.col("embedding")).alias("c_vec"),
    ).select(
        "neighbor_id", "c_vec", l2_norm(F.col("c_vec")).alias("c_norm")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 — no
    RNG state, reproducible everywhere."""
    import hashlib

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"plane:{plane_idx}:{j}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from random hyperplanes (vector SimHash)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(_to_double(vec), p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane bucketing.

    Corpus and queries are hashed to 2^n_planes buckets; candidates are
    bucket-mates only, so the comparison count drops ~2^n_planes-fold.
    Recall < 1.0 by construction (single-probe); raise recall by
    lowering n_planes or adding multi-probe. Scale: the bucket join is
    a shuffle equi-join — no cross join anywhere.
    """
    planes = [_hyperplane(dim, i) for i in range(n_planes)]
    # per-vector norms projected below the join (see cosine_topk)
    c = spread(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        _to_double(F.col("embedding")).alias("c_vec"),
        lsh_bucket(F.col("embedding"), planes).alias("bucket"),
    ).select(
        "neighbor_id",
        "c_vec",
        "bucket",
        l2_norm(F.col("c_vec")).alias("c_norm"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _to_double(F.col("embedding")).alias("q_vec"),
        lsh_bucket(F.col("embedding"), planes).alias("bucket"),
    ).select(
        "query_id",
        "q_vec",
        "bucket",
        l2_norm(F.col("q_vec")).alias("q_norm"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )

def cell_centroids(assigned: DataFrame) -> DataFrame:
    """(cell, centroid array): per-cell mean ``embedding`` vectors, fully
    relational.

    posexplode → avg per (cell, dim) → re-assemble the array ordered by
    dim. This is the IVF codebook-refresh step (one Lloyd half-step).
    Scale: one shuffle on (cell, dim); output is cells x dim values —
    always tiny next to the corpus, hence broadcastable downstream.
    """
    exploded = assigned.select(
        "cell",
        F.posexplode("embedding").alias("dim_idx", "v"),
    )
    per_dim = exploded.groupBy("cell", "dim_idx").agg(
        F.avg(F.col("v").cast("double")).alias("c")
    )
    return (
        per_dim.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim_idx", "c"))).alias("pairs"))
        .select(
            "cell",
            F.transform(F.col("pairs"), lambda p: p.getField("c")).alias("centroid"),
        )
    )


def mean_vectors(
    frame: DataFrame, keys: list[str], vec: str, decimal: str
) -> DataFrame:
    """(*keys, centroid): the exact per-key mean of the ``vec`` arrays.

    Each element is cast to double, then to ``decimal`` (``decimal(30,6)``
    for IVF/PQ codebooks, ``decimal(38,18)`` for k-means and label
    centroids), summed, and divided by the row count; the per-dimension
    means are reassembled in dimension order. A decimal sum is
    order-free, so every engine and partitioning gets the same bits
    (a double ``avg`` would drift), and the oracles mirror it as
    ``CAST(SUM(CAST(x AS DECIMAL)) AS DOUBLE) / COUNT(*)``.

    ``vec`` is posexploded as given: exploding a projected
    ``transform(...)`` makes Catalyst infer ``size(...) > 0`` below the
    projection and build the array twice, so pass a stored column.

    Scale: one (keys, dim) hash aggregate, then one per key; the output
    is keys x dim values.
    """
    per_dim = (
        frame.select(*keys, F.posexplode(vec).alias("dim_idx", "__x"))
        .groupBy(*keys, "dim_idx")
        .agg(
            (
                F.sum(F.col("__x").cast("double").cast(decimal)).cast("double")
                / F.count("*").cast("double")
            ).alias("__mean")
        )
    )
    return per_dim.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim_idx", "__mean"))),
            lambda s: s.getField("__mean"),
        ).alias("centroid")
    )


def _sql_double(v: float) -> str:
    """``v`` as a Spark SQL double that parses back to the same bits:
    ``repr`` is the shortest round-tripping decimal form; NaN and the
    infinities have no literal, so they are cast from a string."""
    return f"{v!r}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"


def _assign_cells(
    corpus: DataFrame, codebook: list[list[float]], quantize: bool
) -> DataFrame:
    """``corpus`` plus a non-nullable ``cell``: the index of the
    ``codebook`` vector with the highest ``embedding`` cosine
    (round4-quantized when ``quantize``), ties toward the lowest index.

    Map-only: the codebook is compiled into a per-row argmax
    expression, parsed from one SQL string (one driver call, where
    Column calls cost one per literal). Each vector's double cast and
    norm are projected once below it (the ``cosine_topk`` idiom) and
    each codebook norm is a literal, all in :func:`cosine`'s fold
    order with :func:`dot`'s and :func:`round4`'s trees, so scores are
    bit-identical to the inline per-seed form.
    """
    # a prefix longer than every column name cannot collide with one
    pad = "_" * (1 + max(map(len, corpus.columns)))
    vec, norm = pad + "vec", pad + "norm"
    candidates = []
    for i, cvec in enumerate(codebook):
        cvec = [float(v) for v in cvec]
        # l2_norm's sequential fold, run here once: Catalyst does not
        # constant-fold higher-order functions, so l2_norm(lit) would
        # re-run for every row
        sq = 0.0
        for v in cvec:
            sq += v * v
        sim = (
            f"aggregate(zip_with(`{vec}`, array({', '.join(map(_sql_double, cvec))}), "
            "(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
            f" / (`{norm}` * {_sql_double(math.sqrt(sq))})"
        )
        if quantize:
            sim = f"FLOOR(({sim}) * 10000.0D + 0.5D) / 10000.0D"
        # struct compares lexicographically: sim first, then -index, so
        # array_max picks the highest sim and breaks ties toward the
        # LOWEST index.
        candidates.append(f"named_struct('s', {sim}, 'ni', {-i})")
    best_cell = F.expr(
        f"coalesce(CAST(-array_max(array({', '.join(candidates)})).ni AS INT), 0)"
    )
    return (
        spread(corpus)
        .withColumn(vec, _to_double(F.col("embedding")))
        .withColumn(norm, l2_norm(F.col(vec)))
        .withColumn("cell", best_cell)
        .drop(vec, norm)
    )


def ivf_seeds(frame: DataFrame, n: int, col: str) -> list:
    """``col`` of the ``n`` rows of ``frame`` with the lowest
    md5(vec_id), ties toward the lower vec_id: a deterministic
    pseudo-random draw without RNG state (id order would be biased:
    data is often written clustered, so adjacent ids seed one region).

    Scale: a top-n over the frame; the collect is n rows, codebook-sized
    metadata.
    """
    return [
        r[0]
        for r in frame.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n)
        .select(col)
        .collect()
    ]


def ivf_assign(corpus: DataFrame, n_cells: int = 8) -> DataFrame:
    """(vec_id, embedding) corpus with a ``cell`` column: Voronoi
    assignment to the :func:`ivf_seeds` vectors.

    No iterative trainer (a k-means codebook can be swapped in; the
    assignment shape is identical). Each vector goes to the seed with
    the highest cosine (ties → lowest seed index).

    ``cell`` is coalesced to 0, a fallback never taken (``array_max``
    over a non-empty array of non-null structs is never null), so that
    it is non-nullable: a nullable ``cell`` makes Catalyst infer an
    ``isnotnull(cell)`` filter from any join on it and push that filter,
    argmax and all, below :func:`spread` into the single-partition scan.

    Scale: the codebook is collected to the driver — n_cells x dim
    floats, constant-size metadata exactly like any IVF codebook, NOT a
    data collect — and compiled into a per-row argmax expression, so
    assignment is a map-only plan: the corpus is scanned once, nothing
    shuffles. At deployment, write the result bucketed by cell so probe
    joins are exchange-free.
    """
    return _assign_cells(
        corpus, ivf_seeds(corpus, n_cells, "embedding"), quantize=False
    )


def assign_to_centroids(
    corpus: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Corpus with a ``cell`` column: argmax ``embedding`` cosine
    against a GIVEN codebook (vs :func:`ivf_assign`, which seeds its
    own) — the re-assignment half of an IVF centroid refresh
    (``operators/index_lifecycle.migrate_ivf_index``).

    Cosines are round4-quantized before the argmax (the q264/q284
    discipline for DERIVED centroids: the means are exact
    DECIMAL(30,6)-to-double, but the cosine fold against them deserves
    a quantization margin before cross-engine comparison); ties break
    toward the lowest cell index.
    """
    return _assign_cells(corpus, centroids, quantize=True)


def nearest_cells(
    queries: DataFrame, codebook: DataFrame, nprobe: int
) -> DataFrame:
    """``queries`` (query_id, qv double array, qn its norm, ...) joined
    to the ``nprobe`` nearest cells of ``codebook`` (cell, centroid),
    with each cell's ``cell_rank``.

    Cells rank by the round4-quantized cosine ``dot(qv, centroid) /
    (qn * |centroid|)``, ties toward the lowest cell: the probe of an
    index whose centroids are derived (exact decimal means), where the
    cosine fold deserves a quantization margin before cross-engine
    comparison.

    Scale: the codebook is broadcast; the window is per query.
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("__cs"), F.asc("cell"))
    return (
        queries.crossJoin(F.broadcast(codebook))
        .withColumn(
            "__cs",
            round4(
                dot(F.col("qv"), F.col("centroid"))
                / (F.col("qn") * l2_norm(F.col("centroid")))
            ),
        )
        .withColumn("cell_rank", F.row_number().over(w))
        .filter(F.col("cell_rank") <= nprobe)
        .drop("centroid", "__cs")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) cell search.

    The corpus is Voronoi-partitioned into ``n_cells`` cells
    (``ivf_assign``); each query scores the cell centroids and probes
    only its ``nprobe`` best cells, comparing against the inverted list
    of those cells — the scan shrinks ~n_cells/nprobe-fold versus brute
    force. nprobe = n_cells degenerates to exact search (asserted in
    tests). Scale: centroids broadcast for probing; the candidate join
    is a shuffle equi-join on cell — never a cross join against the full
    corpus. Recall depends on how clustered the data is; the planted-
    cluster test pins it ≥ 0.9 where real structure exists.

    The assignment has two readers (the centroid aggregate and the
    candidate join), so it is persisted, lazily: the first reader's
    stage fills the cache and the other reads it, which makes one
    corpus scan, one round-robin exchange and one argmax per vector per
    call. The returned plan reads that cache, so it lives until the
    caller's ``query_scope()`` (or ``clearCache()``) ends it.
    """
    assigned = ivf_assign(corpus, n_cells).persist(StorageLevel.MEMORY_AND_DISK)
    cents = cell_centroids(assigned)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cell_sim"), F.asc("cell"))
    probed = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "q_vec",
            "cell",
            cosine(F.col("q_vec"), F.col("centroid")).alias("cell_sim"),
        )
        .withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "q_vec", "cell")
    )
    # per-vector norms projected below the cell join (see cosine_topk)
    c = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("neighbor_id"),
        _to_double(F.col("embedding")).alias("c_vec"),
    ).select(
        "cell",
        "neighbor_id",
        "c_vec",
        l2_norm(F.col("c_vec")).alias("c_norm"),
    )
    probed_n = probed.select(
        "query_id",
        "cell",
        _to_double(F.col("q_vec")).alias("q_vec"),
    ).select(
        "query_id", "cell", "q_vec", l2_norm(F.col("q_vec")).alias("q_norm")
    )
    scored = (
        c.join(F.broadcast(probed_n), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
