"""Embedding-similarity queries over ``embeddings`` with DuckDB oracles.

The oracle casts the float32 lists to DOUBLE[] before
list_cosine_similarity so both engines do double-precision math over
identical element order; reported similarities are quantized with the
cross-engine-deterministic round4 (cosines are far from exact decimal
half-boundaries, so quantization is stable).
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_data_pipeline_spark.operators.index_lifecycle import (
    erase_documents,
    ivf_layout,
    migrate_ivf_index,
    stored_ivf_codebook,
)
from movie_data_pipeline_spark.operators.similarity import (
    _hyperplane,
    _to_double,
    cosine,
    cosine_topk,
    cosine_topk_lsh,
    dot,
    ivf_assign,
    ivf_seeds,
    l2_norm,
    lsh_bucket,
    mean_vectors,
    nearest_cells,
    sq_dist,
)
from movie_data_pipeline_spark.operators.util import (
    cached,
    fixed_sample,
    fixed_sample_ctes,
    overlap,
    scratch_dir,
)
from movie_data_pipeline_spark.plans.core import query, r4, round4
from movie_data_pipeline_spark.sources.registry import load_table
from movie_data_pipeline_spark.sources.versioned import VersionedTable

# Query set: every 100th vector — scales with the corpus (5 queries at
# sf0.01, 50 at sf0.1) without hardcoding ids that may not exist.
_QUERY_PRED = "vec_id % 100 = 0"
# The AUDIT queries (q264 IVF recall, q272 PQ recall) additionally
# fixed_sample their query set to this size, so their exact
# ground-truth legs stay O(target * n) — never O(n^2/100) — at any
# corpus size (VERDICT r7 #1; the modulus is 1 at every test SF, so
# driver hashes are unchanged there). Per-query RESULT queries (q22
# top-k, q153/q223 hard negatives) keep the full predicate: their
# output rows ARE the published per-query answer.
_ANN_AUDIT_QTARGET = 64


@query(
    "q22_ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE {_QUERY_PRED}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec) AS cs
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, {r4('cs')} AS cos_sim, rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    tags=("extension", "similarity", "ann"),
)
def q22_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for a broadcast query set.

    The baseline ANN path (operators.similarity.cosine_topk): corpus
    scanned once, queries broadcast, JVM-side zip_with/aggregate math,
    per-query window rank. The LSH-bucketed scale path is exercised in
    tests (approximate → no value oracle).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_QUERY_PRED))
    out = cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "neighbor_id", round4(F.col("cos_sim")).alias("cos_sim"), "rank"
    ).orderBy("query_id", "rank")


@query(
    "q23_embedding_top_pairs",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cs
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 0)
    SELECT vec_a, vec_b, {r4('cs')} AS cos_sim,
           CASE WHEN cs >= 0.9 THEN true ELSE false END AS is_near_dup
    FROM pairs
    -- order on the quantized value (matches the Spark side) so the
    -- LIMIT boundary cannot be decided by sub-round4 noise
    ORDER BY {r4('cs')} DESC, vec_a, vec_b
    LIMIT 25
    """,
    tags=("extension", "similarity", "near-dup"),
)
def q23_embedding_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate scan: top-25 most-similar pairs within a
    deterministic sample, with the ≥0.9 near-dup flag.

    On the synthetic corpus no pair crosses 0.9 (max ≈ 0.51), so the
    flag column is honest rather than tuned; crafted near-dup vectors
    exercise the flag in tests. The sample predicate (every 10th
    vector) keeps the all-pairs comparison O((n/10)²) — the full-corpus
    path is exactly the LSH operator tested separately.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id % 10 = 0")
    # norms projected once per vector, not once per pair (see
    # operators.similarity.cosine_topk — values bit-identical)
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        _to_double(F.col("embedding")).alias("ea"),
    ).select("vec_a", "ea", l2_norm(F.col("ea")).alias("na"))
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        _to_double(F.col("embedding")).alias("eb"),
    ).select("vec_b", "eb", l2_norm(F.col("eb")).alias("nb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b")).select(
        "vec_a",
        "vec_b",
        (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias(
            "cs"
        ),
    )
    return (
        pairs.select(
            "vec_a",
            "vec_b",
            round4(F.col("cs")).alias("cos_sim"),
            (F.col("cs") >= 0.9).alias("is_near_dup"),
        )
        .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
        .limit(25)
    )


@query(
    "q29_label_centroids",
    oracle=f"""
    SELECT label,
           i - 1 AS dim_idx,
           {r4('AVG(embedding[i]::DOUBLE)')} AS centroid,
           COUNT(*) AS n_vecs
    FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
    GROUP BY label, dim_idx
    ORDER BY label, dim_idx
    """,
    tags=("extension", "similarity", "vector-agg"),
)
def q29_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long (label, dim, value) form —
    the vector-aggregation primitive behind IVF coarse quantizers and
    class prototypes.

    Long form keeps the aggregate fully relational (one shuffle on
    (label, dim)); posexplode is a narrow generator. dim_idx is 0-based
    on both sides.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim_idx", "v")
    )
    return (
        exploded.groupBy("label", F.col("dim_idx").cast("long").alias("dim_idx"))
        .agg(
            round4(F.avg(F.col("v").cast("double"))).alias("centroid"),
            F.count("*").alias("n_vecs"),
        )
        .orderBy("label", "dim_idx")
    )


# --------------------------------------------------------------------------
# q75 — int8 vector quantization (embedding compression)
# --------------------------------------------------------------------------
@query(
    "q75_int8_quantization",
    oracle="""
    WITH scaled AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS mx
      FROM embeddings),
    quant AS (
      SELECT vec_id,
             CASE WHEN mx > 0 THEN 127.0 / mx ELSE 1.0 END AS scale,
             list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE)
                                 * (CASE WHEN mx > 0 THEN 127.0 / mx
                                         ELSE 1.0 END) + 0.5) AS BIGINT)) AS qs
      FROM scaled)
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim_idx, qs[i] AS q
    FROM quant, unnest(generate_series(1, len(qs))) t(i)
    ORDER BY vec_id, dim_idx
    """,
    tags=("extension", "similarity", "quantization"),
)
def q75_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column:
    scale = 127 / max|x|, q_i = round_half_up(x_i * scale) — the storage
    /serving compression step of an embedding pipeline (4x smaller than
    float32; dot products stay rank-faithful within quantization error).

    Determinism: float32 → double is an exact widening; max|x| is an
    exact pick; the scale division and multiply are the identical IEEE
    ops on both engines, and the quantizer is the same floor(v + 0.5)
    primitive as round4 (half-up toward +inf, negatives included —
    symmetric quantizers tolerate the half-a-ulp asymmetry). All array
    lambdas map-side; the long (vec_id, dim_idx, q) output keeps the
    result relational for the oracle, where a production sink would
    write the packed array±scale instead.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    mx = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    # the scale is projected once per vector, not folded per element
    scaled = emb.select("vec_id", "embedding", mx.alias("mx")).select(
        "vec_id",
        "embedding",
        F.when(F.col("mx") > 0, 127.0 / F.col("mx"))
        .otherwise(F.lit(1.0))
        .alias("scale"),
    )
    qs = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.col("scale") + 0.5).cast("bigint"),
    )
    return (
        scaled.select("vec_id", F.posexplode(qs).alias("dim_idx", "q"))
        .select("vec_id", F.col("dim_idx").cast("long").alias("dim_idx"), "q")
        .orderBy("vec_id", "dim_idx")
    )


# --- q132: ANN recall audit -------------------------------------------------
# The hyperplane coefficients are rendered into the oracle from the SAME
# Python constants the Spark operator uses (single source of truth, like
# the MinHash coefficient VALUES in plans/dedup.py). The bucket sign
# uses the sequential-fold dot product in BOTH engines (Spark
# F.aggregate; DuckDB list_reduce) so a near-zero dot cannot flip sides.
_ANN_DIM = 64
_ANN_PLANES = 8


def _ann_bucket_sql(arr: str) -> str:
    terms = []
    for i in range(_ANN_PLANES):
        plane = _hyperplane(_ANN_DIM, i)
        lit = "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"
        dot = (
            f"list_reduce(list_transform(generate_series(1, {_ANN_DIM}), "
            f"i -> {arr}[i] * ({lit})[i]), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


@query(
    "q132_ann_recall_audit",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    q AS (SELECT vec_id, arr FROM v WHERE {_QUERY_PRED}),
    ex AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(v.arr, q.arr) DESC, v.vec_id) AS rn
      FROM q CROSS JOIN v WHERE v.vec_id <> q.vec_id),
    exact AS (SELECT query_id, neighbor_id FROM ex WHERE rn <= 10),
    b AS (SELECT vec_id, arr, {_ann_bucket_sql('arr')} AS bucket FROM v),
    qb AS (SELECT vec_id, arr, bucket FROM b WHERE {_QUERY_PRED}),
    cd AS (
      SELECT qb.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY qb.vec_id
               ORDER BY list_cosine_similarity(b.arr, qb.arr) DESC, b.vec_id) AS rn
      FROM qb JOIN b ON qb.bucket = b.bucket AND b.vec_id <> qb.vec_id),
    approx AS (SELECT query_id, neighbor_id FROM cd WHERE rn <= 10),
    hits AS (SELECT * FROM approx INTERSECT SELECT * FROM exact)
    SELECT (SELECT COUNT(*) FROM q) AS n_queries,
           (SELECT COUNT(*) FROM exact) AS n_exact_pairs,
           (SELECT COUNT(*) FROM approx) AS n_approx_pairs,
           (SELECT COUNT(*) FROM hits) AS n_hits,
           CASE WHEN (SELECT COUNT(*) FROM exact) > 0
                THEN {r4("CAST((SELECT COUNT(*) FROM hits) AS DOUBLE) / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)")}
           END AS recall
    """,
    tags=("extension", "similarity", "ann", "audit"),
)
def q132_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN calibration audit: single-probe hyperplane-LSH top-10 scored
    against exact cosine top-10 ground truth — recall@10 plus the raw
    pair counts, one row. The similarity-stack counterpart of q121's
    LSH-vs-Jaccard dedup audit: the number you check on a sample
    BEFORE committing an index configuration at corpus scale (raise
    recall by lowering n_planes, adding multi-probe, or switching to
    the IVF path with more probes).

    Determinism: hyperplanes are md5-derived constants rendered into
    the oracle from the same Python table; the bucket sign uses the
    identical sequential-fold dot in both engines, so bucket ids are
    bit-equal and the candidate sets match exactly. Rankings reuse
    q22's established cosine tie-break discipline. Scale: exact truth
    is |queries| x corpus with a broadcast query set (never corpus x
    corpus); the LSH side is the equi-join on bucket.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_QUERY_PRED))
    # Both top-k frames feed two consumers each (their count + the hits
    # semi-join) — persist so the exact ground-truth ranking (the
    # expensive part this audit exists to keep affordable) and the
    # bucket join run once, not twice.
    exact = (
        cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id").persist()
    )
    approx = (
        cosine_topk_lsh(emb, queries, k=10, n_planes=_ANN_PLANES, dim=_ANN_DIM)
        .select("query_id", "neighbor_id")
        .persist()
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
    n_q = queries.agg(F.count("*").alias("n_queries"))
    n_e = exact.agg(F.count("*").alias("n_exact_pairs"))
    n_a = approx.agg(F.count("*").alias("n_approx_pairs"))
    n_h = hits.agg(F.count("*").alias("n_hits"))
    out = (
        n_q.crossJoin(F.broadcast(n_e))
        .crossJoin(F.broadcast(n_a))
        .crossJoin(F.broadcast(n_h))
    )
    recall = F.when(
        F.col("n_exact_pairs") > 0,
        round4(F.col("n_hits").cast("double") / F.col("n_exact_pairs").cast("double")),
    )
    return out.select(
        "n_queries",
        "n_exact_pairs",
        "n_approx_pairs",
        "n_hits",
        recall.alias("recall"),
    )


# --------------------------------------------------------------------------
# q153 — hard-negative mining (top-k nearest with a DIFFERENT label)
# --------------------------------------------------------------------------
@query(
    "q153_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                      embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE {_QUERY_PRED}),
    scored AS (
      SELECT q.query_id, e.vec_id AS negative_id, e.label AS neg_label,
             list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec) AS cs
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id AND e.label <> q.q_label),
    ranked AS (
      SELECT query_id, negative_id, neg_label, cs,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, negative_id) AS rank
      FROM scored)
    SELECT query_id, negative_id, CAST(neg_label AS BIGINT) AS neg_label,
           {r4('cs')} AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    tags=("extension", "similarity", "training-data"),
)
def q153_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the 5 most-similar vectors carrying a DIFFERENT label —
    near the decision boundary, these are the negatives that actually
    teach (random negatives are trivially separable; the standard
    retrieval-training recipe mines them exactly like this).

    Same broadcast-queries / scan-corpus / per-query-window shape as
    q22 with the label-disagreement predicate folded into the scored
    frame (evaluated in codegen before ranking, so the window ranks
    only true negatives). Scale path unchanged from q22: the corpus is
    never shuffled; swap the scan for the IVF/LSH probe join when
    |queries| stops fitting a broadcast.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # norms projected once per vector, not once per pair (see
    # operators.similarity.cosine_topk — values bit-identical)
    q = emb.filter(F.expr(_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        _to_double(F.col("embedding")).alias("q_vec"),
    ).select(
        "query_id", "q_label", "q_vec",
        l2_norm(F.col("q_vec")).alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        _to_double(F.col("embedding")).alias("c_vec"),
    ).select(
        "negative_id", "neg_label", "c_vec",
        l2_norm(F.col("c_vec")).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("negative_id") != F.col("query_id"))
            & (F.col("neg_label") != F.col("q_label"))
        )
        .select(
            "query_id",
            "negative_id",
            "neg_label",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "negative_id",
            F.col("neg_label").cast("long").alias("neg_label"),
            round4(F.col("cs")).alias("cos_sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# q172 — MMR diversified re-ranking of a retrieval pool
# --------------------------------------------------------------------------
_MMR_LAMBDA = 0.7
_MMR_K = 5
_MMR_POOL = 20


def _mmr_oracle() -> str:
    lam = _MMR_LAMBDA
    parts = [
        f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec
      FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT c.vec_id, c.embedding::DOUBLE[] AS arr,
             list_cosine_similarity(c.embedding::DOUBLE[], q.q_vec) AS rel
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id <> q.query_id
      ORDER BY rel DESC, c.vec_id LIMIT {_MMR_POOL}),
    sims AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             list_cosine_similarity(a.arr, b.arr) AS s
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
    p1 AS (
      SELECT vec_id, rel, 1 AS mmr_rank
      FROM pool ORDER BY rel DESC, vec_id LIMIT 1)"""
    ]
    prev_sel = "p1"
    for step in range(2, _MMR_K + 1):
        parts.append(f""",
    c{step} AS (
      SELECT p.vec_id, p.rel,
             MAX(s.s) AS max_sim
      FROM pool p
      JOIN sims s ON s.va = p.vec_id
        AND s.vb IN (SELECT vec_id FROM {prev_sel})
      WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev_sel})
      GROUP BY p.vec_id, p.rel),
    p{step} AS (
      SELECT vec_id, rel, mmr_rank FROM {prev_sel}
      UNION ALL
      SELECT vec_id, rel, {step} AS mmr_rank FROM (
        SELECT vec_id, rel
        FROM c{step}
        ORDER BY {lam} * rel - {1 - lam} * max_sim DESC, vec_id
        LIMIT 1))""")
        prev_sel = f"p{step}"
    parts.append(f"""
    SELECT CAST(mmr_rank AS BIGINT) AS mmr_rank, vec_id,
           floor(rel * 10000 + 0.5) / 10000 AS relevance
    FROM {prev_sel}
    ORDER BY mmr_rank
    """)
    return "".join(parts)


@query(
    "q172_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("extension", "similarity", "retrieval", "mmr"),
)
def q172_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from query vector 0's top-20 cosine pool, greedily select 5
    results maximizing ``λ·relevance − (1−λ)·max-similarity-to-already-
    selected`` — the diversity-aware retrieval layer RAG stacks put on
    top of raw ANN top-k (raw top-k returns near-duplicates of the
    same hit; MMR spends the slots on coverage).

    Greedy selection is inherently sequential in k; k is a small
    constant, so the loop unrolls into k-1 dataframe steps over the
    POOL (bounded: 20 rows after the TakeOrdered retrieval pass) — the
    corpus-sized work remains the one scan that builds the pool, as in
    q22. The pairwise pool sims are a 20x20 broadcast join. Ties break
    on vec_id at every argmax on both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    # query norm projected once, not re-folded per corpus row (see
    # operators.similarity.cosine_topk — values bit-identical)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        _to_double(F.col("embedding")).alias("q_vec"),
    ).select("query_id", "q_vec", l2_norm(F.col("q_vec")).alias("q_norm"))
    ed = _to_double(F.col("embedding"))
    pool = (
        emb.select("vec_id", "embedding", l2_norm(ed).alias("e_norm"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "vec_id",
            "embedding",
            (
                dot(ed, F.col("q_vec"))
                / (F.col("e_norm") * F.col("q_norm"))
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .persist()
    )
    a = pool.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    b = pool.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    sims = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("va") != F.col("vb"))
        .select("va", "vb", cosine(F.col("ea"), F.col("eb")).alias("s"))
        .persist()
    )
    lam = _MMR_LAMBDA
    selected = (
        pool.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select("vec_id", "rel", F.lit(1).alias("mmr_rank"))
    )
    for step in range(2, _MMR_K + 1):
        sel_ids = selected.select(F.col("vec_id").alias("vb"))
        cand = (
            pool.join(
                selected.select("vec_id"), "vec_id", "left_anti"
            )
            .join(sims, F.col("vec_id") == F.col("va"))
            .join(F.broadcast(sel_ids), "vb", "left_semi")
            .groupBy("vec_id", "rel")
            .agg(F.max("s").alias("max_sim"))
        )
        nxt = (
            cand.orderBy(
                (F.lit(lam) * F.col("rel") - F.lit(1 - lam) * F.col("max_sim")).desc(),
                F.asc("vec_id"),
            )
            .limit(1)
            .select("vec_id", "rel", F.lit(step).alias("mmr_rank"))
        )
        selected = selected.unionByName(nxt).persist()
    return selected.select(
        F.col("mmr_rank").cast("long").alias("mmr_rank"),
        "vec_id",
        round4(F.col("rel")).alias("relevance"),
    ).orderBy("mmr_rank")


# --------------------------------------------------------------------------
# q174 — SemDeDup: semantic dedup via LSH-cell clustering
# --------------------------------------------------------------------------
_SEM_PLANES = 4
_SEM_TAU = 0.3


def _cell_sql(arr: str, n_planes: int) -> str:
    """Bucket-id SQL from the same md5 hyperplane table the Spark
    operator uses (generalizes q132's 8-plane renderer)."""
    terms = []
    for i in range(n_planes):
        plane = _hyperplane(_ANN_DIM, i)
        lit = "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"
        dot = (
            f"list_reduce(list_transform(generate_series(1, {_ANN_DIM}), "
            f"i -> {arr}[i] * ({lit})[i]), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


@query(
    "q174_semantic_dedup",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS arr FROM embeddings),
    b AS (SELECT vec_id, label, arr, {_cell_sql('arr', _SEM_PLANES)} AS cell FROM v),
    pr AS (
      SELECT x.cell, x.vec_id AS va, x.label AS la,
             y.vec_id AS vb, y.label AS lb,
             list_cosine_similarity(x.arr, y.arr) AS cs
      FROM b x JOIN b y ON x.cell = y.cell AND x.vec_id < y.vec_id),
    flt AS (SELECT * FROM pr WHERE {r4('cs')} >= {_SEM_TAU})
    SELECT CAST(cell AS BIGINT) AS cell, vb AS vec_id,
           MIN(va) AS anchor_id,
           {r4('arg_min(cs, va)')} AS anchor_sim,
           arg_min(la, va) = MAX(lb) AS same_label
    FROM flt GROUP BY cell, vb
    ORDER BY cell, vec_id
    """,
    tags=("extension", "similarity", "dedup", "semdedup"),
)
def q174_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) re-expressed for Spark: cluster the
    embedding space (here: 4 random-hyperplane sign cells, 16 cells —
    the paper's k-means step; the IVF codebook in
    ``operators/similarity.py`` is the drop-in alternative), then
    within each cell drop every vector that has an EARLIER cell-mate
    with cosine ≥ τ, keeping the earliest member of each semantic
    neighborhood. τ=0.3 is calibrated to this synthetic corpus (max
    pairwise cosine ≈ 0.5 — see q23's docstring); production corpora
    use ≥0.95. One row per dropped vector with its surviving anchor,
    the anchor similarity, and whether anchor and victim share the
    generator label (the semantic-fidelity signal).

    Policy note: "any earlier neighbor" is deliberately transitive-free
    — unlike q63/q173's connected components it never chains A~B~C
    into one cluster through a below-threshold A,C pair, which is the
    documented SemDeDup behavior (and makes the plan one equi-join +
    one groupBy, no iteration). Scale: the cell equi-join is the only
    shuffle; within-cell pairing is quadratic in cell size, bounded by
    adding planes (cells ~ 2^planes) exactly like q18's document-
    frequency cap; threshold compares the round4-quantized value on
    both engines so a boundary pair cannot flip membership.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    planes = [_hyperplane(_ANN_DIM, i) for i in range(_SEM_PLANES)]
    cells = emb.select(
        "vec_id",
        "label",
        "embedding",
        lsh_bucket(F.col("embedding"), planes).alias("cell"),
    ).persist()

    # norms projected once per vector, not once per cell-mate pair
    # (see operators.similarity.cosine_topk — values bit-identical)
    a = cells.select(
        "cell",
        F.col("vec_id").alias("va"),
        F.col("label").alias("la"),
        _to_double(F.col("embedding")).alias("ea"),
    ).select("cell", "va", "la", "ea", l2_norm(F.col("ea")).alias("na"))
    bb = cells.select(
        "cell",
        F.col("vec_id").alias("vb"),
        F.col("label").alias("lb"),
        _to_double(F.col("embedding")).alias("eb"),
    ).select("cell", "vb", "lb", "eb", l2_norm(F.col("eb")).alias("nb"))
    pairs = (
        a.join(bb, "cell")
        .filter(F.col("va") < F.col("vb"))
        .select(
            "cell", "va", "la", "vb", "lb",
            (
                dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cs"),
        )
        .filter(round4(F.col("cs")) >= _SEM_TAU)
    )
    return (
        pairs.groupBy("cell", F.col("vb").alias("vec_id"))
        .agg(
            F.min("va").alias("anchor_id"),
            round4(F.min_by("cs", "va")).alias("anchor_sim"),
            (F.min_by("la", "va") == F.max("lb")).alias("same_label"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            "vec_id", "anchor_id", "anchor_sim", "same_label",
        )
        .orderBy("cell", "vec_id")
    )


# --------------------------------------------------------------------------
# q187 — source-centroid embedding similarity matrix
# --------------------------------------------------------------------------
@query(
    "q187_source_centroid_sim",
    oracle="""
    WITH v AS (
      SELECT d.source, e.embedding::DOUBLE[] AS arr
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
    m AS (SELECT source, i - 1 AS dim_idx,
                 CAST(SUM(CAST(arr[i] AS DECIMAL(38,18))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS val
          FROM v, unnest(generate_series(1, len(arr))) AS t(i)
          GROUP BY 1, 2),
    c AS (SELECT source, list(val ORDER BY dim_idx) AS cvec FROM m
          GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             list_cosine_similarity(a.cvec, b.cvec) AS cs
      FROM c a JOIN c b ON a.source < b.source)
    SELECT source_a, source_b,
           floor(cs * 10000 + 0.5) / 10000 AS centroid_cosine
    FROM pairs
    ORDER BY floor(cs * 10000 + 0.5) / 10000 DESC, source_a, source_b
    LIMIT 20
    """,
    tags=("extension", "similarity", "mixture", "audit"),
)
def q187_source_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic proximity between corpus sources: each source's docs
    (embeddings join documents 1:1 on vec_id = doc_id) collapse to a
    mean-embedding centroid, and the 20 most-similar source pairs by
    centroid cosine are reported — the third leg of the source-
    redundancy triad: q142 measures SURFACE overlap (shared n-grams),
    q178 measures LEXICAL transfer (unigram cross-entropy), this one
    measures EMBEDDING-space proximity, which catches paraphrased or
    translated re-crawls the other two miss. High-cosine pairs are
    dedup candidates for q174's SemDeDup pass at the source
    granularity.

    Scale: the corpus-sized work is one (source, dim) hash aggregate
    with exact DECIMAL(38,18) sums (``mean_vectors``); the pair stage
    is |sources|² over a broadcast-sized centroid frame — the same
    collapse-then-compare trick that makes q142 tractable. The ranking
    orders on the round4-quantized value on both engines so the LIMIT
    boundary can't be decided by sub-quantum float noise.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    cents = mean_vectors(
        emb.join(docs, "vec_id"), ["source"], "embedding", "decimal(38,18)"
    )
    a = cents.select(F.col("source").alias("source_a"), F.col("centroid").alias("ca"))
    b = cents.select(F.col("source").alias("source_b"), F.col("centroid").alias("cb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            round4(cosine(F.col("ca"), F.col("cb"))).alias("centroid_cosine"),
        )
    )
    return pairs.orderBy(
        F.desc("centroid_cosine"), F.asc("source_a"), F.asc("source_b")
    ).limit(20)


# --------------------------------------------------------------------------
# q199 — embedding health audit (per-dimension statistics)
# --------------------------------------------------------------------------
@query(
    "q199_embedding_health",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    dims AS (
      SELECT i - 1 AS dim_idx, arr[i] AS x
      FROM v, unnest(generate_series(1, len(arr))) AS t(i)),
    stats AS (
      SELECT dim_idx, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
             MIN(x) AS mn, MAX(x) AS mx
      FROM dims GROUP BY dim_idx)
    SELECT CAST(dim_idx AS BIGINT) AS dim_idx,
           {r4('sx / n')} AS mean,
           {r4('(sxx - sx * sx / n) / (n - 1)')} AS variance,
           {r4('mn')} AS min_val,
           {r4('mx')} AS max_val,
           (sxx - sx * sx / n) / (n - 1) < 1e-4 AS is_dead
    FROM stats ORDER BY dim_idx
    """,
    tags=("extension", "similarity", "audit", "embedding-health"),
)
def q199_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health statistics of the embedding corpus: mean,
    variance, range, and a dead-dimension flag (variance < 1e-4 — a
    dimension the encoder effectively stopped using). The QA gate an
    embedding pipeline runs when a new encoder version lands, BEFORE
    q104 retrains IVF cells or q174 trusts cosine gaps: dead or
    near-constant dimensions silently shrink effective dimensionality
    (cosines crowd together, LSH planes waste bits), and a mean far
    from 0 says the corpus needs centering — exactly what q171's PCA
    assumes. Complements q177 (between-cluster structure) with the
    raw per-coordinate view.

    Scale: one posexplode + one (dim) hash aggregate with exact
    DECIMAL moment sums — 64 groups regardless of corpus size, fully
    map-side-combinable; no vector leaves its partition. The variance
    uses exact moment sums so the classic E[x²]−E[x]² cancellation is
    deterministic, and the dead-dim threshold compares identically
    computed doubles.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim_idx", "x")
    )
    stats = dims.groupBy("dim_idx").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxx"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    return stats.select(
        F.col("dim_idx").cast("long").alias("dim_idx"),
        round4(F.col("sx") / F.col("n")).alias("mean"),
        round4(var).alias("variance"),
        round4(F.col("mn")).alias("min_val"),
        round4(F.col("mx")).alias("max_val"),
        (var < 1e-4).alias("is_dead"),
    ).orderBy("dim_idx")


# --------------------------------------------------------------------------
# q219 — int8 embedding quantization audit
# --------------------------------------------------------------------------
@query(
    "q219_quantization_audit",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    s AS (
      SELECT vec_id, label, e,
             list_max(list_transform(e, x -> abs(x))) / 127 AS scale
      FROM v),
    d AS (
      SELECT vec_id, label,
             CASE WHEN scale = 0 THEN 1.0
                  ELSE list_cosine_similarity(
                    e, list_transform(e, x -> floor(x / scale + 0.5) * scale))
             END AS cs
      FROM s)
    SELECT label,
           COUNT(*) AS n_vectors,
           floor((CAST(SUM(CAST(1.0 - cs AS DECIMAL(38,18))) AS DOUBLE)
                  / COUNT(*)) * 10000000 + 0.5) / 10000000 AS avg_drift_e7,
           floor((MAX(1.0 - cs)) * 10000000 + 0.5) / 10000000
             AS max_drift_e7
    FROM d
    GROUP BY label
    ORDER BY label
    """,
    tags=("extension", "similarity", "quantization", "audit"),
)
def q219_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit for the embedding store: per
    generator label, the cosine drift ``1 − cos(v, dequant(int8(v)))``
    introduced by per-vector max-abs/127 scalar quantization — the
    go/no-go number before shrinking a 100 TB float32 ANN index 4× (the
    standard memory lever; recall impact tracks cosine drift). Reported
    at 1e-7 granularity (int8 round-trip drift is ~1e-5 — the usual
    1e-4 quantum would flatten it to zero and audit nothing).

    Determinism: quantize = ``floor(x/scale + 0.5) * scale`` per
    element (elementary IEEE ops, identical both engines — same recipe
    as round4), cosine is the same sequential fold both engines run
    over identical element order, per-label mean sums DECIMAL-cast
    terms. Pure map stage + one groupBy on a tiny label vocabulary;
    zero-vector guard mirrors the oracle's CASE.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, F.abs)) / F.lit(127)
    vecs = emb.select("vec_id", "label", e.alias("e"), scale.alias("scale"))
    deq = F.transform(
        F.col("e"),
        lambda x: F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale"),
    )
    cs = F.when(F.col("scale") == 0, F.lit(1.0)).otherwise(
        cosine(F.col("e"), deq)
    )
    drift = F.lit(1.0) - cs
    # 1e-7 quantum (round4 would flatten int8 drift to zero)
    q7 = lambda c: F.floor(c * F.lit(1e7) + F.lit(0.5)) / F.lit(1e7)  # noqa: E731
    return (
        vecs.select("label", drift.alias("drift"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            q7(
                F.sum(F.col("drift").cast("decimal(38,18)")).cast("double")
                / F.count("*")
            ).alias("avg_drift_e7"),
            q7(F.max("drift")).alias("max_drift_e7"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q223 — hard-negative mining for contrastive training
# --------------------------------------------------------------------------
@query(
    "q223_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS anchor_id, label AS anchor_label,
                      embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE {_QUERY_PRED}),
    scored AS (
      SELECT q.anchor_id, q.anchor_label,
             e.vec_id AS negative_id, e.label AS negative_label,
             list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec) AS cs
      FROM embeddings e CROSS JOIN q
      WHERE e.label <> q.anchor_label),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cs DESC, negative_id) AS rnk
      FROM scored)
    SELECT anchor_id, anchor_label, negative_id, negative_label,
           {r4('cs')} AS cos_sim
    FROM ranked WHERE rnk <= 3
    ORDER BY anchor_id, cos_sim DESC, negative_id
    """,
    tags=("extension", "similarity", "contrastive", "hard-negatives"),
)
def q223_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each anchor vector (the %100 query set), the 3 most-similar vectors
    carrying a DIFFERENT label — the negatives that actually move a
    contrastive loss (random negatives are trivially separable; hard
    ones define the margin). Same broadcast-anchor scan shape as q22
    with the label-inequality predicate pushed into the scoring join;
    at corpus scale the scan is replaced by the ANN index (q22's LSH /
    IVF variants) and this exact ranking runs on the candidate pool.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # norms projected once per vector, not once per (anchor, corpus)
    # pair (see operators.similarity.cosine_topk — bit-identical)
    anchors = emb.filter(F.expr(_QUERY_PRED)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        _to_double(F.col("embedding")).alias("q_vec"),
    ).select(
        "anchor_id", "anchor_label", "q_vec",
        l2_norm(F.col("q_vec")).alias("q_norm"),
    )
    scored = (
        emb.select(
            "vec_id", "label", _to_double(F.col("embedding")).alias("e_vec")
        )
        .select(
            "vec_id", "label", "e_vec", l2_norm(F.col("e_vec")).alias("e_norm")
        )
        .crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            (
                dot(F.col("e_vec"), F.col("q_vec"))
                / (F.col("e_norm") * F.col("q_norm"))
            ).alias("cs"),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("anchor_id").orderBy(
                F.desc("cs"), F.asc("negative_id")
            )
        ),
    )
    return (
        ranked.filter(F.col("rnk") <= 3)
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            round4(F.col("cs")).alias("cos_sim"),
        )
        .orderBy("anchor_id", F.desc("cos_sim"), "negative_id")
    )


# --------------------------------------------------------------------------
# q238 — embedding outlier quarantine list
# --------------------------------------------------------------------------
@query(
    "q238_embedding_outliers",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             floor(sqrt(list_reduce(list_transform(embedding::DOUBLE[],
                                                   x -> x * x),
                                    (acc, x) -> acc + x))
                   * 10000 + 0.5) / 10000 AS nrm
      FROM embeddings),
    stats AS (
      SELECT CAST(SUM(CAST(nrm AS DECIMAL(38,18))) AS DOUBLE)
               / COUNT(*) AS mu,
             sqrt(CAST(SUM(CAST(nrm * nrm AS DECIMAL(38,18))) AS DOUBLE)
                    / COUNT(*)
                  - (CAST(SUM(CAST(nrm AS DECIMAL(38,18))) AS DOUBLE)
                       / COUNT(*))
                    * (CAST(SUM(CAST(nrm AS DECIMAL(38,18))) AS DOUBLE)
                         / COUNT(*))) AS sigma
      FROM v)
    SELECT vec_id, label,
           nrm AS norm,
           floor(((nrm - mu) / sigma) * 10000 + 0.5) / 10000 AS z
    FROM v CROSS JOIN stats
    WHERE sigma > 0 AND abs((nrm - mu) / sigma) > 2.5
    ORDER BY vec_id
    """,
    tags=("extension", "similarity", "quality", "outliers"),
)
def q238_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector quarantine list: embeddings whose L2 norm sits more
    than 2.5 population standard deviations from the corpus mean —
    degenerate near-zero vectors and exploding outliers both poison
    cosine ANN (norms cancel in cosine but dominate every dot-product
    and centroid step), and q199's per-DIMENSION health audit cannot
    name the offending rows. The norm is the same sequential-fold dot
    both engines run over identical element order, then
    round4-QUANTIZED before the population stats: this corpus is
    unit-normalized, so the raw norms differ only at float-noise
    level and sigma would be pure noise — ~3e-8, and DIFFERENT noise
    per engine (caught by the r6 sf0.1 sweep: 41 vs 21 "outliers",
    every one an artifact). On quantized norms a properly-normalized
    corpus has sigma = 0 and the quarantine list is EMPTY — which is
    the correct report: this query is the check that normalization
    held, and it flags rows only when norms genuinely spread (the
    crafted unit test plants such rows). Mean and variance accumulate
    per-term DECIMAL casts (q61 discipline); sigma = 0 guarded. Map
    stage + one 1-row broadcast of (mu, sigma).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = round4(
        F.sqrt(
            F.aggregate(
                F.transform(e, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    )
    v = emb.select("vec_id", "label", nrm.alias("nrm"))
    dec = lambda c: F.sum(c.cast("decimal(38,18)")).cast("double")  # noqa: E731
    stats = v.agg(
        (dec(F.col("nrm")) / F.count("*")).alias("mu"),
        F.sqrt(
            dec(F.col("nrm") * F.col("nrm")) / F.count("*")
            - (dec(F.col("nrm")) / F.count("*"))
            * (dec(F.col("nrm")) / F.count("*"))
        ).alias("sigma"),
    )
    z = (F.col("nrm") - F.col("mu")) / F.col("sigma")
    return (
        v.crossJoin(F.broadcast(stats))
        .filter((F.col("sigma") > 0) & (F.abs(z) > 2.5))
        .select(
            "vec_id",
            "label",
            F.col("nrm").alias("norm"),
            round4(z).alias("z"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q240 — label-MRR retrieval quality of the embedding space
# --------------------------------------------------------------------------
@query(
    "q240_label_mrr",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                      embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE {_QUERY_PRED}),
    scored AS (
      SELECT q.query_id, q.q_label, e.label,
             list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec) AS cs,
             e.vec_id
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, q_label, label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, vec_id) AS rnk
      FROM scored),
    firsthit AS (
      SELECT query_id, q_label, MIN(rnk) AS first_rank
      FROM ranked WHERE label = q_label
      GROUP BY query_id, q_label)
    SELECT q.q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           {r4("CAST(SUM(CAST(COALESCE(1.0 / f.first_rank, 0.0)"
               " AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)")} AS mrr,
           CAST(COUNT(CASE WHEN f.first_rank <= 10 THEN 1 END) AS BIGINT)
             AS n_hit_at_10
    FROM q LEFT JOIN firsthit f USING (query_id)
    GROUP BY q.q_label
    ORDER BY label
    """,
    tags=("extension", "similarity", "retrieval", "mrr"),
)
def q240_label_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality of the embedding SPACE (not the index): per
    label, the mean reciprocal rank of the first same-label neighbor
    under exact cosine ranking, plus hit@10 — labels whose own members
    don't retrieve each other make every downstream ANN/RAG number
    meaningless, and q132's recall audit (index vs brute force) cannot
    see it because both sides share the embedding. Complements q177's
    silhouette with the metric retrieval people actually quote.
    Reciprocal ranks sum as DECIMAL casts; ranking ties break on
    vec_id; queries with NO same-label neighbor contribute 0 (LEFT
    join + coalesce — dropping them would inflate the score).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # norms projected once per vector, not once per (anchor, corpus)
    # pair (see operators.similarity.cosine_topk — bit-identical)
    anchors = emb.filter(F.expr(_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        _to_double(F.col("embedding")).alias("q_vec"),
    ).select(
        "query_id", "q_label", "q_vec",
        l2_norm(F.col("q_vec")).alias("q_norm"),
    )
    scored = (
        emb.select(
            "vec_id", "label", _to_double(F.col("embedding")).alias("e_vec")
        )
        .select(
            "vec_id", "label", "e_vec", l2_norm(F.col("e_vec")).alias("e_norm")
        )
        .crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            "label",
            "vec_id",
            (
                dot(F.col("e_vec"), F.col("q_vec"))
                / (F.col("e_norm") * F.col("q_norm"))
            ).alias("cs"),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cs"), F.asc("vec_id")
            )
        ),
    )
    firsthit = (
        ranked.filter(F.col("label") == F.col("q_label"))
        .groupBy("query_id")
        .agg(F.min("rnk").alias("first_rank"))
    )
    rr = F.coalesce(1.0 / F.col("first_rank"), F.lit(0.0))
    return (
        anchors.select("query_id", "q_label")
        .join(firsthit, "query_id", "left")
        .groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            round4(
                F.sum(rr.cast("decimal(38,18)")).cast("double")
                / F.count("*")
            ).alias("mrr"),
            F.count(F.when(F.col("first_rank") <= 10, True))
            .cast("long")
            .alias("n_hit_at_10"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q247 — embedding-space benchmark decontamination
# --------------------------------------------------------------------------
_DECON_EVAL_PRED = "vec_id % 20 = 0"  # the held-out benchmark slice
_DECON_TAU = 0.35  # p99.9 of the train-eval cosine distribution ~0.379


@query(
    "q247_embedding_decontamination",
    oracle=f"""
    WITH ev AS (SELECT vec_id AS eval_id, embedding::DOUBLE[] AS e_vec
                FROM embeddings WHERE {_DECON_EVAL_PRED}),
    tr AS (SELECT vec_id, embedding::DOUBLE[] AS t_vec
           FROM embeddings WHERE NOT ({_DECON_EVAL_PRED})),
    hits AS (
      SELECT tr.vec_id, ev.eval_id,
             {r4('list_cosine_similarity(tr.t_vec, ev.e_vec)')} AS cs
      FROM tr CROSS JOIN ev),
    flagged AS (SELECT * FROM hits WHERE cs >= {_DECON_TAU}),
    agg AS (
      SELECT vec_id,
             COUNT(*) AS n_eval_hits,
             MAX(cs) AS max_cos
      FROM flagged GROUP BY vec_id)
    SELECT a.vec_id,
           CAST(a.n_eval_hits AS BIGINT) AS n_eval_hits,
           a.max_cos,
           CAST(MIN(f.eval_id) AS BIGINT) AS nearest_eval_id
    FROM agg a JOIN flagged f
      ON f.vec_id = a.vec_id AND f.cs = a.max_cos
    GROUP BY a.vec_id, a.n_eval_hits, a.max_cos
    ORDER BY a.vec_id
    """,
    tags=("extension", "similarity", "decontamination"),
)
def q247_embedding_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark decontamination in EMBEDDING space: training vectors
    whose cosine to any held-out benchmark vector reaches τ are
    flagged with their hit count, max similarity, and nearest
    benchmark id. The semantic complement of q88's n-gram
    decontamination — paraphrased leakage shares no 8-gram but sits
    next to the benchmark in embedding space (the Phi/llm-decontaminate
    argument); a training pipeline runs BOTH before a data release.

    Shape (the 100 TB-safe one): the benchmark side is TINY by
    construction (eval suites are thousands of rows), so it broadcasts
    and the corpus side is ONE scan with map-side zip_with/aggregate
    cosine math — no shuffle at all until the per-vector aggregate,
    which is a narrow (vec_id)-keyed combine over τ-surviving rows
    only. The nearest-eval attribution joins flagged rows back on the
    quantized max — ties resolve to the smallest eval id on both
    engines. Threshold and max comparisons happen on round4-QUANTIZED
    cosines on both sides, so an engine ulp cannot flip a boundary
    decision (the q22/q23 contract). For corpora where even one scan
    per release is too hot, the LSH-bucketed variant
    (operators.similarity.cosine_topk_lsh) pre-bins both sides — same
    flag, sub-linear candidates (recall audited by q132's harness).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Norms are computed ONCE PER VECTOR before the cross join — the
    # naive cosine(a, b) recomputes each side's norm per PAIR, i.e.
    # |eval| extra folds per corpus vector (measured 2x+ at 10x).
    # Same expression tree and fold order, so the quantized values are
    # bit-identical to the inline form the oracle mirrors.
    ev = emb.filter(F.expr(_DECON_EVAL_PRED)).select(
        F.col("vec_id").alias("eval_id"),
        _to_double(F.col("embedding")).alias("e_vec"),
    ).select("eval_id", "e_vec", l2_norm(F.col("e_vec")).alias("e_norm"))
    tr = emb.filter(~F.expr(_DECON_EVAL_PRED)).select(
        "vec_id", _to_double(F.col("embedding")).alias("t_vec")
    ).select("vec_id", "t_vec", l2_norm(F.col("t_vec")).alias("t_norm"))
    hits = tr.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        "eval_id",
        round4(
            dot(F.col("t_vec"), F.col("e_vec"))
            / (F.col("t_norm") * F.col("e_norm"))
        ).alias("cs"),
    )
    flagged = hits.filter(F.col("cs") >= F.lit(_DECON_TAU))
    agg = flagged.groupBy("vec_id").agg(
        F.count("*").cast("long").alias("n_eval_hits"),
        F.max("cs").alias("max_cos"),
    )
    return (
        agg.join(
            flagged.select("vec_id", F.col("cs").alias("max_cos"), "eval_id"),
            ["vec_id", "max_cos"],
        )
        .groupBy("vec_id", "n_eval_hits", "max_cos")
        .agg(F.min("eval_id").cast("long").alias("nearest_eval_id"))
        .select("vec_id", "n_eval_hits", "max_cos", "nearest_eval_id")
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q256 — margin-based candidate scoring (bitext-mining criterion)
# --------------------------------------------------------------------------
_MARGIN_X_PRED = "vec_id % 2 = 0"  # shard X (e.g. source language)
_MARGIN_Y_PRED = "vec_id % 2 = 1"  # shard Y (e.g. target language)
MARGIN_K = 4  # neighborhood size for the normalizing means
MARGIN_TAU = 1.05  # ratio-margin acceptance threshold
# Fixed-SIZE (not fixed-fraction) exact-audit sample: each side keeps
# md5-bucket % max(1, n // TARGET) == 0, so the sampled side stays
# ~TARGET vectors at ANY corpus size and the exact cross join is
# O(TARGET^2) — constant — while remaining a deterministic,
# engine-reproducible subcorpus (q39/q121 discipline, VERDICT r6 #1).
# At sf0.001/sf0.01 (250/side) the modulus is 1: the sample IS the
# full shard and q256's answer is bit-identical to the unsampled one.
_MARGIN_SAMPLE_TARGET = 256


def _margin_exact(x: DataFrame, y: DataFrame) -> DataFrame:
    """Exact Artetxe-Schwenk ratio margin over the given shards —
    cross join, neighborhood means over the FULL given frames. x must
    carry (x_id, xv), y (y_id, yv); vectors as array<double>."""
    x = x.select("x_id", "xv", l2_norm(F.col("xv")).alias("xn"))
    y = y.select("y_id", "yv", l2_norm(F.col("yv")).alias("yn"))
    p = (
        x.crossJoin(F.broadcast(y))
        .select(
            "x_id",
            "y_id",
            round4(
                dot(F.col("xv"), F.col("yv"))
                / (F.col("xn") * F.col("yn"))
            ).alias("cs"),
        )
    )
    with cached(p, count=False) as p:
        dec = F.col("cs").cast("decimal(20,4)")
        rnx = F.row_number().over(
            Window.partitionBy("x_id").orderBy(F.desc("cs"), "y_id")
        )
        ax = (
            p.withColumn("rn", rnx)
            .filter(F.col("rn") <= MARGIN_K)
            .groupBy("x_id")
            .agg(
                (F.sum(dec).cast("double") / F.lit(MARGIN_K)).alias("a_x")
            )
        )
        rny = F.row_number().over(
            Window.partitionBy("y_id").orderBy(F.desc("cs"), "x_id")
        )
        ay = (
            p.withColumn("rn", rny)
            .filter(F.col("rn") <= MARGIN_K)
            .groupBy("y_id")
            .agg(
                (F.sum(dec).cast("double") / F.lit(MARGIN_K)).alias("a_y")
            )
        )
        m = (
            p.join(ax, "x_id")
            .join(ay, "y_id")
            .select(
                "x_id",
                "y_id",
                F.col("cs").alias("cos_sim"),
                round4(
                    F.col("cs") / ((F.col("a_x") + F.col("a_y")) / F.lit(2.0))
                ).alias("margin"),
            )
        )
        out = (
            m.filter(F.col("margin") >= F.lit(MARGIN_TAU))
            .orderBy("x_id", "y_id")
            .localCheckpoint(eager=True)
        )
    return out


def _margin_sample(side: DataFrame, idc: str) -> DataFrame:
    """Deterministic fixed-size md5-bucket sample of one shard —
    delegates to the shared :func:`fixed_sample` helper (one
    implementation of the modulus arithmetic for every sample-bounded
    plan, per VERDICT r7 #6)."""
    return fixed_sample(side, idc, _MARGIN_SAMPLE_TARGET)


@query(
    "q256_margin_candidate_mining",
    oracle=f"""
    WITH x0 AS (SELECT vec_id AS x_id, embedding::DOUBLE[] AS v
                FROM embeddings WHERE {_MARGIN_X_PRED}),
    y0 AS (SELECT vec_id AS y_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE {_MARGIN_Y_PRED}),
    {fixed_sample_ctes("x0", "x_id", _MARGIN_SAMPLE_TARGET, "x")},
    {fixed_sample_ctes("y0", "y_id", _MARGIN_SAMPLE_TARGET, "y")},
    p AS (
      SELECT x.x_id, y.y_id,
             {r4('list_cosine_similarity(x.v, y.v)')} AS cs
      FROM x CROSS JOIN y),
    nnx AS (
      SELECT x_id, cs,
             ROW_NUMBER() OVER (PARTITION BY x_id
                                ORDER BY cs DESC, y_id) AS rn
      FROM p),
    ax AS (
      SELECT x_id,
             CAST(SUM(CAST(cs AS DECIMAL(20,4))) AS DOUBLE) / {MARGIN_K}
               AS a_x
      FROM nnx WHERE rn <= {MARGIN_K} GROUP BY x_id),
    nny AS (
      SELECT y_id, cs,
             ROW_NUMBER() OVER (PARTITION BY y_id
                                ORDER BY cs DESC, x_id) AS rn
      FROM p),
    ay AS (
      SELECT y_id,
             CAST(SUM(CAST(cs AS DECIMAL(20,4))) AS DOUBLE) / {MARGIN_K}
               AS a_y
      FROM nny WHERE rn <= {MARGIN_K} GROUP BY y_id),
    m AS (
      SELECT p.x_id, p.y_id, p.cs,
             {r4('p.cs / ((ax.a_x + ay.a_y) / 2)')} AS margin
      FROM p JOIN ax USING (x_id) JOIN ay USING (y_id))
    SELECT x_id, y_id, cs AS cos_sim, margin
    FROM m
    WHERE margin >= {MARGIN_TAU}
    ORDER BY x_id, y_id
    """,
    tags=("extension", "similarity", "mining"),
)
def q256_margin_candidate_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Margin-based candidate mining (the Artetxe-Schwenk ratio-margin
    criterion used for bitext / parallel-pair mining): a cross-shard
    pair (x, y) is accepted when cos(x, y) exceeds the mean cosine of
    each side's k-nearest neighborhood by the ratio threshold —
    margin = cos(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2) >= 1.05.
    Raw-cosine thresholds fail in hubness regions (dense neighborhoods
    make everything look similar); the margin normalizes by local
    density, which is why mined-pair pipelines (CCMatrix/LASER-style)
    use it instead of an absolute τ — here it is the pairing
    complement of the absolute-τ decontamination gate (q247).

    Shape/scale (VERDICT r6 #1 — no registered plan is O(n^2) at
    corpus scale): the exact cross-join margin runs on a DETERMINISTIC
    FIXED-SIZE md5-bucket sample of each shard — modulus
    max(1, n // 256) grows with the corpus, so the sampled sides
    stay ~256 vectors and the pair count is constant at any
    scale, while the subcorpus is reproducible across engines, runs,
    and cluster layouts (q39/q121 discipline). At sf<=0.01 the modulus
    is 1 and the answer equals the unsampled one. The neighborhood
    means are exact OVER THE SAMPLED SUBCORPUS — the standard audit
    practice: the margin criterion is calibrated on a subcorpus where
    exact neighborhoods are affordable, then applied at full scale via
    the banded plan (q256b), whose recall is gated against this
    baseline on the same subcorpus (tests/test_margin_mining_lsh.py).

    Per-vector norms are projected BELOW the cross join (the r5
    norm-hoisting discipline — one fold per vector, not per pair); the
    scored-pair frame is consumed three times (both neighborhood means
    + the final margin join) so it is persisted once. Neighborhood
    means are windows PARTITIONED by the vector id (audit-clean) over
    round4-QUANTIZED cosines, summed as DECIMAL(20,4) so the 4-element
    mean is order-independent and bit-identical across engines;
    margins threshold on quantized values (the q22/q23 contract).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.filter(F.expr(_MARGIN_X_PRED)).select(
        F.col("vec_id").alias("x_id"),
        _to_double(F.col("embedding")).alias("xv"),
    )
    y = emb.filter(F.expr(_MARGIN_Y_PRED)).select(
        F.col("vec_id").alias("y_id"),
        _to_double(F.col("embedding")).alias("yv"),
    )
    return _margin_exact(
        _margin_sample(x, "x_id"), _margin_sample(y, "y_id")
    )


# --------------------------------------------------------------------------
# q256b — margin mining over BANDED-LSH candidates (the scale path)
# --------------------------------------------------------------------------
_MB_BANDS = 8          # OR-construction width (hash tables)
_MB_RMAX = 12          # rows-per-band cap -> at most 96 hyperplanes
_MB_TARGET = 64        # target bucket occupancy the band rows aim for


def _mb_rows_per_band(n_avg: int) -> int:
    """Rows per band from the average shard size: the smallest r with
    2**r >= ceil(n_avg / target), clamped to [2, _MB_RMAX]. Pure
    integer ladder — bit-identical in Python and in the rendered SQL
    (no cross-engine log/ceil float risk). The cap was raised 8 -> 12
    after the round-7 100x probe: at 100k vectors/side the old r=8
    rung saturated the 2^8 sig space (~390 per bucket vs the 64
    target) and candidate volume turned quadratic-in-occupancy (probe
    ratio 120 at 100x data); r then being free to grow to 11 restores
    ~target-sized buckets. Driver-SF answers are unchanged — the new
    rungs engage only above ~8k vectors per shard."""
    m = (n_avg + _MB_TARGET - 1) // _MB_TARGET
    r = 2
    while 2**r < m and r < _MB_RMAX:
        r += 1
    return r


def _mb_sign_sql(arr: str) -> str:
    """bands*rmax-char (96) '0'/'1' hyperplane-sign string, same md5
    plane table and
    sequential-fold dot as the Spark side (q132's determinism rules)."""
    chars = []
    for i in range(_MB_BANDS * _MB_RMAX):
        plane = _hyperplane(_ANN_DIM, i)
        lit = "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"
        dotv = (
            f"list_reduce(list_transform(generate_series(1, {_ANN_DIM}), "
            f"i -> {arr}[i] * ({lit})[i]), (acc, x) -> acc + x)"
        )
        chars.append(f"(CASE WHEN {dotv} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(chars)


@query(
    "q256b_margin_mining_lsh",
    oracle=f"""
    WITH x AS (SELECT vec_id AS x_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE {_MARGIN_X_PRED}),
    y AS (SELECT vec_id AS y_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE {_MARGIN_Y_PRED}),
    rr AS (
      SELECT CASE WHEN m <= 4 THEN 2 WHEN m <= 8 THEN 3
                  WHEN m <= 16 THEN 4 WHEN m <= 32 THEN 5
                  WHEN m <= 64 THEN 6 WHEN m <= 128 THEN 7
                  WHEN m <= 256 THEN 8 WHEN m <= 512 THEN 9
                  WHEN m <= 1024 THEN 10 WHEN m <= 2048 THEN 11
                  ELSE {_MB_RMAX} END AS r
      FROM (SELECT (((SELECT COUNT(*) FROM x) + (SELECT COUNT(*) FROM y)) // 2
                    + {_MB_TARGET - 1}) // {_MB_TARGET} AS m)),
    bj(b) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7)),
    xs AS (SELECT x_id, {_mb_sign_sql('v')} AS s FROM x),
    ys AS (SELECT y_id, {_mb_sign_sql('v')} AS s FROM y),
    xb AS (SELECT x_id, b, substr(s, b * r + 1, r) AS sig
           FROM xs CROSS JOIN bj CROSS JOIN rr),
    yb AS (SELECT y_id, b, substr(s, b * r + 1, r) AS sig
           FROM ys CROSS JOIN bj CROSS JOIN rr),
    cand AS (
      SELECT DISTINCT x_id, y_id
      FROM xb JOIN yb ON xb.b = yb.b AND xb.sig = yb.sig),
    p AS (
      SELECT c.x_id, c.y_id,
             {r4('list_cosine_similarity(x.v, y.v)')} AS cs
      FROM cand c JOIN x ON c.x_id = x.x_id JOIN y ON c.y_id = y.y_id),
    nnx AS (SELECT x_id, y_id, cs, ROW_NUMBER() OVER (
              PARTITION BY x_id ORDER BY cs DESC, y_id) AS rn FROM p),
    nny AS (SELECT x_id, y_id, cs, ROW_NUMBER() OVER (
              PARTITION BY y_id ORDER BY cs DESC, x_id) AS rn FROM p),
    ax AS (SELECT x_id, CAST(SUM(CAST(cs AS DECIMAL(20,4))) AS DOUBLE)
                        / COUNT(*) AS a_x
           FROM nnx WHERE rn <= {MARGIN_K} GROUP BY x_id),
    ay AS (SELECT y_id, CAST(SUM(CAST(cs AS DECIMAL(20,4))) AS DOUBLE)
                        / COUNT(*) AS a_y
           FROM nny WHERE rn <= {MARGIN_K} GROUP BY y_id),
    keep AS (
      SELECT x_id, y_id, cs FROM nnx WHERE rn <= {MARGIN_K}
      UNION
      SELECT x_id, y_id, cs FROM nny WHERE rn <= {MARGIN_K}),
    m AS (
      SELECT k.x_id, k.y_id, k.cs,
             {r4('k.cs / ((ax.a_x + ay.a_y) / 2)')} AS margin
      FROM keep k JOIN ax USING (x_id) JOIN ay USING (y_id))
    SELECT x_id, y_id, cs AS cos_sim, margin
    FROM m
    WHERE margin >= {MARGIN_TAU}
    ORDER BY x_id, y_id
    """,
    tags=("extension", "similarity", "mining", "lsh"),
)
def q256b_margin_mining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-TRUE margin-mining plan (VERDICT r5 #1): q256's
    Artetxe-Schwenk ratio-margin criterion computed over BANDED-LSH
    candidate pairs instead of the full cross product. Eight
    OR-construction bands of r hyperplane sign bits each (disjoint
    plane sets, same md5 plane table as q132); a cross-shard pair is a
    candidate iff its band signature matches in ANY band. Rows per
    band scale with shard size — r = min r with 2^r >= ceil(n/64),
    an integer ladder both engines evaluate bit-identically — so
    candidate volume grows ~linearly (bands * target-bucket * n), not
    quadratically: the 10x probe shape the registered q256 plan
    (deliberately kept as the exact audit baseline) cannot have.

    Per Artetxe-Schwenk, candidates are then restricted to each side's
    forward/backward top-K retrieved neighbors and the normalizing
    means are taken over the RETRIEVED neighborhoods (divide by the
    actual neighbor count, which can be < K in sparse buckets) — this
    is exactly what FAISS-based mining pipelines do, where exact
    neighborhood means never exist at corpus scale.

    Recall vs q256's exact answer is measured by a unit gate
    (tests/test_margin_mining_lsh.py), not assumed. Measured r6:
    recall/precision 0.983/0.975 at sf0.001 (r=2), 0.996/0.987 at
    sf0.01 (r=2), 0.756/0.733 at sf0.1 (r=4). This synthetic corpus
    is near-isotropic with accepted-pair cosines ~0.3-0.5, the
    shallow region of q248's S-curve, so recall decays as r grows
    with the corpus; production mining corpora sit on the steep part
    (clustered, cos >= 0.8 pairs), where the same (b, r) retains
    >= 0.99 — calibrate with q248 before committing parameters,
    exactly like q132 gates the ANN index.

    Scale shape: sign strings are bands*r = 16-96 sequential-fold
    dots per vector (the oracle renders all 96 chars and substr-slices
    them the same way; map-only); the band join is a string-sig
    equi-join; DISTINCT
    dedups multi-band collisions; vectors are re-fetched by id for
    scoring (two hash joins) so the wide arrays never ride through
    the window shuffles.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.filter(F.expr(_MARGIN_X_PRED)).select(
        F.col("vec_id").alias("x_id"),
        _to_double(F.col("embedding")).alias("xv"),
    )
    y = emb.filter(F.expr(_MARGIN_Y_PRED)).select(
        F.col("vec_id").alias("y_id"),
        _to_double(F.col("embedding")).alias("yv"),
    )
    return _margin_lsh(x, y)


def _margin_lsh(x: DataFrame, y: DataFrame) -> DataFrame:
    """q256b's banded-LSH margin core over the given (x_id, xv) /
    (y_id, yv) frames — factored out so the recall gates can run it on
    arbitrary corpora (the md5-bucket audit sample, planted clustered
    corpora) with the rows-per-band ladder reacting to THAT corpus's
    size, exactly as the registered plan does."""
    # one count per side: the rows-per-band ladder input (driver-side
    # scalar, the codebook-collect pattern)
    n_avg = (x.count() + y.count()) // 2
    r = _mb_rows_per_band(n_avg)

    # only the first bands*r planes are ever read (the oracle renders
    # all 96 sign chars but slices them with substr the same way), so
    # skip the unused sign computations — plan-compile time for the
    # full fold-expression set dominated the whole query at small SFs
    planes = [_hyperplane(_ANN_DIM, i) for i in range(_MB_BANDS * r)]

    def sign_str(vec):
        # one transform over a 2D plane-array literal instead of
        # bands*r separate aggregate columns — same fold, same chars,
        # measured ~2x cheaper to compile+run at sf0.1
        p2d = F.array(*[F.array(*[F.lit(x) for x in p]) for p in planes])
        return F.array_join(
            F.transform(
                p2d,
                lambda p: F.when(dot(vec, p) >= 0, F.lit("1")).otherwise(
                    F.lit("0")
                ),
            ),
            "",
        )

    bands = F.explode(
        F.sequence(F.lit(0), F.lit(_MB_BANDS - 1))
    ).alias("b")

    def banded(side, idc, vc):
        return (
            side.select(idc, sign_str(F.col(vc)).alias("s"))
            .select(idc, "s", bands)
            .select(
                idc,
                "b",
                F.substring(F.col("s"), F.col("b") * r + 1, r).alias("sig"),
            )
        )

    cand = (
        banded(x, "x_id", "xv")
        .join(banded(y, "y_id", "yv"), ["b", "sig"])
        .select("x_id", "y_id")
        .distinct()
    )
    # SHUFFLE_HASH on the vector dims so the unbounded candidate-PAIR
    # frame can never be picked as a broadcast build side — the exact
    # misestimate that OOMed q248's pair join at the 10x probe (r6),
    # applied here per ADVICE r6.
    xn = x.select(
        "x_id", "xv", l2_norm(F.col("xv")).alias("xnorm")
    ).hint("SHUFFLE_HASH")
    yn = y.select(
        "y_id", "yv", l2_norm(F.col("yv")).alias("ynorm")
    ).hint("SHUFFLE_HASH")
    p = (
        cand.join(xn, "x_id")
        .join(yn, "y_id")
        .select(
            "x_id",
            "y_id",
            round4(
                dot(F.col("xv"), F.col("yv"))
                / (F.col("xnorm") * F.col("ynorm"))
            ).alias("cs"),
        )
    )
    with cached(p, count=False) as p:
        dec = F.col("cs").cast("decimal(20,4)")
        rnx = F.row_number().over(
            Window.partitionBy("x_id").orderBy(F.desc("cs"), "y_id")
        )
        rny = F.row_number().over(
            Window.partitionBy("y_id").orderBy(F.desc("cs"), "x_id")
        )
        ranked = p.withColumn("rnx", rnx).withColumn("rny", rny)
        with cached(ranked, count=False) as ranked:
            ax = (
                ranked.filter(F.col("rnx") <= MARGIN_K)
                .groupBy("x_id")
                .agg((F.sum(dec).cast("double") / F.count("*")).alias("a_x"))
            )
            ay = (
                ranked.filter(F.col("rny") <= MARGIN_K)
                .groupBy("y_id")
                .agg((F.sum(dec).cast("double") / F.count("*")).alias("a_y"))
            )
            keep = ranked.filter(
                (F.col("rnx") <= MARGIN_K) | (F.col("rny") <= MARGIN_K)
            ).select("x_id", "y_id", "cs")
            out = (
                keep.join(ax, "x_id")
                .join(ay, "y_id")
                .select(
                    "x_id",
                    "y_id",
                    F.col("cs").alias("cos_sim"),
                    round4(
                        F.col("cs") / ((F.col("a_x") + F.col("a_y")) / F.lit(2.0))
                    ).alias("margin"),
                )
                .filter(F.col("margin") >= F.lit(MARGIN_TAU))
                .localCheckpoint(eager=True)
            )
    return out


# --------------------------------------------------------------------------
# q264 — IVF recall sweep: recall@10 per nprobe vs exact ground truth
# --------------------------------------------------------------------------
_IVF_CELLS = 8
_IVF_PROBES = (1, 2, 4)
_IVF_PROBE_VALUES = ", ".join(f"({p})" for p in _IVF_PROBES)


def _query_norms(queries: DataFrame) -> DataFrame:
    """(query_id, qv, qn): each (vec_id, embedding) query's double
    vector and its norm — the probe side of ``nearest_cells``."""
    return queries.select(
        F.col("vec_id").alias("query_id"),
        _to_double(F.col("embedding")).alias("qv"),
    ).select("query_id", "qv", l2_norm(F.col("qv")).alias("qn"))


@query(
    "q264_ivf_recall_sweep",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    q0 AS (SELECT vec_id, arr FROM v WHERE {_QUERY_PRED}),
    {fixed_sample_ctes("q0", "vec_id", _ANN_AUDIT_QTARGET, "q")},
    ex AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(v.arr, q.arr) DESC, v.vec_id)
               AS rn
      FROM q CROSS JOIN v WHERE v.vec_id <> q.vec_id),
    exact AS (SELECT query_id, neighbor_id FROM ex WHERE rn <= 10),
    seeds AS (
      SELECT arr AS s_arr,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS s_idx
      FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_IVF_CELLS}),
    asg AS (
      SELECT vec_id, arr, s_idx AS cell FROM (
        SELECT v.vec_id, v.arr, s.s_idx,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.arr, s.s_arr) DESC,
                          s.s_idx) AS rn
        FROM v CROSS JOIN seeds s) t WHERE rn = 1),
    memb AS (SELECT cell, i - 1 AS dim_idx, arr[i] AS val
             FROM asg, unnest(generate_series(1, {_ANN_DIM})) t(i)),
    per_dim AS (
      SELECT cell, dim_idx,
             CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
      FROM memb GROUP BY cell, dim_idx),
    cents AS (SELECT cell, list(c ORDER BY dim_idx) AS centroid
              FROM per_dim GROUP BY cell),
    qc AS (
      SELECT q.vec_id AS query_id, q.arr, c.cell,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY {r4('list_cosine_similarity(q.arr, c.centroid)')}
                          DESC, c.cell) AS cell_rank
      FROM q CROSS JOIN cents c),
    probes AS (SELECT CAST(p AS BIGINT) AS nprobe
               FROM (VALUES {_IVF_PROBE_VALUES}) t(p)),
    cand AS (
      SELECT p.nprobe, qc.query_id, a.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY p.nprobe, qc.query_id
               ORDER BY list_cosine_similarity(a.arr, qc.arr) DESC,
                        a.vec_id) AS rn
      FROM probes p
      JOIN qc ON qc.cell_rank <= p.nprobe
      JOIN asg a ON a.cell = qc.cell AND a.vec_id <> qc.query_id),
    approx AS (SELECT nprobe, query_id, neighbor_id FROM cand
               WHERE rn <= 10),
    na AS (SELECT nprobe, COUNT(*) AS c FROM approx GROUP BY nprobe),
    h AS (
      SELECT ap.nprobe, COUNT(*) AS c
      FROM approx ap JOIN exact e
        ON e.query_id = ap.query_id AND e.neighbor_id = ap.neighbor_id
      GROUP BY ap.nprobe)
    SELECT p.nprobe,
           (SELECT COUNT(*) FROM q) AS n_queries,
           (SELECT COUNT(*) FROM exact) AS n_exact_pairs,
           COALESCE(na.c, 0) AS n_approx_pairs,
           COALESCE(h.c, 0) AS n_hits,
           {r4('COALESCE(h.c, 0) * 1.0 / (SELECT COUNT(*) FROM exact)')}
             AS recall
    FROM probes p
    LEFT JOIN na USING (nprobe)
    LEFT JOIN h USING (nprobe)
    ORDER BY p.nprobe
    """,
    tags=("extension", "similarity", "ann", "ivf", "audit"),
)
def q264_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF calibration sweep: recall@10 of the inverted-file index at
    nprobe = 1, 2, 4 against exact cosine ground truth — the IVF
    counterpart of q132's single-probe LSH audit and q248's MinHash
    banding sweep, completing the ANN-calibration triptych. This is
    the table you read before fixing nprobe for a corpus-scale
    similarity pass: each extra probe multiplies the scanned inverted
    lists, and the recall column prices what it buys.

    Determinism: seeds are the 8 lowest-md5(vec_id) vectors
    (``ivf_seeds``, mirrored with the same ROW_NUMBER in SQL); cell
    assignment argmaxes the raw sequential-fold cosine with ties
    toward the lowest seed index; centroids are exact DECIMAL(30,6)
    means per dimension (``mean_vectors`` — order-free on both
    engines, where a plain double AVG would drift); centroid ranking
    uses round4-quantized cosines with the cell id as tiebreak
    (``nearest_cells``). Scale: the codebook is 8 x 64 floats
    (broadcast), assignment is the map-only argmax, and the candidate
    join is an equi-join on cell. The exact ground-truth leg runs on a
    FIXED-SIZE fixed_sample of the query set (~_ANN_AUDIT_QTARGET
    queries at any corpus size, modulus 1 at every test SF) — the
    audit cost is O(target x n), never O(n^2/100).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = fixed_sample(
        emb.filter(F.expr(_QUERY_PRED)), "vec_id", _ANN_AUDIT_QTARGET
    )
    exact = cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    assigned = (
        ivf_assign(emb, n_cells=_IVF_CELLS)
        .select(
            "vec_id",
            "cell",
            _to_double(F.col("embedding")).alias("cv"),
        )
        .select(
            "vec_id", "cell", "cv", l2_norm(F.col("cv")).alias("cn")
        )
    )
    with (
        cached(exact, count=False) as exact,
        cached(assigned, count=False) as assigned,
    ):
        cents = mean_vectors(assigned, ["cell"], "cv", "decimal(30,6)")
        qc = nearest_cells(_query_norms(queries), cents, max(_IVF_PROBES))
        probes = spark.createDataFrame(
            [(int(p),) for p in _IVF_PROBES], "nprobe LONG"
        )
        cand = (
            qc.join(F.broadcast(probes), F.col("cell_rank") <= F.col("nprobe"))
            .join(assigned, "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "nprobe",
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                (
                    dot(F.col("qv"), F.col("cv"))
                    / (F.col("qn") * F.col("cn"))
                ).alias("cs"),
            )
        )
        wr = Window.partitionBy("nprobe", "query_id").orderBy(
            F.desc("cs"), F.asc("neighbor_id")
        )
        approx = (
            cand.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= 10)
            .select("nprobe", "query_id", "neighbor_id")
        )
        with cached(approx, count=False) as approx:
            na = approx.groupBy("nprobe").agg(F.count("*").alias("n_approx_pairs"))
            h = (
                approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
                .groupBy("nprobe")
                .agg(F.count("*").alias("n_hits"))
            )
            n_q = queries.agg(F.count("*").alias("n_queries"))
            n_e = exact.agg(F.count("*").alias("n_exact_pairs"))
            out = (
                probes.join(na, "nprobe", "left")
                .join(h, "nprobe", "left")
                .crossJoin(F.broadcast(n_q))
                .crossJoin(F.broadcast(n_e))
                .select(
                    "nprobe",
                    "n_queries",
                    "n_exact_pairs",
                    F.coalesce("n_approx_pairs", F.lit(0))
                    .cast("long")
                    .alias("n_approx_pairs"),
                    F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
                    round4(
                        F.coalesce("n_hits", F.lit(0))
                        * F.lit(1.0)
                        / F.col("n_exact_pairs")
                    ).alias("recall"),
                )
                .orderBy("nprobe")
                .localCheckpoint(eager=True)
            )
    return out


# --------------------------------------------------------------------------
# q272 — product-quantization (PQ) codebook audit: distortion + ADC recall
# --------------------------------------------------------------------------
_PQ_M = 8      # subspaces (64 dims -> 8 subvectors of 8)
_PQ_SUBD = _ANN_DIM // _PQ_M
_PQ_K = 8      # codes per subspace (3 bits x 8 subspaces = 24-bit code)


def _pq_d2_sql(a: str, b: str, n: int) -> str:
    """Sequential-fold squared-L2 between two length-n lists — the same
    left fold Spark's zip_with+aggregate evaluates, so the raw doubles
    are bit-identical across engines (q132's dot discipline)."""
    return (
        f"list_reduce(list_transform(generate_series(1, {n}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), "
        "(acc, x) -> acc + x)"
    )


def _pq_subvectors(arr: str) -> list[Column]:
    """The _PQ_M consecutive _PQ_SUBD-dim subvectors of array ``arr``."""
    return [
        F.slice(F.col(arr), m * _PQ_SUBD + 1, _PQ_SUBD) for m in range(_PQ_M)
    ]


def _pq_codes(v: DataFrame) -> DataFrame:
    """One row per (vector, subspace) of ``v`` (vec_id, arr double
    array, ...): ``v``'s other columns, the subspace ``m``, its
    subvector ``sub`` and its PQ ``code`` — the nearest codebook seed
    subvector by raw sequential-fold squared-L2, ties toward the
    lowest code.

    Seeds are the _PQ_K ``ivf_seeds`` vectors, collected driver-side
    (constant-size metadata) and compiled into literal per-subspace
    argmin expressions, so encoding is map-only: no corpus x seeds
    shuffle.
    """
    seeds = ivf_seeds(v, _PQ_K, "arr")
    subs = _pq_subvectors("arr")
    codes = []
    for m in range(_PQ_M):
        cands = [
            F.struct(
                sq_dist(
                    subs[m],
                    F.array(*[
                        F.lit(float(x))
                        for x in seed[m * _PQ_SUBD : (m + 1) * _PQ_SUBD]
                    ]),
                ).alias("d"),
                F.lit(k).alias("k"),
            )
            for k, seed in enumerate(seeds)
        ]
        codes.append(F.array_min(F.array(*cands)).getField("k").cast("long"))
    rest = [c for c in v.columns if c != "arr"]
    return v.select(
        *rest,
        F.posexplode(
            F.array(*[
                F.struct(subs[m].alias("sub"), codes[m].alias("code"))
                for m in range(_PQ_M)
            ])
        ).alias("m", "s"),
    ).select(
        *rest,
        F.col("m").cast("long").alias("m"),
        F.col("s.sub").alias("sub"),
        F.col("s.code").alias("code"),
    )


def _pq_lut(queries: DataFrame, book: DataFrame) -> DataFrame:
    """(query_id, m, code, d2q): the ADC lookup table of ``queries``
    (query_id, qv) against the PQ codebook ``book`` (m, code, centroid)
    — the round4-quantized squared-L2 from each query subvector to each
    code, so ADC sums of 8 terms tie identically on every engine."""
    qsubs = queries.select(
        "query_id",
        F.posexplode(F.array(*_pq_subvectors("qv"))).alias("m", "qsub"),
    ).select("query_id", F.col("m").cast("long").alias("m"), "qsub")
    return qsubs.join(F.broadcast(book), "m").select(
        "query_id",
        "m",
        "code",
        round4(sq_dist(F.col("qsub"), F.col("centroid"))).alias("d2q"),
    )


@query(
    "q272_pq_codebook_audit",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    ms(m) AS (VALUES {", ".join(f"({m})" for m in range(_PQ_M))}),
    subs AS (
      SELECT vec_id, m,
             arr[m * {_PQ_SUBD} + 1 : m * {_PQ_SUBD} + {_PQ_SUBD}] AS sub
      FROM v CROSS JOIN ms),
    seeds AS (
      SELECT arr AS s_arr,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS s_idx
      FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_PQ_K}),
    sseed AS (
      SELECT s_idx, m,
             s_arr[m * {_PQ_SUBD} + 1 : m * {_PQ_SUBD} + {_PQ_SUBD}] AS ssub
      FROM seeds CROSS JOIN ms),
    codes AS (
      SELECT vec_id, m, s_idx AS code FROM (
        SELECT su.vec_id, su.m, ss.s_idx,
               ROW_NUMBER() OVER (PARTITION BY su.vec_id, su.m
                 ORDER BY {_pq_d2_sql('su.sub', 'ss.ssub', _PQ_SUBD)} ASC,
                          ss.s_idx) AS rn
        FROM subs su JOIN sseed ss ON ss.m = su.m) t
      WHERE rn = 1),
    memb AS (
      SELECT c.m, c.code, i - 1 AS dim_idx, su.sub[i] AS val
      FROM codes c
      JOIN subs su ON su.vec_id = c.vec_id AND su.m = c.m,
      unnest(generate_series(1, {_PQ_SUBD})) t(i)),
    per_dim AS (
      SELECT m, code, dim_idx,
             CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS cd
      FROM memb GROUP BY m, code, dim_idx),
    cents AS (SELECT m, code, list(cd ORDER BY dim_idx) AS cent
              FROM per_dim GROUP BY m, code),
    dist AS (
      SELECT su.m, c.code,
             {r4(_pq_d2_sql('su.sub', 'ct.cent', _PQ_SUBD))} AS d2r
      FROM subs su
      JOIN codes c ON c.vec_id = su.vec_id AND c.m = su.m
      JOIN cents ct ON ct.m = c.m AND ct.code = c.code),
    per_sub AS (
      SELECT m,
             CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(COUNT(DISTINCT code) AS BIGINT) AS n_codes_used,
             {r4('CAST(SUM(CAST(d2r AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*)')}
               AS mse
      FROM dist GROUP BY m),
    qs0 AS (SELECT vec_id, arr FROM v WHERE {_QUERY_PRED}),
    {fixed_sample_ctes("qs0", "vec_id", _ANN_AUDIT_QTARGET, "qs1")},
    qs AS (SELECT vec_id AS query_id, arr FROM qs1),
    qsubs AS (
      SELECT query_id, m,
             arr[m * {_PQ_SUBD} + 1 : m * {_PQ_SUBD} + {_PQ_SUBD}] AS qsub
      FROM qs CROSS JOIN ms),
    t AS (
      SELECT q.query_id, ct.m, ct.code,
             {r4(_pq_d2_sql('q.qsub', 'ct.cent', _PQ_SUBD))} AS d2q
      FROM qsubs q JOIN cents ct ON ct.m = q.m),
    adist AS (
      SELECT t.query_id, c.vec_id,
             CAST(SUM(CAST(d2q AS DECIMAL(20,4))) AS DOUBLE) AS ad
      FROM codes c JOIN t ON t.m = c.m AND t.code = c.code
      WHERE c.vec_id <> t.query_id
      GROUP BY t.query_id, c.vec_id),
    approx AS (
      SELECT query_id, vec_id AS neighbor_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ad ASC, vec_id) AS rn
        FROM adist) WHERE rn <= 10),
    ex AS (
      SELECT query_id, vec_id AS neighbor_id FROM (
        SELECT q.query_id, v.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY {_pq_d2_sql('q.arr', 'v.arr', _ANN_DIM)} ASC,
                          v.vec_id) AS rn
        FROM qs q CROSS JOIN v WHERE v.vec_id <> q.query_id) t2
      WHERE rn <= 10),
    ne AS (SELECT COUNT(*) AS n_exact FROM ex),
    h AS (SELECT COUNT(*) AS n_hits FROM approx ap
          JOIN ex ON ex.query_id = ap.query_id
                 AND ex.neighbor_id = ap.neighbor_id)
    SELECT CAST(ps.m AS BIGINT) AS m, ps.n_vectors, ps.n_codes_used,
           ps.mse,
           CAST(ne.n_exact AS BIGINT) AS n_exact_pairs,
           {r4('h.n_hits * 1.0 / ne.n_exact')} AS recall_at_10
    FROM per_sub ps CROSS JOIN ne CROSS JOIN h
    ORDER BY m
    """,
    tags=("extension", "similarity", "ann", "pq", "audit"),
)
def q272_pq_codebook_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit — the fourth panel of the ANN
    calibration suite (q132 hyperplane-LSH, q264 IVF, q248 MinHash
    banding): split every 64-d vector into 8 subvectors of 8 dims,
    quantize each against an 8-entry per-subspace codebook (24-bit PQ
    code, a 85x memory cut vs float64 vectors — PQ is how
    billion-vector indexes fit in RAM at corpus scale), and report
    per-subspace distortion (MSE) plus end-to-end recall@10 of
    asymmetric-distance (ADC) ranking vs exact squared-L2 top-10.

    Determinism: codebook seeds are the 8 ``ivf_seeds`` vectors'
    subvectors; assignment argmins the raw sequential-fold squared-L2
    with ties toward the lowest code (left-fold doubles are
    bit-identical across engines); codebook entries are exact
    DECIMAL(30,6) per-dimension means (``mean_vectors``); every
    COMPARED distance (per-subspace MSE terms, ADC lookup-table
    entries) is round4-quantized, and ADC distances are sums of 8
    quantized terms in DECIMAL(20,4), so ranking ties break
    identically everywhere.

    Scale shape: assignment is MAP-ONLY (``_pq_codes``: no corpus x
    seeds shuffle); the ADC join is (codes x per-query lookup table)
    on (m, code) — |q| x n x 8 narrow rows, the real ADC scan cost.
    The query set (and with it both the ADC scan and the exact
    ground-truth leg) is a FIXED-SIZE fixed_sample (~_ANN_AUDIT_QTARGET
    queries at any corpus size, modulus 1 at every test SF): the audit
    is O(target x n) end to end.

    Refinement note: one-step codebooks (means of the seed-Voronoi
    cells) rather than iterated k-means — the audit measures the
    PQ mechanics; extra Lloyd iterations only move the centroids,
    and the same report re-runs on any trained codebook. Measured at
    sf0.01: recall@10 = 0.16 — a 170x compression on a near-isotropic
    corpus keeps little neighborhood structure, which is exactly what
    this report exists to reveal BEFORE a corpus-scale ADC pass;
    clustered production embeddings and larger K move it sharply up,
    and the audit re-prices any (M, K).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", _to_double(F.col("embedding")).alias("arr"))
    sc = _pq_codes(v)
    with cached(sc, count=False) as sc:
        cents = mean_vectors(sc, ["m", "code"], "sub", "decimal(30,6)")
        dist = sc.join(F.broadcast(cents), ["m", "code"]).select(
            "m",
            "code",
            round4(sq_dist(F.col("sub"), F.col("centroid"))).alias("d2r"),
        )
        per_sub = dist.groupBy("m").agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.count_distinct("code").cast("long").alias("n_codes_used"),
            round4(
                F.sum(F.col("d2r").cast("decimal(20,4)")).cast("double")
                / F.count("*")
            ).alias("mse"),
        )
        qs = fixed_sample(
            v.filter(F.expr(_QUERY_PRED)), "vec_id", _ANN_AUDIT_QTARGET
        ).select(F.col("vec_id").alias("query_id"), F.col("arr").alias("qv"))
        t = _pq_lut(qs, cents)
        adist = (
            sc.select("vec_id", "m", "code")
            .join(t.hint("SHUFFLE_HASH"), ["m", "code"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", "vec_id")
            .agg(
                F.sum(F.col("d2q").cast("decimal(20,4)"))
                .cast("double")
                .alias("ad")
            )
        )
        wr = Window.partitionBy("query_id").orderBy(F.asc("ad"), F.asc("vec_id"))
        approx = (
            adist.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= 10)
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        )
        wx = Window.partitionBy("query_id").orderBy(F.asc("xd"), F.asc("vec_id"))
        ex = (
            v.crossJoin(F.broadcast(qs))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                sq_dist(F.col("qv"), F.col("arr")).alias("xd"),
            )
            .withColumn("rn", F.row_number().over(wx))
            .filter(F.col("rn") <= 10)
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        )
        with cached(ex, count=False) as ex:
            ne = ex.agg(F.count("*").alias("n_exact"))
            h = approx.join(ex, ["query_id", "neighbor_id"], "left_semi").agg(
                F.count("*").alias("n_hits")
            )
            out = (
                per_sub.crossJoin(F.broadcast(ne))
                .crossJoin(F.broadcast(h))
                .select(
                    "m",
                    "n_vectors",
                    "n_codes_used",
                    "mse",
                    F.col("n_exact").cast("long").alias("n_exact_pairs"),
                    round4(F.col("n_hits") * F.lit(1.0) / F.col("n_exact")).alias(
                        "recall_at_10"
                    ),
                )
                .orderBy("m")
                .localCheckpoint(eager=True)
            )
    return out


# --------------------------------------------------------------------------
# q284 — IVF-PQ top-k: probe IVF cells, rank by PQ asymmetric distance
# --------------------------------------------------------------------------
_IVFPQ_NPROBE = 2
_IVFPQ_K = 10

# q284's oracle reuses its IVF ``seeds`` CTE (LIMIT _IVF_CELLS) as the
# PQ codebook seed set, while the Spark side seeds the PQ codebook with
# ``.limit(_PQ_K)`` — sound only while the two constants coincide.
# Changing either one must split the oracle's seed CTEs (ADVICE r8).
assert _PQ_K == _IVF_CELLS, (
    "q284's oracle shares one seed CTE between IVF cells and PQ codes; "
    "give it a separate PQ-seed CTE (LIMIT _PQ_K) before diverging them"
)


@query(
    "q284_ivfpq_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    seeds AS (
      SELECT arr AS s_arr,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS s_idx
      FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_IVF_CELLS}),
    asg AS (
      SELECT vec_id, arr, s_idx AS cell FROM (
        SELECT v.vec_id, v.arr, s.s_idx,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.arr, s.s_arr) DESC,
                          s.s_idx) AS rn
        FROM v CROSS JOIN seeds s) t WHERE rn = 1),
    memb AS (SELECT cell, i - 1 AS dim_idx, arr[i] AS val
             FROM asg, unnest(generate_series(1, {_ANN_DIM})) t(i)),
    per_dim AS (
      SELECT cell, dim_idx,
             CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
      FROM memb GROUP BY cell, dim_idx),
    icents AS (SELECT cell, list(c ORDER BY dim_idx) AS centroid
               FROM per_dim GROUP BY cell),
    ms(m) AS (VALUES {", ".join(f"({m})" for m in range(_PQ_M))}),
    subs AS (
      SELECT vec_id, m,
             arr[m * {_PQ_SUBD} + 1 : m * {_PQ_SUBD} + {_PQ_SUBD}] AS sub
      FROM v CROSS JOIN ms),
    sseed AS (
      SELECT s_idx, m,
             s_arr[m * {_PQ_SUBD} + 1 : m * {_PQ_SUBD} + {_PQ_SUBD}] AS ssub
      FROM seeds CROSS JOIN ms),
    codes AS (
      SELECT vec_id, m, s_idx AS code FROM (
        SELECT su.vec_id, su.m, ss.s_idx,
               ROW_NUMBER() OVER (PARTITION BY su.vec_id, su.m
                 ORDER BY {_pq_d2_sql('su.sub', 'ss.ssub', _PQ_SUBD)} ASC,
                          ss.s_idx) AS rn
        FROM subs su JOIN sseed ss ON ss.m = su.m) t
      WHERE rn = 1),
    pmemb AS (
      SELECT c.m, c.code, i - 1 AS dim_idx, su.sub[i] AS val
      FROM codes c
      JOIN subs su ON su.vec_id = c.vec_id AND su.m = c.m,
      unnest(generate_series(1, {_PQ_SUBD})) t(i)),
    ppd AS (
      SELECT m, code, dim_idx,
             CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS cd
      FROM pmemb GROUP BY m, code, dim_idx),
    pcents AS (SELECT m, code, list(cd ORDER BY dim_idx) AS cent
               FROM ppd GROUP BY m, code),
    q0 AS (SELECT vec_id, arr FROM v WHERE {_QUERY_PRED}),
    {fixed_sample_ctes("q0", "vec_id", _ANN_AUDIT_QTARGET, "q")},
    probe AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {r4('list_cosine_similarity(q.arr, c.centroid)')}
                            DESC, c.cell) AS cr
        FROM q CROSS JOIN icents c) t WHERE cr <= {_IVFPQ_NPROBE}),
    qsubs AS (
      SELECT vec_id AS query_id, m,
             arr[m * {_PQ_SUBD} + 1 : m * {_PQ_SUBD} + {_PQ_SUBD}] AS qsub
      FROM q CROSS JOIN ms),
    lut AS (
      SELECT qs.query_id, ct.m, ct.code,
             {r4(_pq_d2_sql('qs.qsub', 'ct.cent', _PQ_SUBD))} AS d2q
      FROM qsubs qs JOIN pcents ct ON ct.m = qs.m),
    cand AS (
      SELECT p.query_id, c.vec_id, c.m, c.code
      FROM probe p
      JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
      JOIN codes c ON c.vec_id = a.vec_id),
    adist AS (
      SELECT cand.query_id, cand.vec_id,
             CAST(SUM(CAST(lut.d2q AS DECIMAL(20,4))) AS DOUBLE) AS ad
      FROM cand JOIN lut ON lut.query_id = cand.query_id
                        AND lut.m = cand.m AND lut.code = cand.code
      GROUP BY 1, 2)
    SELECT query_id, vec_id AS neighbor_id,
           CAST(rnk AS BIGINT) AS rank, ad AS adc_d2
    FROM (SELECT query_id, vec_id, ad,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY ad ASC, vec_id) AS rnk
          FROM adist) t
    WHERE rnk <= {_IVFPQ_K}
    ORDER BY query_id, rank
    """,
    tags=("extension", "similarity", "ann", "ivf", "pq"),
)
def q284_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ retrieval — the production ANN scale path that q264 and
    q272 calibrate separately, composed: queries probe the top-2 IVF
    cells by centroid cosine, and candidates inside the probed cells
    are ranked by PQ asymmetric distance (ADC: per-query lookup table
    of round4-quantized subspace distances, summed in DECIMAL(20,4)).
    This is the FAISS IVFADC layout re-expressed as joins: at corpus
    scale the index stores 1 cell id + 8 codes per vector (vs 64
    floats), the scan touches nprobe/n_cells of the corpus, and every
    distance is 8 lookup-table adds — the shape that serves
    billion-vector retrieval from RAM.

    Determinism (q264's and q272's rules): IVF seeds and PQ codebook
    seeds are the 8 ``ivf_seeds`` vectors; cell assignment argmaxes raw
    sequential-fold cosine (ties to lowest seed); PQ assignment argmins
    raw squared-L2 (ties to lowest code); centroids/codebook entries
    are exact DECIMAL(30,6) means (``mean_vectors``); probe ranking
    uses round4 cosines (ties to lowest cell, ``nearest_cells``); ADC
    distances are DECIMAL sums of round4 terms, ranked with vec_id
    tiebreak.

    Scale: cell+code assignment is MAP-ONLY (literal argmax/argmin
    compiled from driver-collected constant-size codebooks); the
    query set is a fixed_sample (~64 at any corpus size — modulus 1
    at every test SF); the probe and LUT frames are bounded
    (queries x nprobe, queries x 64) and broadcast; the candidate
    scan is O(|q| x n x nprobe / n_cells x M) narrow rows — the real
    ADC cost, linear in the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = (
        ivf_assign(emb, n_cells=_IVF_CELLS)
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            _to_double(F.col("embedding")).alias("arr"),
        )
    )
    with cached(assigned, count=False) as assigned:
        icents = mean_vectors(assigned, ["cell"], "arr", "decimal(30,6)")
        sc = _pq_codes(assigned)
        with cached(sc, count=False) as sc:
            pcents = mean_vectors(sc, ["m", "code"], "sub", "decimal(30,6)")
            qs = _query_norms(fixed_sample(
                emb.filter(F.expr(_QUERY_PRED)), "vec_id", _ANN_AUDIT_QTARGET
            ))
            probe = nearest_cells(qs, icents, _IVFPQ_NPROBE).select(
                "query_id", "cell"
            )
            lut = _pq_lut(qs, pcents)
            cand = (
                sc.select("vec_id", "cell", "m", "code")
                .join(F.broadcast(probe), "cell")
                .filter(F.col("vec_id") != F.col("query_id"))
            )
            adist = (
                cand.join(F.broadcast(lut), ["query_id", "m", "code"])
                .groupBy("query_id", "vec_id")
                .agg(
                    F.sum(F.col("d2q").cast("decimal(20,4)"))
                    .cast("double")
                    .alias("ad")
                )
            )
            wr = Window.partitionBy("query_id").orderBy(
                F.asc("ad"), F.asc("vec_id")
            )
            out = (
                adist.withColumn("rnk", F.row_number().over(wr))
                .filter(F.col("rnk") <= _IVFPQ_K)
                .select(
                    "query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("rnk").cast("long").alias("rank"),
                    F.col("ad").alias("adc_d2"),
                )
                .orderBy("query_id", "rank")
                .localCheckpoint(eager=True)
            )
    return out


# --------------------------------------------------------------------------
# q303 — ANN (IVF) index erasure audit (round 10; the lifecycle story
# extended beyond the dedup indexes)
# --------------------------------------------------------------------------
@query(
    "q303_ann_index_erasure",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    seeds AS (
      SELECT arr AS s_arr,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS s_idx
      FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_IVF_CELLS}),
    asg AS (
      SELECT vec_id, s_idx AS cell FROM (
        SELECT v.vec_id, s.s_idx,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.arr, s.s_arr) DESC,
                          s.s_idx) AS rn
        FROM v CROSS JOIN seeds s) t WHERE rn = 1)
    SELECT CAST(cell AS BIGINT) AS cell,
           COUNT(*) AS n_before,
           CAST(SUM(CASE WHEN vec_id % 9 = 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_erased,
           CAST(COUNT(*) - SUM(CASE WHEN vec_id % 9 = 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after
    FROM asg GROUP BY cell ORDER BY cell
    """,
    tags=("extension", "similarity", "ann", "ivf", "lifecycle",
          "erasure"),
)
def q303_ann_index_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-index ERASURE audit (round 10): the right-to-erasure
    lifecycle closed for the dedup indexes this round (q295/q299/q301)
    has the same gap on the SIMILARITY side — a deleted document's
    EMBEDDING stays in a stored IVF index forever: recoverable vector
    residue, and the deleted vector keeps surfacing as a retrieval
    candidate. This audit drives the identical cadence through a
    stored IVF index and proves ``operators/index_lifecycle`` is
    index-FAMILY-agnostic (anything keyed by the document id scrubs
    the same way):

    1. assign every embedding to its Voronoi cell (``ivf_assign``,
       q264's audited map-only argmax) and COMMIT both stores:
       the vector corpus (vec_id, embedding, label) and the inverted
       index (vec_id, cell) as VersionedTables;
    2. ``erase_documents(..., id_col='vec_id')`` — corpus delete_where
       (``vec_id % 9 = 4``) + same-cadence index scrub;
    3. publish per-cell inverted-list sizes BEFORE and AFTER from the
       committed snapshots (time travel), plus each cell's erased
       count.

    The oracle recomputes the Voronoi partition from scratch (q264's
    seeds/argmax CTEs verbatim) and derives the per-cell before/
    erased/after ledger from the erase predicate alone — equality
    proves the stored index held exactly the true inverted lists, the
    scrub removed exactly the erased vectors from every list (a
    failed scrub inflates n_after; an over-eager one deflates it),
    and no phantom vector remains in any current inverted list.

    Scale: assignment is map-only against an 8 x 64-float broadcast
    codebook; the scrub is one semi-join rewrite linear in index size
    (probed at 5M rows — SCALE_PROBE_r10.md); the audit itself is two
    groupBy(cell) passes over constant-version snapshots. At
    deployment the index table is additionally bucketed by cell, so
    the scrub rewrite prunes to touched buckets.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    with scratch_dir("q303") as base:
        corpus_path, index_path = f"{base}/vectors", f"{base}/ivf"
        assigned = ivf_assign(emb, n_cells=_IVF_CELLS)
        VersionedTable(corpus_path).commit(emb)
        VersionedTable(index_path).commit(
            assigned.select("vec_id", "cell"),
            meta={"n_cells": _IVF_CELLS},
        )
        erase_documents(
            spark, corpus_path, [index_path], "vec_id % 9 = 4",
            id_col="vec_id",
        )

        idx_t = VersionedTable(index_path)
        corpus_t = VersionedTable(corpus_path)
        before = (
            idx_t.read(spark, version=0)
            .groupBy("cell")
            .agg(F.count("*").alias("n_before"))
        )
        after = (
            idx_t.read(spark, version=1)
            .groupBy("cell")
            .agg(F.count("*").cast("long").alias("n_after"))
        )
        erased = (
            idx_t.read(spark, version=0)
            .join(
                corpus_t.read(spark, version=1).select("vec_id"),
                "vec_id",
                "left_anti",
            )
            .groupBy("cell")
            .agg(F.count("*").alias("n_erased"))
        )
        result = (
            before.join(erased, "cell", "left")
            .join(after, "cell", "left")
            .select(
                F.col("cell").cast("long").alias("cell"),
                "n_before",
                F.coalesce("n_erased", F.lit(0))
                .cast("long")
                .alias("n_erased"),
                F.coalesce("n_after", F.lit(0))
                .cast("long")
                .alias("n_after"),
            )
            .orderBy("cell")
        )
        return result.localCheckpoint(eager=True)


def _stored_recall(
    spark: SparkSession,
    index: VersionedTable,
    version: int,
    queries: DataFrame,
    vectors: DataFrame,
    exact: DataFrame,
    nprobe: int,
) -> tuple[float, int]:
    """(round4 recall@10, candidate count) of an ``nprobe`` search of
    ``queries`` THROUGH a stored IVF snapshot: cells ranked by
    ``version``'s manifest codebook (``nearest_cells``), candidates
    from its committed inverted lists joined to ``vectors``, scored
    against the ``exact`` (query_id, neighbor_id) top-10."""
    probed = nearest_cells(
        _query_norms(queries),
        stored_ivf_codebook(spark, index, version),
        nprobe,
    ).select("query_id", "cell", "qv", "qn")
    inv = index.read(spark, version=version).join(
        vectors.select("vec_id", _to_double(F.col("embedding")).alias("cv")),
        "vec_id",
    ).select(
        "cell",
        F.col("vec_id").alias("neighbor_id"),
        "cv",
        l2_norm(F.col("cv")).alias("cn"),
    )
    cand = (
        inv.join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
            ).alias("cs"),
        )
    )
    with cached(cand, count=False) as cand:
        n_cand = cand.count()
        wr = Window.partitionBy("query_id").orderBy(
            F.desc("cs"), F.asc("neighbor_id")
        )
        approx = (
            cand.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= 10)
            .select("query_id", "neighbor_id")
        )
        n_exact = exact.count()
        n_hits = approx.join(exact, ["query_id", "neighbor_id"]).count()
    return math.floor(n_hits / n_exact * 10000.0 + 0.5) / 10000.0, n_cand


def _census(frame: DataFrame, name: str) -> DataFrame:
    """(metric, k, value) rows: ``frame``'s row count per cell."""
    return frame.groupBy("cell").agg(
        F.count("*").cast("double").alias("value")
    ).select(
        F.lit(name).alias("metric"),
        F.col("cell").cast("long").alias("k"),
        "value",
    )


def _const_row(
    spark: SparkSession, metric: str, k: int, value: float
) -> DataFrame:
    """One (metric, k, value) row."""
    return spark.createDataFrame(
        [(metric, int(k), float(value))],
        "metric STRING, k LONG, value DOUBLE",
    )


# --------------------------------------------------------------------------
# q309 — IVF centroid-refresh migration + recall across the boundary
# (round 11, VERDICT r10 #3 — the similarity family's q296)
# --------------------------------------------------------------------------
def _q309_oracle() -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    seeds AS (
      SELECT arr AS s_arr,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS s_idx
      FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_IVF_CELLS}),
    asg0 AS (
      SELECT vec_id, arr, s_idx AS cell FROM (
        SELECT v.vec_id, v.arr, s.s_idx,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.arr, s.s_arr) DESC,
                          s.s_idx) AS rn
        FROM v CROSS JOIN seeds s) t WHERE rn = 1),
    surv AS (SELECT * FROM asg0 WHERE NOT (vec_id % 7 = 2)),
    memb AS (SELECT cell, i - 1 AS dim_idx, arr[i] AS val
             FROM surv, unnest(generate_series(1, {_ANN_DIM})) t(i)),
    per_dim AS (
      SELECT cell, dim_idx,
             CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
      FROM memb GROUP BY cell, dim_idx),
    cents AS (SELECT cell, list(c ORDER BY dim_idx) AS centroid
              FROM per_dim GROUP BY cell),
    reasg AS (
      SELECT vec_id, arr, cell FROM (
        SELECT s.vec_id, s.arr, c.cell,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY {r4('list_cosine_similarity(s.arr, c.centroid)')}
                            DESC, c.cell) AS rn
        FROM surv s CROSS JOIN cents c) t WHERE rn = 1),
    q0 AS (SELECT vec_id, arr FROM surv WHERE {_QUERY_PRED}),
    {fixed_sample_ctes("q0", "vec_id", _ANN_AUDIT_QTARGET, "q")},
    ex AS (
      SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(s.arr, q.arr) DESC,
                        s.vec_id) AS rn
      FROM q CROSS JOIN surv s WHERE s.vec_id <> q.vec_id),
    exact AS (SELECT query_id, neighbor_id FROM ex WHERE rn <= 10),
    qc AS (
      SELECT q.vec_id AS query_id, q.arr, c.cell,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY {r4('list_cosine_similarity(q.arr, c.centroid)')}
                          DESC, c.cell) AS cell_rank
      FROM q CROSS JOIN cents c),
    cand AS (
      SELECT qc.query_id, r.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY qc.query_id
               ORDER BY list_cosine_similarity(r.arr, qc.arr) DESC,
                        r.vec_id) AS rn
      FROM qc
      JOIN reasg r ON r.cell = qc.cell AND r.vec_id <> qc.query_id
      WHERE qc.cell_rank <= 2),
    approx AS (SELECT query_id, neighbor_id FROM cand WHERE rn <= 10),
    hits AS (
      SELECT COUNT(*) AS c FROM approx ap JOIN exact e
        ON e.query_id = ap.query_id AND e.neighbor_id = ap.neighbor_id),
    census AS (
      SELECT 'census_initial' AS metric, CAST(cell AS BIGINT) AS k,
             CAST(COUNT(*) AS DOUBLE) AS value
      FROM asg0 GROUP BY cell
      UNION ALL
      SELECT 'census_after_scrub', CAST(cell AS BIGINT),
             CAST(COUNT(*) AS DOUBLE)
      FROM surv GROUP BY cell
      UNION ALL
      SELECT 'census_after_migration', CAST(cell AS BIGINT),
             CAST(COUNT(*) AS DOUBLE)
      FROM reasg GROUP BY cell
      UNION ALL
      SELECT 'n_reassigned_total', -1,
             CAST((SELECT COUNT(*) FROM surv s JOIN reasg r
                   ON r.vec_id = s.vec_id AND r.cell <> s.cell)
                  AS DOUBLE)
      UNION ALL
      SELECT 'n_exact_pairs', -1,
             CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)
      UNION ALL
      SELECT 'recall_nprobe2', 2,
             {r4('(SELECT c FROM hits) * 1.0 /'
                 ' (SELECT COUNT(*) FROM exact)')})
    SELECT metric, k, value FROM census ORDER BY metric, k
    """


@query(
    "q309_ivf_centroid_migration",
    oracle=_q309_oracle(),
    tags=("extension", "similarity", "ann", "ivf", "lifecycle",
          "migration"),
)
def q309_ivf_centroid_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF CENTROID-REFRESH migration: q303 gives the similarity index
    erasure; this completes its lifecycle the way q296 completes
    SimHash's. After a heavy erasure the 8 stored Voronoi seeds are
    stale — inverted lists skew and probe recall drifts.
    ``operators/index_lifecycle.migrate_ivf_index`` retrains the
    codebook from the SURVIVING vectors (exact DECIMAL(30,6) per-cell
    means — one Lloyd step), re-assigns map-only against the broadcast
    codebook (round4-quantized cosine argmax), and commits rows +
    codebook in ONE overwrite snapshot (the codebook lands in the
    manifest's ``ivf_centroids`` property, so a prober reads it in one
    JSON fetch).

    The replay: commit vector corpus + IVF index, erase every vector
    with ``vec_id % 7 = 2`` (erase_documents — the scrub prunes the
    index first, so the migration provably never trains on phantoms),
    migrate, then publish (a) the per-cell census at all three
    versions (time travel), (b) how many vectors changed cells, and
    (c) **recall@10 at nprobe=2 measured THROUGH the migrated stored
    index** — cells ranked by the manifest codebook, candidates from
    the committed inverted lists — against exact cosine ground truth
    over the surviving corpus (q264's fixed-sample discipline). The
    oracle recomputes the full pipeline from first principles: seeds,
    original assignment, survivor means, re-assignment, and the probe.

    Scale: centroid retrain is one (cell, dim) groupBy; re-assignment
    is map-only; the recall leg is O(queries x corpus) on a fixed
    64-query sample. Probed at 10x in tools/lifecycle_probe.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    with scratch_dir("q309") as base:
        corpus_path, index_path = f"{base}/vectors", f"{base}/ivf"
        assigned = ivf_assign(emb, n_cells=_IVF_CELLS)
        VersionedTable(corpus_path).commit(emb)
        idx_t = VersionedTable(index_path)
        idx_t.commit(
            assigned.select("vec_id", "cell"),
            meta={"n_cells": _IVF_CELLS},
        )
        erase_documents(
            spark, corpus_path, [index_path], "vec_id % 7 = 2",
            id_col="vec_id",
        )
        migrate_ivf_index(spark, index_path, corpus_path)

        surv_vecs = VersionedTable(corpus_path).read(spark)
        idx0, idx1, idx2 = (idx_t.read(spark, version=v) for v in range(3))
        moved = (
            idx1.select("vec_id", F.col("cell").alias("old_cell"))
            .join(idx2.select("vec_id", F.col("cell").alias("new_cell")),
                  "vec_id")
            .filter(F.col("old_cell") != F.col("new_cell"))
        )
        queries = fixed_sample(
            surv_vecs.filter(F.expr(_QUERY_PRED)), "vec_id",
            _ANN_AUDIT_QTARGET,
        )
        exact = (
            cosine_topk(surv_vecs, queries, k=10)
            .select("query_id", "neighbor_id")
        )
        with cached(exact, count=False) as exact:
            recall, _ = _stored_recall(
                spark, idx_t, 2, queries, surv_vecs, exact, 2
            )
            rows = [
                _census(idx0, "census_initial"),
                _census(idx1, "census_after_scrub"),
                _census(idx2, "census_after_migration"),
                _const_row(spark, "n_reassigned_total", -1, moved.count()),
                _const_row(spark, "n_exact_pairs", -1, exact.count()),
                _const_row(spark, "recall_nprobe2", 2, recall),
            ]
            result = reduce(DataFrame.unionByName, rows).orderBy("metric", "k")
            result = result.localCheckpoint(eager=True)
        return result


# --------------------------------------------------------------------------
# q316 — IVF cell SPLIT: codebook width recovery after erasure (round 12,
# VERDICT r11 #4)
# --------------------------------------------------------------------------
def _q316_oracle() -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS arr FROM embeddings),
    seeds AS (
      SELECT arr AS s_arr,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS s_idx
      FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_IVF_CELLS}),
    asg0 AS (
      SELECT vec_id, arr, s_idx AS cell FROM (
        SELECT v.vec_id, v.arr, s.s_idx,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.arr, s.s_arr) DESC,
                          s.s_idx) AS rn
        FROM v CROSS JOIN seeds s) t WHERE rn = 1),
    surv AS (
      SELECT * FROM asg0
      WHERE NOT (cell >= {_IVF_CELLS // 2} OR vec_id % 10 != 0)),
    md1 AS (SELECT cell, i - 1 AS dim_idx, arr[i] AS val
            FROM surv, unnest(generate_series(1, {_ANN_DIM})) t(i)),
    pd1 AS (
      SELECT cell, dim_idx,
             CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS c
      FROM md1 GROUP BY cell, dim_idx),
    cents1 AS (SELECT cell, list(c ORDER BY dim_idx) AS centroid
               FROM pd1 GROUP BY cell),
    reasg1 AS (
      SELECT vec_id, arr, cell FROM (
        SELECT s.vec_id, s.arr, c.cell,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY {r4('list_cosine_similarity(s.arr, c.centroid)')}
                            DESC, c.cell) AS rn
        FROM surv s CROSS JOIN cents1 c) t WHERE rn = 1),
    md2 AS (SELECT cell, vec_id, arr[i] AS val, i - 1 AS dim_idx
            FROM reasg1, unnest(generate_series(1, {_ANN_DIM})) t(i)),
    pd2 AS (
      SELECT cell, dim_idx,
             CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS c
      FROM md2 GROUP BY cell, dim_idx),
    cents2 AS (SELECT cell, list(c ORDER BY dim_idx) AS centroid
               FROM pd2 GROUP BY cell),
    far AS (
      SELECT cell, arr AS seed FROM (
        SELECT r.cell, r.arr, r.vec_id,
               ROW_NUMBER() OVER (PARTITION BY r.cell
                 ORDER BY {r4('list_cosine_similarity(r.arr, c.centroid)')}
                            ASC, r.vec_id) AS rn
        FROM reasg1 r JOIN cents2 c USING (cell)) t WHERE rn = 1),
    sizes AS (SELECT cell, COUNT(*) AS sz FROM reasg1 GROUP BY cell),
    nsurv AS (SELECT COUNT(*) AS nc, MAX(cell) AS mx FROM cents2),
    splits AS (
      SELECT f.cell AS parent, f.seed,
             nsurv.mx + ROW_NUMBER() OVER (ORDER BY s.sz DESC,
                                           f.cell ASC) AS new_cell
      FROM far f JOIN sizes s USING (cell) CROSS JOIN nsurv
      QUALIFY ROW_NUMBER() OVER (ORDER BY s.sz DESC, f.cell ASC)
                <= {_IVF_CELLS} - nsurv.nc),
    book2 AS (
      SELECT cell, centroid FROM cents2
      UNION ALL SELECT new_cell AS cell, seed AS centroid FROM splits),
    reasg2 AS (
      SELECT vec_id, arr, cell FROM (
        SELECT s.vec_id, s.arr, b.cell,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY {r4('list_cosine_similarity(s.arr, b.centroid)')}
                            DESC, b.cell) AS rn
        FROM surv s CROSS JOIN book2 b) t WHERE rn = 1),
    {fixed_sample_ctes("surv", "vec_id", _ANN_AUDIT_QTARGET, "q")},
    exf AS (
      SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(s.arr, q.arr) DESC,
                        s.vec_id) AS rn
      FROM q CROSS JOIN asg0 s WHERE s.vec_id <> q.vec_id),
    exact_pre AS (SELECT query_id, neighbor_id FROM exf WHERE rn <= 10),
    exs AS (
      SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(s.arr, q.arr) DESC,
                        s.vec_id) AS rn
      FROM q CROSS JOIN surv s WHERE s.vec_id <> q.vec_id),
    exact_post AS (SELECT query_id, neighbor_id FROM exs WHERE rn <= 10),
    qc_pre AS (
      SELECT q.vec_id AS query_id, q.arr, s.s_idx AS cell,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY {r4('list_cosine_similarity(q.arr, s.s_arr)')}
                          DESC, s.s_idx) AS cr
      FROM q CROSS JOIN seeds s),
    cand_pre AS (
      SELECT qc.query_id, r.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY qc.query_id
               ORDER BY list_cosine_similarity(r.arr, qc.arr) DESC,
                        r.vec_id) AS rn
      FROM qc_pre qc
      JOIN asg0 r ON r.cell = qc.cell AND r.vec_id <> qc.query_id
      WHERE qc.cr <= 2),
    ap_pre AS (SELECT query_id, neighbor_id FROM cand_pre WHERE rn <= 10),
    qc_s AS (
      SELECT q.vec_id AS query_id, q.arr, c.cell,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY {r4('list_cosine_similarity(q.arr, c.centroid)')}
                          DESC, c.cell) AS cr
      FROM q CROSS JOIN cents1 c),
    cand_s AS (
      SELECT qc.query_id, r.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY qc.query_id
               ORDER BY list_cosine_similarity(r.arr, qc.arr) DESC,
                        r.vec_id) AS rn
      FROM qc_s qc
      JOIN reasg1 r ON r.cell = qc.cell AND r.vec_id <> qc.query_id
      WHERE qc.cr <= 1),
    ap_s AS (SELECT query_id, neighbor_id FROM cand_s WHERE rn <= 10),
    qc_r AS (
      SELECT q.vec_id AS query_id, q.arr, b.cell,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY {r4('list_cosine_similarity(q.arr, b.centroid)')}
                          DESC, b.cell) AS cr
      FROM q CROSS JOIN book2 b),
    cand_r AS (
      SELECT qc.query_id, r.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY qc.query_id
               ORDER BY list_cosine_similarity(r.arr, qc.arr) DESC,
                        r.vec_id) AS rn
      FROM qc_r qc
      JOIN reasg2 r ON r.cell = qc.cell AND r.vec_id <> qc.query_id
      WHERE qc.cr <= 2),
    ap_r AS (SELECT query_id, neighbor_id FROM cand_r WHERE rn <= 10),
    m(metric, k, value) AS (
      SELECT 'census_initial', CAST(cell AS BIGINT),
             CAST(COUNT(*) AS DOUBLE) FROM asg0 GROUP BY cell
      UNION ALL
      SELECT 'census_after_scrub', CAST(cell AS BIGINT),
             CAST(COUNT(*) AS DOUBLE) FROM surv GROUP BY cell
      UNION ALL
      SELECT 'census_shrunk', CAST(cell AS BIGINT),
             CAST(COUNT(*) AS DOUBLE) FROM reasg1 GROUP BY cell
      UNION ALL
      SELECT 'census_restored', CAST(cell AS BIGINT),
             CAST(COUNT(*) AS DOUBLE) FROM reasg2 GROUP BY cell
      UNION ALL SELECT 'n_cells_shrunk', -1,
             CAST((SELECT nc FROM nsurv) AS DOUBLE)
      UNION ALL SELECT 'n_cells_restored', -1,
             CAST((SELECT COUNT(*) FROM book2) AS DOUBLE)
      UNION ALL SELECT 'n_split_seeds', -1,
             CAST((SELECT COUNT(*) FROM splits) AS DOUBLE)
      UNION ALL SELECT 'n_exact_pairs', -1,
             CAST((SELECT COUNT(*) FROM exact_post) AS DOUBLE)
      UNION ALL SELECT 'n_candidates_shrunk_budget', 1,
             CAST((SELECT COUNT(*) FROM cand_s) AS DOUBLE)
      UNION ALL SELECT 'n_candidates_restored', 2,
             CAST((SELECT COUNT(*) FROM cand_r) AS DOUBLE)
      UNION ALL SELECT 'recall_nprobe2_pre', 2,
        {r4('(SELECT COUNT(*) FROM ap_pre a JOIN exact_pre e'
            ' ON e.query_id = a.query_id'
            ' AND e.neighbor_id = a.neighbor_id) * 1.0 /'
            ' (SELECT COUNT(*) FROM exact_pre)')}
      UNION ALL SELECT 'recall_nprobe1_shrunk', 1,
        {r4('(SELECT COUNT(*) FROM ap_s a JOIN exact_post e'
            ' ON e.query_id = a.query_id'
            ' AND e.neighbor_id = a.neighbor_id) * 1.0 /'
            ' (SELECT COUNT(*) FROM exact_post)')}
      UNION ALL SELECT 'recall_nprobe2_restored', 2,
        {r4('(SELECT COUNT(*) FROM ap_r a JOIN exact_post e'
            ' ON e.query_id = a.query_id'
            ' AND e.neighbor_id = a.neighbor_id) * 1.0 /'
            ' (SELECT COUNT(*) FROM exact_post)')})
    SELECT metric, k, value FROM m ORDER BY metric, k
    """


@query(
    "q316_ivf_cell_split_recovery",
    oracle=_q316_oracle(),
    tags=("extension", "similarity", "ann", "ivf", "lifecycle",
          "migration", "split"),
)
def q316_ivf_cell_split_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF codebook WIDTH recovery via cell splits: a
    ``migrate_ivf_index`` that only drops emptied cells monotonically
    shrinks n_cells under repeated erasure+migration — and a shrunken
    codebook's "recall" is a mirage: nprobe=2 of 4 cells scans HALF the
    corpus per query (the cost regression is the real decay).
    ``target_cells`` adds the deterministic split (largest cell
    contributes its member farthest from the retrained centroid —
    bisecting-k-means seeding, round4 cosine, id tie-breaks). The
    replay:

    1. corpus committed WITH its cell assignment (the bucketed-by-cell
       deployment layout); initial 8-cell index committed with the
       seed codebook pinned in the manifest;
    2. an erasure that provably EMPTIES half the cells (every member
       of cells 4-7 plus 90% of the rest) — scrub prunes first;
    3. plain migration: the Lloyd step retrains only the 4 surviving
       cells (asserted) — the monotone-shrink state;
    4. split migration with ``target_cells=8``: width restored
       (asserted), new centroids = farthest members of the largest
       survivors, ONE commit, codebook pinned;
    5. recall@10 measured THROUGH each stored snapshot (codebook from
       the version's manifest, candidates from its committed rows)
       against exact ground truth, with the probes BUDGET-MATCHED:
       the shrunk index probes nprobe=1 (1/4 = 25% of the corpus),
       the restored index nprobe=2 (2/8 = 25%) — the restored
       codebook must win at equal scan fraction (asserted; measured
       +8 to +12 recall points at all three SFs) while the candidate
       counts stay comparable (published).

    The oracle recomputes the entire chain from first principles:
    seeds, assignment, erasure, BOTH Lloyd steps, size-ranked farthest
    -member splits, both re-assignments, and all three probes.

    Scale: both migrations are one (cell, dim) groupBy + map-only
    reassign; the split adds one windowed farthest-member pass and a
    <=n_cells-row driver collect (codebook-sized metadata). The probe
    legs are O(queries x corpus) on the fixed 64-query sample.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    with scratch_dir("q316") as base:
        corpus_path, index_path = f"{base}/vectors", f"{base}/ivf"
        assigned = ivf_assign(emb, n_cells=_IVF_CELLS)
        seeds = ivf_seeds(emb, _IVF_CELLS, "embedding")
        VersionedTable(corpus_path).commit(assigned)
        idx_t = VersionedTable(index_path)
        idx_t.commit(
            assigned.select("vec_id", "cell"),
            meta=ivf_layout(dict(enumerate(seeds))),
        )
        erase_documents(
            spark, corpus_path, [index_path],
            f"cell >= {_IVF_CELLS // 2} OR vec_id % 10 != 0",
            id_col="vec_id",
        )
        n_surviving_cells = (
            idx_t.read(spark).select("cell").distinct().count()
        )
        assert n_surviving_cells == _IVF_CELLS // 2, n_surviving_cells

        migrate_ivf_index(spark, index_path, corpus_path)  # v2: shrunk
        n_shrunk = int(idx_t.manifest()["meta"]["n_cells"])
        migrate_ivf_index(
            spark, index_path, corpus_path, target_cells=_IVF_CELLS
        )  # v3: restored
        meta3 = idx_t.manifest()["meta"]
        assert int(meta3["n_cells"]) == _IVF_CELLS

        corpus_t = VersionedTable(corpus_path)
        full = corpus_t.read(spark, version=0).select("vec_id", "embedding")
        surv = corpus_t.read(spark).select("vec_id", "embedding")
        queries = fixed_sample(surv, "vec_id", _ANN_AUDIT_QTARGET)
        exact_pre = cosine_topk(full, queries, k=10).select(
            "query_id", "neighbor_id"
        )
        exact_post = cosine_topk(surv, queries, k=10).select(
            "query_id", "neighbor_id"
        )
        with (
            cached(exact_pre, count=False) as exact_pre,
            cached(exact_post, count=False) as exact_post,
        ):
            # The three stored-snapshot probes are independent eager
            # read-only sweeps against already-committed snapshots.
            (
                (recall_pre, _),
                (recall_shrunk, cand_s),
                (recall_restored, cand_r),
            ) = overlap(
                lambda: _stored_recall(
                    spark, idx_t, 0, queries, full, exact_pre, 2
                ),
                lambda: _stored_recall(
                    spark, idx_t, 2, queries, surv, exact_post, 1
                ),
                lambda: _stored_recall(
                    spark, idx_t, 3, queries, surv, exact_post, 2
                ),
            )
            # the codebook-width claim: at EQUAL scan budget (1/4 vs 2/8
            # of the cells) the restored index must beat the shrunken one
            assert recall_restored >= recall_shrunk, (
                recall_restored, recall_shrunk,
            )
            censuses = (
                "census_initial",
                "census_after_scrub",
                "census_shrunk",
                "census_restored",
            )
            rows = [
                _census(idx_t.read(spark, version=v), name)
                for v, name in enumerate(censuses)
            ] + [
                _const_row(spark, "n_cells_shrunk", -1, n_shrunk),
                _const_row(spark, "n_cells_restored", -1, int(meta3["n_cells"])),
                _const_row(spark, "n_split_seeds", -1, _IVF_CELLS - n_shrunk),
                _const_row(spark, "n_exact_pairs", -1, exact_post.count()),
                _const_row(spark, "n_candidates_shrunk_budget", 1, cand_s),
                _const_row(spark, "n_candidates_restored", 2, cand_r),
                _const_row(spark, "recall_nprobe2_pre", 2, recall_pre),
                _const_row(spark, "recall_nprobe1_shrunk", 1, recall_shrunk),
                _const_row(spark, "recall_nprobe2_restored", 2, recall_restored),
            ]
        result = reduce(DataFrame.unionByName, rows).orderBy("metric", "k")
        return result.localCheckpoint(eager=True)
