"""Probabilistic-sketch queries over ``documents``: KMV (bottom-k)
distinct counting (q251), a Count-Min frequency sketch with a
heavy-hitter audit (q252), a Bloom-filter membership gate with a
measured false-positive rate (q253), and KMV set-operation estimates
for cross-source overlap (q254).

Sketches are how a 100 TB engine answers "how many distinct / how
often / have we seen this" without shuffling the universe: the sketch
state is tiny (k hashes, d*w counters, m bits), mergeable, and
map-side-combinable, so the exchange carries kilobytes where the exact
answer would carry the keyspace. Each query here builds the sketch AND
the exact answer side by side, so the estimate's error is measured,
not assumed — the calibration discipline q121/q132/q248 apply to LSH
and ANN, extended to the cardinality/frequency/membership sketches.

Engine-native approximations (``approx_count_distinct``'s HLL++,
DuckDB's ``approx_distinct``) are deliberately NOT used in the
oracle-compared columns: their estimates are implementation-defined
and differ across engines. These sketches are built from the same
md5-derived hashes on both sides (the q19 MinHash discipline,
``operators/dedup.py``), so every estimate is bit-reproducible.

Reference scope note: the reference (pradeepsoftdev04/movie-data-pipeline)
has no sketch surface — these queries are part of the LLM-pipeline
extension mandated by the build brief, following the same oracle
discipline as the §2 parity queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_data_pipeline_spark.functions.text import tokens
from movie_data_pipeline_spark.operators.dedup import doc_shingles
from movie_data_pipeline_spark.operators.util import array_pairs, spread
from movie_data_pipeline_spark.plans.core import query, r4, round4
from movie_data_pipeline_spark.sources.registry import load_table

_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"

# 48-bit md5-prefix hash: fits a double exactly (48 < 53 mantissa
# bits), so u = h / 2**48 is the same IEEE value on both engines.
H48_SPACE = float(1 << 48)


def h48(col):
    """Deterministic 48-bit hash as BIGINT, identical across engines."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def _h48_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 12)) AS BIGINT)"


# Per-source DISTINCT word-3-gram shingles (the q249 shingle geometry:
# docs shorter than 3 words contribute one whole-doc shingle).
_SRC_SHINGLES_CTE = f"""
  toks AS (SELECT source, {_TOKS_SQL} AS t FROM documents),
  shingles AS (
    SELECT DISTINCT source, sh FROM (
      SELECT source,
             CASE WHEN len(t) >= 3
               THEN unnest(list_transform(generate_series(1, len(t) - 2),
                                          i -> array_to_string(t[i:i+2], ' ')))
               ELSE array_to_string(t, ' ')
             END AS sh
      FROM toks))
"""

KMV_K = 64  # bottom-k size for q251/q254
# (k-1) * 2**48 pre-folded to one double literal: 63 needs 6 mantissa
# bits so the product is exactly representable, and a single literal
# sidesteps DuckDB's DECIMAL literal-multiplication overflow.
KMV_NUM = float((KMV_K - 1) * (1 << 48))

CM_ROWS = 4  # Count-Min depth (independent hash rows)
CM_WIDTH = 512  # Count-Min width (buckets per row)
CM_TOP = 20  # audited heavy-hitter candidates

BLOOM_M = 16384  # Bloom bits
BLOOM_K = 3  # Bloom hash functions
# Insert set = the lexicographically-smallest source's shingles, derived
# from the data (ADVICE r5: a hard-coded name degenerates silently to an
# all-probe zero-FP report if the generator ever renames its sources).
BLOOM_SRC_SQL = "(SELECT MIN(source) FROM documents)"


def _src_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return doc_shingles(docs, id_col="source").distinct()


# --------------------------------------------------------------------------
# q251 — KMV (bottom-k) distinct-count sketch vs exact, per source
# --------------------------------------------------------------------------
@query(
    "q251_kmv_distinct_audit",
    oracle=f"""
    WITH {_SRC_SHINGLES_CTE},
    hashed AS (
      SELECT source, sh, {_h48_sql('sh')} AS h FROM shingles),
    stats AS (
      SELECT source, COUNT(DISTINCT sh) AS n_sh, COUNT(DISTINCT h) AS n_h
      FROM hashed GROUP BY source),
    ranked AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM (SELECT DISTINCT source, h FROM hashed)),
    kth AS (SELECT source, h AS h_k FROM ranked WHERE rn = {KMV_K}),
    est AS (
      SELECT s.source, s.n_sh,
             {r4(f'CASE WHEN s.n_h >= {KMV_K} '
                 f'THEN {KMV_NUM!r} / k.h_k '
                 'ELSE CAST(s.n_h AS DOUBLE) END')} AS kmv_est
      FROM stats s LEFT JOIN kth k USING (source))
    SELECT source,
           CAST(n_sh AS BIGINT) AS exact_distinct,
           kmv_est,
           {r4('(kmv_est - n_sh) / n_sh')} AS rel_err
    FROM est
    ORDER BY source
    """,
    tags=("extension", "sketch", "cardinality"),
)
def q251_kmv_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct-count sketch per source over word-3-gram
    shingles, with the exact count and the sketch's relative error next
    to it. Estimator: (k-1) / u_k where u_k is the k-th smallest
    normalized hash — the classic KMV estimate; sources holding fewer
    than k distinct hashes fall back to the (exact) hash count the
    sketch retains.

    Why md5 and not ``approx_count_distinct``: the audit needs the SAME
    estimate on both engines, and HLL++ is implementation-defined.
    48 hash bits keep u = h/2^48 exactly representable in a double, so
    the estimate is bit-reproducible (the q19 MinHash discipline).

    Shape/scale: the per-source state is k=64 longs — mergeable by
    "union then keep smallest k", which is exactly what the window
    row_number computes declaratively here; at 100 TB the same sketch
    folds associatively per partition before one k-row-per-source
    exchange (no distinct-universe shuffle), which is how this pairs
    with the incremental dedup index (``operators/dedup.band_signatures``)
    for continuous cardinality monitoring. The exact side (one
    COUNT DISTINCT) is the audit baseline the estimate is graded
    against, as q132 does for ANN recall.
    """
    sh = _src_shingles(spark, sf_dir)
    hashed = sh.select(
        "source", "shingle", h48(F.col("shingle")).alias("h")
    )
    stats = hashed.groupBy("source").agg(
        F.countDistinct("shingle").alias("n_sh"),
        F.countDistinct("h").alias("n_h"),
    )
    dh = hashed.select("source", "h").distinct()
    rn = F.row_number().over(Window.partitionBy("source").orderBy("h"))
    kth = (
        dh.withColumn("rn", rn)
        .filter(F.col("rn") == KMV_K)
        .select("source", F.col("h").alias("h_k"))
    )
    est = stats.join(kth, "source", "left").select(
        "source",
        F.col("n_sh").cast("long").alias("exact_distinct"),
        round4(
            F.when(
                F.col("n_h") >= KMV_K,
                F.lit(KMV_NUM) / F.col("h_k"),
            ).otherwise(F.col("n_h").cast("double"))
        ).alias("kmv_est"),
    )
    return est.select(
        "source",
        "exact_distinct",
        "kmv_est",
        round4(
            (F.col("kmv_est") - F.col("exact_distinct"))
            / F.col("exact_distinct")
        ).alias("rel_err"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# q252 — Count-Min sketch heavy-hitter audit
# --------------------------------------------------------------------------
@query(
    "q252_countmin_heavy_hitters",
    oracle=f"""
    WITH occ AS (
      SELECT unnest({_TOKS_SQL}) AS token FROM documents),
    truec AS (
      SELECT token, COUNT(*) AS true_cnt FROM occ GROUP BY token),
    cand AS (
      SELECT token, true_cnt FROM truec
      ORDER BY true_cnt DESC, token LIMIT {CM_TOP}),
    hrows(i) AS (VALUES (0), (1), (2), (3)),
    sk AS (
      SELECT i,
             {_h48_sql("CAST(i AS VARCHAR) || ':' || token")} % {CM_WIDTH}
               AS bucket,
             COUNT(*) AS c
      FROM occ CROSS JOIN hrows GROUP BY 1, 2),
    cb AS (
      SELECT c.token, c.true_cnt, r.i,
             {_h48_sql("CAST(r.i AS VARCHAR) || ':' || c.token")} % {CM_WIDTH}
               AS bucket
      FROM cand c CROSS JOIN hrows r),
    est AS (
      SELECT cb.token, cb.true_cnt, MIN(sk.c) AS cm_est
      FROM cb JOIN sk ON sk.i = cb.i AND sk.bucket = cb.bucket
      GROUP BY cb.token, cb.true_cnt)
    SELECT token,
           CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(cm_est AS BIGINT) AS cm_est,
           CAST(cm_est - true_cnt AS BIGINT) AS overcount
    FROM est
    ORDER BY true_cnt DESC, token
    """,
    tags=("extension", "sketch", "frequency"),
)
def q252_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 rows x w=512 buckets) over the token
    occurrence stream, audited on the true top-20 heavy hitters: the
    sketch's point estimate (min over rows of the hashed bucket's
    count) next to the exact count. CM never under-counts, so
    ``overcount`` is the collision inflation — the quantity that decides
    whether w is wide enough for the downstream use (frequency-based
    vocabulary pruning, q89's top-K gate, stop-shingle calibration
    q239).

    Shape/scale: the sketch build is a 4x narrow map (one md5 per row
    id) into a GROUP BY with at most d*w = 2048 groups — map-side
    combine collapses every partition to <=2048 rows before the
    exchange, so the shuffle is O(partitions * d * w) regardless of
    corpus size; that is the whole point of CM at 100 TB. The audit
    side (exact counts) exists to grade the sketch; in production the
    candidate set comes from the sketch itself or an external
    watchlist, not from an exact pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    occ = spread(docs).select(F.explode(tokens(F.col("text"))).alias("token"))
    truec = occ.groupBy("token").agg(F.count("*").alias("true_cnt"))
    cand = truec.orderBy(F.desc("true_cnt"), "token").limit(CM_TOP)

    def bucket(i_col, tok_col):
        return F.pmod(
            h48(F.concat(i_col.cast("string"), F.lit(":"), tok_col)),
            F.lit(CM_WIDTH),
        )

    occ4 = occ.select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(CM_ROWS - 1))).alias("i"),
    )
    sk = (
        occ4.select("i", bucket(F.col("i"), F.col("token")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("c"))
    )
    cb = cand.select(
        "token",
        "true_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(CM_ROWS - 1))).alias("i"),
    ).select(
        "token",
        "true_cnt",
        "i",
        bucket(F.col("i"), F.col("token")).alias("bucket"),
    )
    est = (
        cb.join(sk, ["i", "bucket"])
        .groupBy("token", "true_cnt")
        .agg(F.min("c").alias("cm_est"))
    )
    return est.select(
        "token",
        F.col("true_cnt").cast("long").alias("true_cnt"),
        F.col("cm_est").cast("long").alias("cm_est"),
        (F.col("cm_est") - F.col("true_cnt")).cast("long").alias("overcount"),
    ).orderBy(F.desc("true_cnt"), "token")


# --------------------------------------------------------------------------
# q253 — Bloom-filter membership gate with measured FPR
# --------------------------------------------------------------------------
@query(
    "q253_bloom_fpr_audit",
    oracle=f"""
    WITH {_SRC_SHINGLES_CTE},
    ins AS (SELECT sh FROM shingles WHERE source = {BLOOM_SRC_SQL}),
    hrows(i) AS (VALUES (0), (1), (2)),
    bits AS (
      SELECT DISTINCT
             {_h48_sql("CAST(i AS VARCHAR) || ':' || sh")} % {BLOOM_M} AS bit
      FROM ins CROSS JOIN hrows),
    probes AS (
      SELECT s.source, s.sh FROM shingles s
      WHERE s.source <> {BLOOM_SRC_SQL}
        AND NOT EXISTS (SELECT 1 FROM ins i WHERE i.sh = s.sh)),
    pb AS (
      SELECT p.source, p.sh, r.i,
             {_h48_sql("CAST(r.i AS VARCHAR) || ':' || p.sh")} % {BLOOM_M}
               AS bit
      FROM probes p CROSS JOIN hrows r),
    scored AS (
      SELECT pb.source, pb.sh,
             SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS nhit
      FROM pb LEFT JOIN bits b USING (bit)
      GROUP BY pb.source, pb.sh),
    fp AS (
      SELECT source, COUNT(*) AS n_probes,
             SUM(CASE WHEN nhit = {BLOOM_K} THEN 1 ELSE 0 END) AS n_fp
      FROM scored GROUP BY source),
    meta AS (
      SELECT (SELECT COUNT(*) FROM bits) AS bits_set,
             (SELECT COUNT(*) FROM ins) AS n_inserted)
    SELECT f.source,
           CAST(m.n_inserted AS BIGINT) AS n_inserted,
           CAST(m.bits_set AS BIGINT) AS bits_set,
           {r4(f'm.bits_set * 1.0 / {BLOOM_M}')} AS fill_ratio,
           CAST(f.n_probes AS BIGINT) AS n_probes,
           CAST(f.n_fp AS BIGINT) AS n_false_pos,
           {r4('f.n_fp * 1.0 / f.n_probes')} AS fpr
    FROM fp f CROSS JOIN meta m
    ORDER BY f.source
    """,
    tags=("extension", "sketch", "membership"),
)
def q253_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (m=16384 bits, k=3 md5-derived hash functions) built
    from one source's distinct shingles, probed with every OTHER
    source's shingles that are true negatives (anti-joined on the raw
    shingle), reporting the measured false-positive rate per probing
    source plus the filter's fill ratio. This is the membership gate a
    crawl frontier or ingest dedup path consults before paying for the
    exact check (q126's incremental index): the measured FPR prices the
    wasted exact lookups.

    Shape/scale: the filter is a DISTINCT over k*n hashed bits — at
    most m=16384 rows, broadcast to the probe side (the executed plan
    joins probes against a broadcast bit set; nothing corpus-sized
    shuffles). A probe is positive iff all k of its bit positions are
    set, computed as a 3-row-per-probe left join + count — the
    declarative form of "AND over k bit tests". The exact-membership
    anti-join exists only to restrict probes to true negatives so the
    FPR numerator is pure false positives.
    """
    sh = _src_shingles(spark, sf_dir)
    # one-scalar collect: the smallest source name picks the insert set
    bloom_src = load_table(spark, sf_dir, "documents").agg(
        F.min("source")
    ).first()[0]
    ins = sh.filter(F.col("source") == bloom_src).select("shingle")
    ks = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i")

    def bit(i_col, sh_col):
        return F.pmod(
            h48(F.concat(i_col.cast("string"), F.lit(":"), sh_col)),
            F.lit(BLOOM_M),
        )

    bits = (
        ins.select("shingle", ks)
        .select(bit(F.col("i"), F.col("shingle")).alias("bit"))
        .distinct()
    )
    probes = (
        sh.filter(F.col("source") != bloom_src)
        .join(ins, "shingle", "left_anti")
        .select("source", "shingle")
    )
    pb = probes.select("source", "shingle", ks).select(
        "source",
        "shingle",
        bit(F.col("i"), F.col("shingle")).alias("bit"),
    )
    scored = (
        pb.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("source", "shingle")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("nhit"))
    )
    fp = scored.groupBy("source").agg(
        F.count("*").alias("n_probes"),
        F.sum((F.col("nhit") == BLOOM_K).cast("long")).alias("n_fp"),
    )
    meta = bits.agg(F.count("*").alias("bits_set")).crossJoin(
        ins.agg(F.count("*").alias("n_inserted"))
    )
    return (
        fp.crossJoin(F.broadcast(meta))
        .select(
            "source",
            F.col("n_inserted").cast("long").alias("n_inserted"),
            F.col("bits_set").cast("long").alias("bits_set"),
            round4(F.col("bits_set") / F.lit(float(BLOOM_M))).alias(
                "fill_ratio"
            ),
            F.col("n_probes").cast("long").alias("n_probes"),
            F.col("n_fp").cast("long").alias("n_false_pos"),
            round4(F.col("n_fp") / F.col("n_probes")).alias("fpr"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q254 — KMV set-operation estimates: cross-source overlap
# --------------------------------------------------------------------------
@query(
    "q254_kmv_overlap_estimates",
    oracle=f"""
    WITH {_SRC_SHINGLES_CTE},
    hashed AS (
      SELECT DISTINCT source, {_h48_sql('sh')} AS h FROM shingles),
    ranked AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM hashed),
    bk AS (SELECT source, h FROM ranked WHERE rn <= {KMV_K}),
    srcs AS (SELECT DISTINCT source FROM documents),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM srcs a JOIN srcs b ON a.source < b.source),
    uni AS (
      SELECT DISTINCT sa, sb, h FROM (
        SELECT p.sa, p.sb, k.h FROM pairs p JOIN bk k ON k.source = p.sa
        UNION ALL
        SELECT p.sa, p.sb, k.h FROM pairs p JOIN bk k ON k.source = p.sb)),
    uranked AS (
      SELECT sa, sb, h,
             ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
      FROM uni),
    theta AS (SELECT sa, sb, h AS h_k FROM uranked WHERE rn = {KMV_K}),
    common AS (
      SELECT p.sa, p.sb, a.h
      FROM pairs p
      JOIN bk a ON a.source = p.sa
      JOIN bk b ON b.source = p.sb AND b.h = a.h),
    cm AS (
      SELECT t.sa, t.sb,
             COUNT(c.h) FILTER (WHERE c.h <= t.h_k) AS n_common
      FROM theta t LEFT JOIN common c ON c.sa = t.sa AND c.sb = t.sb
      GROUP BY t.sa, t.sb),
    sizes AS (SELECT source, COUNT(*) AS n FROM shingles GROUP BY source),
    ex AS (
      SELECT x.source AS sa, y.source AS sb, COUNT(*) AS n_int
      FROM shingles x JOIN shingles y
        ON x.sh = y.sh AND x.source < y.source
      GROUP BY 1, 2),
    est AS (
      SELECT c.sa, c.sb, c.n_common,
             {KMV_NUM!r} / t.h_k AS est_union,
             c.n_common / {KMV_K}.0 AS j_est_raw
      FROM cm c JOIN theta t ON t.sa = c.sa AND t.sb = c.sb)
    SELECT p.sa AS source_a, p.sb AS source_b,
           CAST(COALESCE(x.n_int, 0) AS BIGINT) AS exact_inter,
           {r4('COALESCE(x.n_int, 0) * 1.0 / '
               '(na.n + nb.n - COALESCE(x.n_int, 0))')} AS exact_jaccard,
           {r4('e.j_est_raw * e.est_union')} AS est_inter,
           {r4('e.j_est_raw')} AS est_jaccard
    FROM pairs p
    JOIN est e ON e.sa = p.sa AND e.sb = p.sb
    JOIN sizes na ON na.source = p.sa
    JOIN sizes nb ON nb.source = p.sb
    LEFT JOIN ex x ON x.sa = p.sa AND x.sb = p.sb
    ORDER BY source_a, source_b
    """,
    tags=("extension", "sketch", "cardinality", "decontamination"),
)
def q254_kmv_overlap_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap estimated from KMV sketches, graded
    against the exact answer: for every source pair, the estimated
    intersection size and Jaccard (theta-sketch style: J = |common
    hashes among the union's bottom-k| / k, intersection = J * KMV
    union estimate) next to the exact distinct-shingle intersection and
    Jaccard. This is the sketch form of cross-corpus contamination
    measurement (q178's transfer matrix, q88's decontamination): at
    real scale you can afford one 64-long sketch per source/shard, not
    a pairwise exact shingle join.

    Shape/scale: the sketch side touches only 20 sketches x 64 longs —
    every pair computation (union bottom-k, theta, common count) runs
    on broadcast-sized frames; adding a source never rescans the
    others. The exact side (a shingle self-join) is the audit baseline
    and is the thing that does NOT scale — which is precisely what the
    side-by-side demonstrates. j_est = c/64 and est_union = 63*2^48/h_k
    are exact-dyadic / correctly-rounded IEEE ops, so both engines
    produce identical doubles before quantization.
    """
    sh = _src_shingles(spark, sf_dir)
    hashed = sh.select("source", h48(F.col("shingle")).alias("h")).distinct()
    rn = F.row_number().over(Window.partitionBy("source").orderBy("h"))
    bk = hashed.withColumn("rn", rn).filter(F.col("rn") <= KMV_K).select(
        "source", "h"
    )
    srcs = sh.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .join(
            srcs.select(F.col("source").alias("sb")),
            F.col("sa") < F.col("sb"),
        )
    )
    uni = (
        pairs.join(bk.withColumnRenamed("source", "sa"), "sa")
        .select("sa", "sb", "h")
        .unionAll(
            pairs.join(bk.withColumnRenamed("source", "sb"), "sb").select(
                "sa", "sb", "h"
            )
        )
        .distinct()
    )
    urn = F.row_number().over(Window.partitionBy("sa", "sb").orderBy("h"))
    theta = (
        uni.withColumn("rn", urn)
        .filter(F.col("rn") == KMV_K)
        .select("sa", "sb", F.col("h").alias("h_k"))
    )
    common = (
        bk.select(F.col("source").alias("sa"), "h")
        .join(bk.select(F.col("source").alias("sb"), "h"), "h")
        .filter(F.col("sa") < F.col("sb"))
        .select("sa", "sb", "h")
    )
    cm = (
        theta.join(common, ["sa", "sb"], "left")
        .groupBy("sa", "sb", "h_k")
        .agg(
            F.sum(
                F.when(F.col("h") <= F.col("h_k"), 1).otherwise(0)
            ).alias("n_common")
        )
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    # Exact intersection via ONE bucket pass (round 13, VERDICT r12
    # #5): the old self-join inlined the _src_shingles subtree on BOTH
    # sides; a groupBy(shingle) + map-side pair explode of the sorted
    # source array (jaccard_pairs' bucket shape — sources are few, so
    # the arrays are tiny and need no df cap) evaluates it once.
    # Deliberately NOT persisted: ex is its only consumer, and the
    # measured q254 bucket-frame persist regressed 1.27x at sf0.1 (the
    # barrier costs more than it saves — the r12 persist finding).
    src_pairs = array_pairs(
        F.col("srcs"), lambda x, y: F.struct(x.alias("sa"), y.alias("sb"))
    )
    ex = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") > 1)
        .select(F.explode(src_pairs).alias("p"))
        .groupBy(F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb"))
        .agg(F.count("*").alias("n_int"))
    )
    est = cm.select(
        "sa",
        "sb",
        "n_common",
        (F.lit(KMV_NUM) / F.col("h_k")).alias("est_union"),
        (F.col("n_common") / F.lit(float(KMV_K))).alias("j_est_raw"),
    )
    return (
        pairs.join(est, ["sa", "sb"])
        .join(sizes.withColumnRenamed("source", "sa").withColumnRenamed("n", "na"), "sa")
        .join(sizes.withColumnRenamed("source", "sb").withColumnRenamed("n", "nb"), "sb")
        .join(ex, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.coalesce(F.col("n_int"), F.lit(0)).cast("long").alias(
                "exact_inter"
            ),
            round4(
                F.coalesce(F.col("n_int"), F.lit(0))
                / (
                    F.col("na")
                    + F.col("nb")
                    - F.coalesce(F.col("n_int"), F.lit(0))
                )
            ).alias("exact_jaccard"),
            round4(F.col("j_est_raw") * F.col("est_union")).alias(
                "est_inter"
            ),
            round4(F.col("j_est_raw")).alias("est_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# q262 — equi-width histogram quantile sketch vs exact order statistics
# --------------------------------------------------------------------------
QSK_BINS = 64
QSK_QUANTILES = (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
_QSK_VALUES = ", ".join(f"('{l}', {q!r})" for l, q in QSK_QUANTILES)


@query(
    "q262_histogram_quantile_audit",
    oracle=f"""
    WITH stats AS (
      SELECT event_type, COUNT(*) AS n,
             MIN(value) AS mn, MAX(value) AS mx
      FROM events GROUP BY event_type),
    binned AS (
      SELECT e.event_type,
             CASE WHEN s.mx = s.mn THEN 0
                  ELSE LEAST({QSK_BINS - 1},
                       CAST(floor((e.value - s.mn) * CAST({QSK_BINS} AS DOUBLE)
                                  / (s.mx - s.mn)) AS BIGINT))
             END AS bin
      FROM events e JOIN stats s USING (event_type)),
    hist AS (
      SELECT event_type, bin, COUNT(*) AS c
      FROM binned GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bin,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cc
      FROM hist),
    qs(lbl, q) AS (VALUES {_QSK_VALUES}),
    ks AS (
      SELECT s.event_type, q.lbl, s.n, s.mn, s.mx,
             CAST(ceil(CAST(q.q AS DOUBLE) * s.n) AS BIGINT) AS k
      FROM stats s CROSS JOIN qs q),
    selbin AS (
      SELECT k.event_type, k.lbl, k.n, k.mn, k.mx, k.k,
             MIN(c.bin) AS bin
      FROM ks k JOIN cum c
        ON c.event_type = k.event_type AND c.cc >= k.k
      GROUP BY 1, 2, 3, 4, 5, 6),
    ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn
      FROM events),
    ex AS (
      SELECT s.event_type, s.lbl, s.n, s.mn, s.mx, s.bin, r.value AS exact_val
      FROM selbin s JOIN ranked r
        ON r.event_type = s.event_type AND r.rn = s.k),
    est AS (
      SELECT event_type, lbl, n, exact_val,
             mn + (bin + CAST(0.5 AS DOUBLE)) * (mx - mn)
                  / CAST({QSK_BINS} AS DOUBLE) AS est_val,
             (mx - mn) / CAST({QSK_BINS * 2} AS DOUBLE) AS half_width
      FROM ex)
    SELECT event_type, lbl AS quantile,
           CAST(n AS BIGINT) AS n_rows,
           {r4('exact_val')} AS exact_val,
           {r4('est_val')} AS est_val,
           {r4('abs(est_val - exact_val)')} AS abs_err,
           {r4('half_width')} AS half_bin_width
    FROM est
    ORDER BY event_type, quantile
    """,
    tags=("extension", "sketch", "quantile"),
)
def q262_histogram_quantile_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-width histogram quantile sketch (64 bins per event_type)
    graded against exact order statistics: for p50/p95/p99, the bin
    -midpoint estimate, the exact k-th value, the absolute error, and
    the half-bin-width error bound the estimate is supposed to honor.
    Completes the sketch family's fourth axis (q251 cardinality, q252
    frequency, q253 membership, here quantiles) with the same
    discipline: the sketch state is tiny and mergeable (64 counters
    per group — map-side combine collapses every partition), the
    estimate is graded against the exact answer, and engine-native
    approximations (percentile_approx / approx_quantile) are avoided
    in verified outputs because their internals are
    implementation-defined.

    Shape/scale: the histogram build is two narrow passes (min/max
    stats, then a 64-way bin count whose exchange carries <= bins *
    partitions rows); at 100 TB only these run — the exact side (a
    per-group full sort for ROW_NUMBER) is the audit baseline run
    once per release on a sample, exactly the q251/q254 pattern. All
    windows are partitioned by event_type (audit-clean). Determinism:
    bin indexing and midpoints use mirrored correctly-rounded IEEE
    ops on identical inputs; k = ceil(q*n) is computed from the same
    double product on both engines; the exact value ties break on
    event_id.
    """
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    binned = events.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(QSK_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    * F.lit(float(QSK_BINS))
                    / (F.col("mx") - F.col("mn"))
                ).cast("long"),
            )
        )
        .alias("bin"),
    )
    hist = binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("c")
    )
    cum = hist.withColumn(
        "cc",
        F.sum("c").over(
            Window.partitionBy("event_type").orderBy("bin")
        ),
    )
    qs = None
    for lbl, q in QSK_QUANTILES:
        row = stats.select(
            "event_type",
            "n",
            "mn",
            "mx",
            F.lit(lbl).alias("lbl"),
            F.ceil(F.lit(float(q)) * F.col("n")).cast("long").alias("k"),
        )
        qs = row if qs is None else qs.unionAll(row)
    selbin = (
        qs.join(
            cum.select("event_type", "bin", "cc"),
            ["event_type"],
        )
        .filter(F.col("cc") >= F.col("k"))
        .groupBy("event_type", "lbl", "n", "mn", "mx", "k")
        .agg(F.min("bin").alias("bin"))
    )
    ranked = events.select(
        "event_type",
        "value",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy("value", "event_id")
        )
        .alias("rn"),
    )
    ex = selbin.join(
        ranked,
        (F.col("rn") == F.col("k"))
        & (ranked["event_type"] == selbin["event_type"]),
    ).select(
        selbin["event_type"],
        "lbl",
        "n",
        "mn",
        "mx",
        "bin",
        F.col("value").alias("exact_val"),
    )
    est = ex.select(
        "event_type",
        "lbl",
        "n",
        "exact_val",
        (
            F.col("mn")
            + (F.col("bin") + F.lit(0.5))
            * (F.col("mx") - F.col("mn"))
            / F.lit(float(QSK_BINS))
        ).alias("est_val"),
        (
            (F.col("mx") - F.col("mn")) / F.lit(float(QSK_BINS * 2))
        ).alias("half_width"),
    )
    return est.select(
        "event_type",
        F.col("lbl").alias("quantile"),
        F.col("n").cast("long").alias("n_rows"),
        round4(F.col("exact_val")).alias("exact_val"),
        round4(F.col("est_val")).alias("est_val"),
        round4(F.abs(F.col("est_val") - F.col("exact_val"))).alias(
            "abs_err"
        ),
        round4(F.col("half_width")).alias("half_bin_width"),
    ).orderBy("event_type", "quantile")
