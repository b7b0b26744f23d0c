"""End-to-end curation queries over ``documents``: the composite
keep/drop decision (q71), sequence packing into context windows (q72),
and intra-document repetition metrics (q73).

These compose the per-signal operators (q24 quality, q25 lang-ID, q17+
dedup family) into the artifacts a training-data pipeline actually
ships: a per-document curation verdict with a reason, packing slots for
batch construction, and the repetition features quality filters key on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_pipeline_spark.functions.text import ngrams, tokens
from movie_data_pipeline_spark.operators.dedup import JACCARD_MAX_SHINGLE_DF
from movie_data_pipeline_spark.operators.packing import pack_documents
from movie_data_pipeline_spark.operators.util import overlap, scratch_dir
from movie_data_pipeline_spark.plans.core import query, r4, round4
from movie_data_pipeline_spark.plans.text import (
    ENGLISH_STOPWORDS,
    LANG_PICK_SQL,
    LANG_SCORES_SQL,
    _in_list_sql,
    lang_pick_col,
    lang_score_cols,
    stopword_count,
)
from movie_data_pipeline_spark.sources.registry import load_table

# Curation thresholds. Ratios are exact integer quotients evaluated with
# the same IEEE division on both engines; thresholds are binary
# fractions so comparisons can't straddle a representation gap.
MIN_TOKENS = 20
MAX_TOP_TOKEN_SHARE = 0.125
MIN_STOPWORD_RATIO = 0.05

_EN_SET = _in_list_sql(ENGLISH_STOPWORDS)

# Non-distinct word 3-grams + top-token occurrence share, as SQL
# (mirrors the Spark expressions in _repetition_cols).
_REP_SQL = """
      CASE WHEN len(t) >= 3
        THEN list_transform(generate_series(1, len(t) - 2),
                            i -> array_to_string(t[i:i+2], ' '))
        ELSE [array_to_string(t, ' ')] END AS grams,
      list_max(list_transform(list_distinct(t),
                              w -> len(list_filter(t, x -> x = w)))) AS top_cnt
"""


def _grams_col(t: Column) -> Column:
    """Non-distinct word 3-grams of projected tokens ``t`` (keeps
    repeats — unlike functions.text.shingles, which deduplicates for
    set-Jaccard)."""
    return F.when(F.size(t) >= 3, ngrams(t, 3)).otherwise(
        F.array(F.array_join(t, " "))
    )


def _top_token_count(t: Column) -> Column:
    """Highest single-token occurrence count in token array ``t``.

    Computed as the longest run in the *sorted* token array via a
    single fold — O(n log n) per document instead of the obvious
    O(|distinct|·|t|) filter-per-distinct-token shape (the oracle SQL
    keeps that quadratic spelling as the semantic spec; both give the
    max multiplicity). Still pure array expressions inside codegen;
    arrays never explode to rows.
    """
    st = F.array_sort(t)
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit(" ").alias("prev"), zero.alias("run"), zero.alias("best")
    )
    return F.aggregate(
        st,
        acc0,
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )


# --------------------------------------------------------------------------
# q71 — composite curation decision (keep/drop + reason)
# --------------------------------------------------------------------------
@query(
    "q71_curation_decisions",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    feat AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(t, w -> w IN {_EN_SET})) AS BIGINT) AS n_stop,
             list_max(list_transform(list_distinct(t),
                      w -> len(list_filter(t, x -> x = w)))) AS top_cnt,
             {LANG_SCORES_SQL}
      FROM toks),
    pick AS (SELECT *, {LANG_PICK_SQL} AS predicted_lang FROM feat)
    SELECT doc_id,
           CASE WHEN n_tokens < {MIN_TOKENS} THEN 'drop'
                WHEN predicted_lang <> 'en' THEN 'drop'
                WHEN top_cnt * 1.0 / n_tokens > {MAX_TOP_TOKEN_SHARE} THEN 'drop'
                WHEN n_stop * 1.0 / n_tokens < {MIN_STOPWORD_RATIO} THEN 'drop'
                ELSE 'keep' END AS decision,
           CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
                WHEN predicted_lang <> 'en' THEN 'non_english'
                WHEN top_cnt * 1.0 / n_tokens > {MAX_TOP_TOKEN_SHARE} THEN 'repetitive'
                WHEN n_stop * 1.0 / n_tokens < {MIN_STOPWORD_RATIO} THEN 'low_quality'
           END AS drop_reason
    FROM pick
    ORDER BY doc_id
    """,
    tags=("extension", "curation", "composite"),
)
def q71_curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop verdict with the first failing rule as the
    reason: length floor → language gate → repetition cap → stopword
    (gibberish) floor.

    This is the shipping artifact of a curation pipeline — every
    per-signal operator (q24's quality features, q25's lang-ID, q73's
    repetition metrics) composed into one decision column, with rule
    order made explicit so a document failing several gates reports
    deterministically. Everything is a pure map stage (one pass,
    whole-stage codegen, zero shuffles before the presentation sort):
    filters that READ like four queries fuse into one scan at any
    scale. Rules and thresholds live in module constants, mirrored
    verbatim into the oracle SQL.
    """
    return decision_frame(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def decision_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, decision, drop_reason) for any documents-shaped frame —
    q71's rule ladder as a reusable stage (q139 composes it upstream of
    dedup)."""
    t = tokens(F.col("text"))
    feat = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        stopword_count(t, ENGLISH_STOPWORDS).alias("n_stop"),
        _top_token_count(t).alias("top_cnt"),
        *lang_score_cols(t),
    ).withColumn("predicted_lang", lang_pick_col())

    n_tok = F.col("n_tokens")
    rules = [
        (n_tok < MIN_TOKENS, "too_short"),
        (F.col("predicted_lang") != "en", "non_english"),
        (F.col("top_cnt") * 1.0 / n_tok > MAX_TOP_TOKEN_SHARE, "repetitive"),
        (F.col("n_stop") * 1.0 / n_tok < MIN_STOPWORD_RATIO, "low_quality"),
    ]
    reason = None
    for cond, label in rules:
        reason = F.when(cond, label) if reason is None else reason.when(cond, label)
    return feat.select(
        "doc_id",
        F.when(reason.isNotNull(), "drop").otherwise("keep").alias("decision"),
        reason.alias("drop_reason"),
    )


# --------------------------------------------------------------------------
# q72 — sequence packing (greedy next-fit per deterministic shard)
# --------------------------------------------------------------------------
_PACK_CAPACITY = 256
_PACK_SHARDS = 8


@query(
    "q72_sequence_packing",
    oracle=f"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_PACK_SHARDS} AS shard,
             CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                  AS BIGINT) AS n_tokens
      FROM documents),
    ordered AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM toks),
    pack AS (
      SELECT shard, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin_in_shard, n_tokens AS fill
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN p.fill + o.n_tokens > {_PACK_CAPACITY}
                  THEN p.bin_in_shard + 1 ELSE p.bin_in_shard END,
             CASE WHEN p.fill + o.n_tokens > {_PACK_CAPACITY}
                  THEN o.n_tokens ELSE p.fill + o.n_tokens END
      FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1)
    SELECT doc_id, shard, bin_in_shard, n_tokens
    FROM pack
    ORDER BY doc_id
    """,
    tags=("extension", "curation", "packing", "pandas-udf"),
)
def q72_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 256-token context windows: greedy next-fit
    in doc_id order within 8 deterministic md5 shards
    (operators/packing.py).

    The batch-construction step after curation. The per-shard fold has
    loop-carried state (current bin fill) that no relational operator
    expresses, so it runs as an Arrow-batched ``applyInPandas`` — the
    justified Pandas-UDF case — while sharding keeps it embarrassingly
    parallel (shard count scales with the cluster; next-fit wastes less
    than one max-document per bin). The oracle spells the identical
    fold as a recursive CTE advancing every shard one row per step —
    feasible at oracle scale, and a proof the Python loop implements
    exactly that recurrence.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return pack_documents(
        with_tokens, capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q73 — intra-document repetition metrics (quality-filter features)
# --------------------------------------------------------------------------
@query(
    "q73_repetition_metrics",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    rep AS (
      SELECT doc_id, t,
      {_REP_SQL}
      FROM toks)
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(grams) - len(list_distinct(grams)) AS BIGINT) AS n_dup_grams,
           {r4('(len(grams) - len(list_distinct(grams))) * 1.0 / len(grams)')}
               AS dup_gram_ratio,
           {r4('top_cnt * 1.0 / len(t)')} AS top_token_share
    FROM rep
    ORDER BY doc_id
    """,
    tags=("extension", "curation", "repetition"),
)
def q73_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition features: duplicated-3-gram count/ratio
    and the highest single-token occurrence share — the signals
    repetition quality filters threshold on (q71 consumes the token
    share). Note the grams here keep repeats, unlike the *distinct*
    shingles the Jaccard/MinHash family uses: dedup wants set
    semantics, repetition measurement wants bag semantics. All array
    expressions inside codegen; a pure map stage at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    t = F.col("t")
    grams = _grams_col(t)
    n_grams = F.size(grams).cast("long")
    n_dup = (F.size(grams) - F.size(F.array_distinct(grams))).cast("long")
    return toks.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_dup.alias("n_dup_grams"),
        round4(n_dup * 1.0 / n_grams).alias("dup_gram_ratio"),
        round4(_top_token_count(t) * 1.0 / F.size(t)).alias("top_token_share"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q85 — corpus mixing weights (source-balanced token budget)
# --------------------------------------------------------------------------
# Fraction of total corpus tokens the mixed output may contain. A binary
# fraction, so budget arithmetic is exact IEEE on both engines.
MIX_BUDGET_FRACTION = 0.5

_PER_SOURCE_SQL = """
  per AS (
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
             AS n_tokens
    FROM documents GROUP BY source),
  tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
                 COUNT(*) AS n_src FROM per)
"""

_MIX_RATE_SQL = "LEAST(1.0, (total * 0.5 / n_src) / n_tokens)"


@query(
    "q85_source_mixing_weights",
    oracle=f"""
    WITH {_PER_SOURCE_SQL}
    SELECT source, n_docs, n_tokens,
           {r4('n_tokens * 1.0 / total')} AS corpus_share,
           {r4(_MIX_RATE_SQL)} AS mix_rate,
           CAST(floor({_MIX_RATE_SQL} * n_tokens) AS BIGINT) AS sampled_tokens
    FROM per CROSS JOIN tot ORDER BY source
    """,
    tags=("extension", "curation", "mixing"),
)
def q85_source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing plan: per-source sampling rates that rebalance the
    corpus toward equal source shares under a 50%-of-total token
    budget — the computation behind every training-mixture config
    (rates to feed q70's deterministic per-stratum sampler).

    Over-represented sources get rate = budget_share / their_tokens;
    under-represented sources cap at 1.0 (never upsampled — epochs are
    a trainer decision, not a sampler decision). Everything after the
    one per-source aggregate is arithmetic on an |sources|-row frame
    joined to a 1-row broadcast total: the whole query costs one
    shuffle regardless of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total"), F.count("*").alias("n_src")
    )
    rate = F.least(
        F.lit(1.0),
        (F.col("total") * F.lit(0.5) / F.col("n_src")) / F.col("n_tokens"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            round4(F.col("n_tokens") * F.lit(1.0) / F.col("total")).alias(
                "corpus_share"
            ),
            round4(rate).alias("mix_rate"),
            F.floor(rate * F.col("n_tokens")).cast("long").alias("sampled_tokens"),
        )
        .orderBy("source")
    )


@query(
    "q127_training_shard_manifest",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch0'),
                                  1, 8)) AS BIGINT) AS hv,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
      FROM documents)
    SELECT doc_id,
           hv % 16 AS shard,
           ROW_NUMBER() OVER (PARTITION BY hv % 16
                              ORDER BY hv, doc_id) AS pos_in_shard,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM h ORDER BY shard, pos_in_shard
    """,
    tags=("extension", "training", "shuffle"),
)
def q127_training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle + shard manifest: every
    document gets an epoch-salted hash, a balanced shard (hash mod 16),
    and its read position within the shard — the manifest a training
    loader consumes for a reproducible random-order epoch.

    Scale: this is the 100 TB-safe spelling of "shuffle the corpus" —
    no global sort, no global window. The hash is embarrassingly
    parallel; the position window partitions BY SHARD, so its frame is
    |corpus|/16 and each shard ranks in parallel (a different salt
    re-permutes everything next epoch). The actual epoch files fall out
    of ``repartition(shard) + sortWithinPartitions(hv)`` — one exchange,
    then streaming writes; pair with q72's packing inside each shard.
    The md5-derived hash is the engine-portable uniform established by
    ``functions/text.base_hash32``.
    """
    from movie_data_pipeline_spark.functions.text import base_hash32

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        base_hash32(
            F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0"))
        ).alias("hv"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).withColumn("shard", F.col("hv") % 16)
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    return (
        h.select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos_in_shard"),
            "n_tokens",
        )
        .orderBy("shard", "pos_in_shard")
    )


# --------------------------------------------------------------------------
# q139 — the curation pipeline END TO END (quality → dedup → report)
# --------------------------------------------------------------------------
@query(
    "q139_corpus_pipeline_report",
    oracle=f"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    feat AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(t, w -> w IN {_EN_SET})) AS BIGINT) AS n_stop,
             list_max(list_transform(list_distinct(t),
                      w -> len(list_filter(t, x -> x = w)))) AS top_cnt,
             {LANG_SCORES_SQL}
      FROM toks),
    pick AS (SELECT *, {LANG_PICK_SQL} AS predicted_lang FROM feat),
    qk AS (
      SELECT doc_id FROM pick
      WHERE n_tokens >= {MIN_TOKENS}
        AND predicted_lang = 'en'
        AND top_cnt * 1.0 / n_tokens <= {MAX_TOP_TOKEN_SHARE}
        AND n_stop * 1.0 / n_tokens >= {MIN_STOPWORD_RATIO}),
    sh0 AS (
      SELECT toks.doc_id,
             CASE WHEN len(t) >= 3
               THEN unnest(list_transform(generate_series(1, len(t) - 2),
                                          i -> array_to_string(t[i:i+2], ' ')))
               ELSE array_to_string(t, ' ')
             END AS sh
      FROM toks JOIN qk USING (doc_id)),
    shingles AS (SELECT DISTINCT doc_id, sh FROM sh0),
    sh_keep AS (
      SELECT sh FROM shingles GROUP BY sh
      HAVING COUNT(*) <= {JACCARD_MAX_SHINGLE_DF}),
    shingles_c AS (
      SELECT s.doc_id, s.sh FROM shingles s JOIN sh_keep USING (sh)),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles_c GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles_c a JOIN shingles_c b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    prs AS (
      SELECT doc_a, doc_b FROM common
      JOIN counts ca ON ca.doc_id = doc_a
      JOIN counts cb ON cb.doc_id = doc_b
      WHERE n_common * 1.0 / (ca.n + cb.n - n_common) >= 0.2),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
          UNION ALL SELECT doc_b, doc_a FROM prs),
    reach(id, node) AS (
      SELECT doc_id, doc_id FROM qk
      UNION
      SELECT r.id, e.dst FROM reach r JOIN e ON e.src = r.node),
    comp AS (SELECT id AS doc_id, MIN(node) AS cluster_id
             FROM reach GROUP BY id),
    fk AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id)
    SELECT d.source,
           COUNT(*) AS n_docs,
           COUNT(k1.doc_id) AS n_quality_kept,
           COUNT(k2.doc_id) AS n_final_kept,
           CAST(SUM(CASE WHEN k2.doc_id IS NOT NULL
                         THEN len(tk.t) ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM documents d
    JOIN toks tk ON tk.doc_id = d.doc_id
    LEFT JOIN qk k1 ON k1.doc_id = d.doc_id
    LEFT JOIN fk k2 ON k2.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
    tags=("extension", "curation", "pipeline", "end-to-end"),
)
def q139_corpus_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline composed end to end, under one
    oracle hash: q71's quality rule ladder gates the corpus → near-dup
    pairs (q18's bucketed Jaccard machinery) are generated ONLY among
    quality keepers → connected components (q63) pick one canonical doc
    per cluster → a per-source funnel report (total docs, quality
    survivors, final kept docs, kept token budget).

    This is the artifact a training-data run actually ships — and the
    order matters at scale: filtering BEFORE dedup shrinks the shingle
    join's input by the drop rate, which is why the pipeline composes
    stages in this sequence rather than deduping the raw corpus. Every
    stage reuses the verified operator (decision_frame, jaccard_pairs,
    connected_components); the oracle recomputes the same composition
    from first principles, so a regression in ANY stage — or in how
    they hand off — breaks this one hash. Downstream, the kept set
    feeds q72's packing and q127's shard manifest.
    """
    from movie_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
    )
    from movie_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    qk = (
        decision_frame(docs)
        .filter(F.col("decision") == "keep")
        .select("doc_id")
    )
    kept_docs = docs.join(qk, "doc_id").select("doc_id", "text")
    pairs = jaccard_pairs(
        kept_docs,
        max_shingle_df=JACCARD_MAX_SHINGLE_DF,
        threshold=0.2,
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, nodes=qk, src="doc_a", dst="doc_b")
    fk = comp.filter(F.col("node") == F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    base = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return (
        base.join(qk.withColumn("q1", F.lit(1)), "doc_id", "left")
        .join(fk.withColumn("f1", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("q1").alias("n_quality_kept"),
            F.count("f1").alias("n_final_kept"),
            F.sum(
                F.when(F.col("f1").isNotNull(), F.col("n_tokens")).otherwise(0)
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q152 — importance-weighted sampling (DSIR-style probabilistic keep)
# --------------------------------------------------------------------------
@query(
    "q152_importance_sampled_corpus",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    w AS (
      SELECT doc_id, source,
             len(list_filter(t, x -> x IN {_EN_SET})) * 1.0 / len(t) AS wt,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 AS u
      FROM scored)
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN u < wt THEN 1 END) AS n_kept,
           {r4('CAST(SUM(CAST(wt AS DECIMAL(30,18))) AS DOUBLE) / COUNT(*)')} AS avg_weight,
           {r4('COUNT(CASE WHEN u < wt THEN 1 END) * 1.0 / COUNT(*)')} AS kept_share
    FROM w GROUP BY source ORDER BY source
    """,
    tags=("extension", "curation", "sampling"),
)
def q152_importance_sampled_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance sampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per-document
    importance weight (here the stopword ratio stands in for the
    target-vs-raw likelihood ratio DSIR estimates from hashed n-grams)
    drives a Bernoulli keep with a DETERMINISTIC uniform — the md5 hash
    of doc_id scaled to [0,1) — instead of an RNG, so the sample is
    reproducible across runs, engines, and reshards (q39's discipline
    applied to weighted sampling). Hard gates (q71) answer "is this
    document acceptable"; importance sampling answers "how much of
    this distribution do we want" — both ship in real pipelines.

    Pure map stage + one per-source aggregate: weight, uniform, and the
    keep decision are all codegen expressions; nothing shuffles but the
    final 20-group rollup. The mean weight accumulates in
    DECIMAL(30,18) (q61 discipline) so partition order cannot perturb
    the cross-row sum at any group size.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    wt = (
        F.size(F.filter(t, lambda w: F.array_contains(
            F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS]), w
        ))).cast("double")
        / F.size(t).cast("double")
    )
    from movie_data_pipeline_spark.functions.text import base_hash32

    u = base_hash32(F.col("doc_id").cast("string")).cast("double") / F.lit(
        4294967296.0
    )
    scored = docs.select(
        "source", wt.alias("wt"), u.alias("u")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("u") < F.col("wt"), 1)).alias("n_kept"),
            round4(
                F.sum(F.col("wt").cast("decimal(30,18)")).cast("double")
                / F.count("*")
            ).alias("avg_weight"),
            round4(
                F.count(F.when(F.col("u") < F.col("wt"), 1)).cast("double")
                / F.count("*").cast("double")
            ).alias("kept_share"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q181 — stratified split audit (hash-assigned train/val/test per stratum)
# --------------------------------------------------------------------------
_SPLIT_HASH = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)) "
    "AS BIGINT) % 100"
)


@query(
    "q181_stratified_split_audit",
    oracle=f"""
    WITH assigned AS (
      SELECT source, lang,
             CASE WHEN {_SPLIT_HASH} < 80 THEN 'train'
                  WHEN {_SPLIT_HASH} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT source, lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (split = 'train') AS n_train,
           COUNT(*) FILTER (split = 'val') AS n_val,
           COUNT(*) FILTER (split = 'test') AS n_test,
           {r4("greatest("
               "abs(CAST(COUNT(*) FILTER (split = 'train') AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) - 0.8), "
               "abs(CAST(COUNT(*) FILTER (split = 'val') AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) - 0.1), "
               "abs(CAST(COUNT(*) FILTER (split = 'test') AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) - 0.1))")}
             AS max_deviation
    FROM assigned
    GROUP BY source, lang
    ORDER BY source, lang
    """,
    tags=("extension", "curation", "split", "audit"),
)
def q181_stratified_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 80/10/10 train/val/test assignment audited per
    (source, lang) stratum: docs are assigned by a salted md5 hash of
    the id (reshard-stable — the same doc lands in the same split on
    any cluster, any partitioning, any round; q39's discipline), and
    the report shows per-stratum counts plus the worst absolute
    deviation from the target proportions — the pre-flight check that
    hash-splitting didn't starve a small stratum (tiny strata deviate;
    the fix is per-stratum quota assignment, which trades
    reshard-stability for exactness). The complement of q173: that op
    guarantees no near-dup leaks ACROSS splits; this one guarantees
    every stratum is represented AT the target rates.

    Scale: one map-side hash expression and one hash aggregate on the
    stratum key — no window, no shuffle beyond the groupBy; FILTER
    aggregates keep it a single pass (q124's pattern).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    assigned = docs.select(
        "source",
        "lang",
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias("split"),
    )
    cnt = F.count("*")

    def share_dev(split: str, target: float):
        n = F.count(F.when(F.col("split") == split, True))
        return F.abs(n.cast("double") / cnt.cast("double") - F.lit(target))

    return (
        assigned.groupBy("source", "lang")
        .agg(
            cnt.alias("n_docs"),
            F.count(F.when(F.col("split") == "train", True)).alias("n_train"),
            F.count(F.when(F.col("split") == "val", True)).alias("n_val"),
            F.count(F.when(F.col("split") == "test", True)).alias("n_test"),
            round4(
                F.greatest(
                    share_dev("train", 0.8),
                    share_dev("val", 0.1),
                    share_dev("test", 0.1),
                )
            ).alias("max_deviation"),
        )
        .orderBy("source", "lang")
    )

# --------------------------------------------------------------------------
# q206 — temperature-based source mixing weights (alpha-sampling)
# --------------------------------------------------------------------------
_MIX_ALPHA_SQRT = True  # alpha = 0.5 → sqrt, the common smoothing choice
_MIX_TOKEN_BUDGET = 1_000_000_000  # epoch budget the weights allocate


@query(
    "q206_source_mixing_weights",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                  AS BIGINT) AS n_tok
      FROM documents),
    per_src AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM per_src),
    scored AS (
      SELECT source, n_docs, n_tokens, total_tokens,
             CAST(sqrt(n_tokens * 1.0 / total_tokens)
                  AS DECIMAL(30,15)) AS smoothed
      FROM per_src CROSS JOIN tot),
    denom AS (SELECT SUM(smoothed) AS z FROM scored)
    SELECT source, n_docs, n_tokens,
           {r4("n_tokens * 1.0 / total_tokens")} AS raw_share,
           {r4("CAST(smoothed AS DOUBLE) / CAST(z AS DOUBLE)")}
             AS mix_weight,
           CAST(floor(CAST(smoothed AS DOUBLE) / CAST(z AS DOUBLE)
                      * {_MIX_TOKEN_BUDGET}) AS BIGINT) AS epoch_tokens
    FROM scored CROSS JOIN denom
    ORDER BY source
    """,
    tags=("extension", "curation", "mixture", "sampling"),
)
def q206_source_mixing_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based (alpha = 0.5) source mixing weights — the
    data-mixture step of multi-source LLM training (the alpha-smoothed
    sampling of GPT-3/PaLM-style corpora): per source, its raw token
    share p_i, the smoothed weight p_i^0.5 / sum_j p_j^0.5 (upweights
    the tail, damps the dominant crawl), and the resulting token
    allocation under a 1B-token epoch budget.

    Cross-engine determinism of the smoothing: sqrt is IEEE correctly
    rounded (identical on both engines), each sqrt is cast to
    DECIMAL(30,15) so the DENOMINATOR sum is exact integer arithmetic
    in any partition order, and the final ratio is one double division
    + round4. Scale: per-source aggregate is a map-side-combined
    groupBy on a tiny key vocabulary; everything after is a
    metadata-sized frame (one row per source).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", F.size(tokens(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    tot = per_src.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    scored = per_src.crossJoin(F.broadcast(tot)).withColumn(
        "smoothed",
        F.sqrt(F.col("n_tokens") / F.col("total_tokens")).cast(
            "decimal(30,15)"
        ),
    )
    denom = scored.agg(F.sum("smoothed").alias("z"))
    w = F.col("smoothed").cast("double") / F.col("z").cast("double")
    return (
        scored.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            round4(F.col("n_tokens") / F.col("total_tokens")).alias(
                "raw_share"
            ),
            round4(w).alias("mix_weight"),
            F.floor(w * F.lit(_MIX_TOKEN_BUDGET))
            .cast("long")
            .alias("epoch_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q208 — per-source quality quantile gate
# --------------------------------------------------------------------------
_GATE_KEEP_NUM, _GATE_KEEP_DEN = 2, 5  # keep the top 40% per source


@query(
    "q208_quality_quantile_gate",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    scored AS (
      SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS n_tokens,
             len(list_filter(t, w -> w IN {_EN_SET})) * 1.0 / len(t)
               AS quality
      FROM feats),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY quality DESC, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM scored)
    SELECT source,
           CAST(MAX(n_src) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN rnk * {_GATE_KEEP_DEN}
                           <= n_src * {_GATE_KEEP_NUM} THEN 1 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COALESCE(SUM(CASE WHEN rnk * {_GATE_KEEP_DEN}
                                  <= n_src * {_GATE_KEEP_NUM}
                                  THEN n_tokens END), 0) AS BIGINT)
             AS kept_tokens
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    tags=("extension", "curation", "quality", "quantile-gate"),
)
def q208_quality_quantile_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-SOURCE quality quantile gate: rank every document within its
    source by quality (stopword ratio — the cheap fluency proxy, ties
    broken by doc_id) and keep the top 40%, reporting per source the
    document and token counts before/after. This is the relative
    filtering stage that a fixed global threshold (q71) cannot express:
    a threshold tuned on web crawl guts a code or reference source,
    while a per-source quantile keeps each source's own best slice.

    Determinism: quality is ONE IEEE division of two integers
    (identical on both engines), ordering ties break on doc_id, and the
    keep rule ``rnk * 5 <= n_src * 2`` is pure integer arithmetic — no
    float threshold to straddle. Scale: one partitioned window per
    source (never global), then a map-side-combined groupBy.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        F.size(t).cast("long").alias("n_tokens"),
        (stopword_count(t, ENGLISH_STOPWORDS) / F.size(t)).alias("quality"),
    )
    w = Window.partitionBy("source")
    ranked = scored.select(
        "*",
        F.row_number()
        .over(w.orderBy(F.desc("quality"), F.asc("doc_id")))
        .alias("rnk"),
        F.count("*").over(w).alias("n_src"),
    )
    kept = F.col("rnk") * _GATE_KEEP_DEN <= F.col("n_src") * _GATE_KEEP_NUM
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n_src").cast("long").alias("n_docs"),
            F.count(F.when(kept, True)).cast("long").alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.coalesce(
                F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0)
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q215 — curriculum stage assignment (global difficulty quartiles)
# --------------------------------------------------------------------------
@query(
    "q215_curriculum_stages",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                  AS BIGINT) AS n_tokens,
             n_chars * 1.0
               / len(string_split_regex(lower(trim(text)), '\\s+'))
               AS difficulty
      FROM documents),
    tiled AS (
      SELECT *,
             NTILE(4) OVER (ORDER BY difficulty, doc_id) AS stage
      FROM scored)
    SELECT CAST(stage AS BIGINT) AS stage,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS stage_tokens,
           floor((MIN(difficulty)) * 10000 + 0.5) / 10000 AS min_difficulty,
           floor((MAX(difficulty)) * 10000 + 0.5) / 10000 AS max_difficulty
    FROM tiled
    GROUP BY stage
    ORDER BY stage
    """,
    tags=("extension", "curation", "curriculum", "ntile"),
)
def q215_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum stage assignment: order the whole corpus by a
    difficulty proxy (mean token length — short-word text first, dense
    jargon last) and cut it into 4 equal-count training stages,
    reporting each stage's document count, token budget, and difficulty
    range — the stage manifest a curriculum-learning schedule consumes
    (train on stage 1, then 1+2, ...).

    NO global NTILE window: the stage comes from the distributed global
    row number (``operators/prefix.attach_global_row_number`` — range
    partition on (difficulty, doc_id), local row_number, broadcast
    partition-count offsets) through the exact NTILE bucket formula, so
    the total order costs a range shuffle instead of a single-reducer
    sort — the same machinery q40/q93 ride, applied to the curation
    stack. Difficulty is one IEEE division of two integers (identical
    both engines); ties break on doc_id.
    """
    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
        ntile_from_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        (F.col("n_chars") / F.size(t)).alias("difficulty"),
    )
    ranked, n_docs = attach_global_row_number(
        scored, ["difficulty", "doc_id"], "rn"
    )
    tiled = ranked.select(
        "n_tokens",
        "difficulty",
        ntile_from_row_number(F.col("rn"), n_docs, 4)
        .cast("long")
        .alias("stage"),
    )
    return (
        tiled.groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("stage_tokens"),
            round4(F.min("difficulty")).alias("min_difficulty"),
            round4(F.max("difficulty")).alias("max_difficulty"),
        )
        .orderBy("stage")
    )


# --------------------------------------------------------------------------
# q225 — packing efficiency audit (padding waste per shard)
# --------------------------------------------------------------------------
@query(
    "q225_packing_efficiency",
    oracle=f"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_PACK_SHARDS} AS shard,
             CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                  AS BIGINT) AS n_tokens
      FROM documents),
    ordered AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM toks),
    pack AS (
      SELECT shard, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin_in_shard, n_tokens AS fill
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN p.fill + o.n_tokens > {_PACK_CAPACITY}
                  THEN p.bin_in_shard + 1 ELSE p.bin_in_shard END,
             CASE WHEN p.fill + o.n_tokens > {_PACK_CAPACITY}
                  THEN o.n_tokens ELSE p.fill + o.n_tokens END
      FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1),
    bins AS (
      SELECT shard, bin_in_shard, SUM(n_tokens) AS bin_tokens
      FROM pack GROUP BY shard, bin_in_shard)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(bin_tokens) AS BIGINT) AS payload_tokens,
           CAST(COUNT(*) * {_PACK_CAPACITY} - SUM(bin_tokens) AS BIGINT)
             AS padding_tokens,
           {r4(f"SUM(bin_tokens) * 1.0 / (COUNT(*) * {_PACK_CAPACITY})")}
             AS fill_ratio,
           CAST(CEIL(SUM(bin_tokens) * 1.0 / {_PACK_CAPACITY}) AS BIGINT)
             AS ideal_bins
    FROM bins
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("extension", "curation", "packing", "audit"),
)
def q225_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit of the q72 packer: per shard, bins used,
    payload vs padding tokens, fill ratio, and the fractional lower
    bound (ceil(payload/capacity)) — the number that tells you whether
    greedy next-fit is leaving GPU-batch tokens on the table (next-fit
    wastes < one max-document per bin, so fill_ratio near
    ideal_bins/n_bins says the order-preserving packer is good enough;
    a large gap is the signal to pay for length-sorted or first-fit-
    decreasing packing). Reuses q72's exact packing (same shards, same
    capacity, same applyInPandas fold); the audit itself is one
    groupBy over the packer's (shard, bin) output.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    packed = pack_documents(sized, capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS)
    bins = packed.groupBy("shard", "bin_in_shard").agg(
        F.sum("n_tokens").alias("bin_tokens")
    )
    cap = F.lit(_PACK_CAPACITY)
    return (
        bins.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_bins"),
            F.sum("bin_tokens").cast("long").alias("payload_tokens"),
            (F.count("*") * cap - F.sum("bin_tokens"))
            .cast("long")
            .alias("padding_tokens"),
            round4(
                F.sum("bin_tokens") / (F.count("*") * cap.cast("double"))
            ).alias("fill_ratio"),
            F.ceil(F.sum("bin_tokens") / cap.cast("double"))
            .cast("long")
            .alias("ideal_bins"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q243 — token-budget greedy fill (budgeted corpus selection)
# --------------------------------------------------------------------------
_FILL_BUDGET = 100_000  # token budget the selection must fit


@query(
    "q243_budget_fill",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             len(list_filter(t, w -> w IN {_EN_SET})) * 1.0 / len(t)
               AS quality
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents)),
    running AS (
      SELECT *,
             SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM scored),
    chosen AS (SELECT * FROM running WHERE cum_tokens <= {_FILL_BUDGET})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_used,
           floor((MIN(quality)) * 10000 + 0.5) / 10000
             AS min_quality_admitted,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc_id
    FROM chosen
    """,
    tags=("extension", "curation", "budget", "selection"),
)
def q243_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus selection: fill a 100k-token budget
    greedily from the highest-quality documents down (stopword-ratio
    quality, doc_id tiebreak) — take every document while the running
    token total stays within budget. This is the knapsack-greedy that
    turns per-document scores (q24/q211) and per-source gates (q208)
    into an actual training-set CUT under a compute budget, reporting
    how deep into the quality distribution the budget reaches.

    NO single-reducer window: the inclusive running token sum comes
    from the distributed prefix-sum (``operators/prefix.
    attach_running_sums`` — range partition on (quality DESC, doc_id),
    local window, broadcast offsets), the same machinery as
    q120/q123; token counts are integers, so the distributed sum is
    bit-equal to the sequential fold.
    """
    from movie_data_pipeline_spark.operators.prefix import (
        attach_running_sums,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        (stopword_count(t, ENGLISH_STOPWORDS) / F.size(t)).alias("quality"),
    )
    running, _n = attach_running_sums(
        scored,
        [F.col("quality").desc(), F.col("doc_id").asc()],
        {"cum_tokens": "n_tokens"},
    )
    chosen = running.filter(F.col("cum_tokens") <= _FILL_BUDGET)
    return chosen.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_used"),
        round4(F.min("quality")).alias("min_quality_admitted"),
        F.max("doc_id").cast("long").alias("last_doc_id"),
    )


# --------------------------------------------------------------------------
# q259 — weighted sampling without replacement (Efraimidis-Spirakis)
# --------------------------------------------------------------------------
AES_N = 100  # sample size
AES_SALT = "aes:"  # hash salt for the per-row uniform
# 2**48 as an exact double; the md5-derived 48-bit uniform u=(h+1)/2^48
# lies in (0, 1] so ln(u) is finite.
AES_SPACE = 281474976710656


def _r8_sql(expr: str) -> str:
    # ln() can differ by 1 ulp across engines; ranking happens on this
    # 8-decimal quantization (finer than round4 because A-ES keys
    # cluster near 0 for heavy docs) with doc_id tiebreak.
    return f"floor(({expr}) * 100000000 + 0.5) / 100000000"


def _r8(col):
    return F.floor(col * F.lit(100000000.0) + F.lit(0.5)) / F.lit(
        100000000.0
    )


@query(
    "q259_weighted_sample_audit",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             {_r8_sql(
                 "ln(CAST(CAST(('0x' || substr(md5('" + AES_SALT + "' || "
                 "CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1 AS DOUBLE)"
                 f" / CAST({AES_SPACE} AS DOUBLE)) / n_chars"
             )} AS k
      FROM documents),
    sel AS (SELECT doc_id, source, n_chars FROM keyed
            ORDER BY k DESC, doc_id LIMIT {AES_N}),
    per AS (
      SELECT source, COUNT(*) AS n_sel, SUM(n_chars) AS w_sel
      FROM sel GROUP BY source),
    tot AS (
      SELECT (SELECT SUM(n_chars) FROM sel) AS w_sel_tot,
             (SELECT SUM(n_chars) FROM documents) AS w_tot),
    base AS (
      SELECT source, SUM(n_chars) AS w_src FROM documents GROUP BY source)
    SELECT b.source,
           CAST(COALESCE(p.n_sel, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(p.w_sel, 0) AS BIGINT) AS chars_selected,
           {r4('CAST(COALESCE(p.w_sel, 0) AS DOUBLE) / t.w_sel_tot')}
             AS selected_share,
           {r4('CAST(b.w_src AS DOUBLE) / t.w_tot')} AS expected_share
    FROM base b LEFT JOIN per p USING (source) CROSS JOIN tot t
    ORDER BY b.source
    """,
    tags=("extension", "curation", "sampling"),
)
def q259_weighted_sample_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): each document gets key ln(u)/w with a
    salted md5-derived uniform u and weight w = n_chars; the top-n keys
    ARE a weight-proportional sample, audited per source against the
    expected weight share. This is the reproducible form of the
    length/quality-weighted subsampling a mixing stage applies
    (q206/q208/q243): hash-derived uniforms make the sample a pure
    function of the corpus — reshardable, resumable, identical on
    every engine and cluster size, the same salt discipline as q39's
    md5-bucket split.

    Shape/scale: one narrow scan computes keys map-side; selection is
    a global top-n (TakeOrderedAndProject — per-partition heaps, no
    sort of the corpus); the audit is two tiny aggregates. A-ES keys
    are rank-equivalent to u^(1/w) (ln is monotone); ranking uses an
    8-decimal quantization of ln(u)/w so an engine's 1-ulp ln
    difference cannot reorder the boundary (doc_id breaks exact ties
    identically on both sides — the q22 contract, one decimal place
    deeper because keys concentrate near 0).
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(AES_SALT), F.col("doc_id").cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ).cast("double") / F.lit(float(AES_SPACE))
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        _r8(F.log(u) / F.col("n_chars")).alias("k"),
    )
    sel = keyed.orderBy(F.desc("k"), "doc_id").limit(AES_N)
    per = sel.groupBy("source").agg(
        F.count("*").alias("n_sel"), F.sum("n_chars").alias("w_sel")
    )
    tot = sel.agg(F.sum("n_chars").alias("w_sel_tot")).crossJoin(
        docs.agg(F.sum("n_chars").alias("w_tot"))
    )
    base = docs.groupBy("source").agg(F.sum("n_chars").alias("w_src"))
    return (
        base.join(per, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.coalesce(F.col("n_sel"), F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.coalesce(F.col("w_sel"), F.lit(0))
            .cast("long")
            .alias("chars_selected"),
            round4(
                F.coalesce(F.col("w_sel"), F.lit(0)).cast("double")
                / F.col("w_sel_tot")
            ).alias("selected_share"),
            round4(
                F.col("w_src").cast("double") / F.col("w_tot")
            ).alias("expected_share"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q266 — temperature-scaled source sampling weights (the T-mix scheme)
# --------------------------------------------------------------------------
_TEMPERATURES = (1.0, 2.0, 5.0)
_TEMP_VALUES = ", ".join(f"({t})" for t in _TEMPERATURES)


@query(
    "q266_temperature_mixing",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM src),
    temps AS (SELECT CAST(t AS DOUBLE) AS temperature
              FROM (VALUES {_TEMP_VALUES}) v(t)),
    raw AS (
      SELECT t.temperature, s.source, s.n_tokens,
             {r4('s.n_tokens * 1.0 / tot.total')} AS corpus_share,
             {r4('pow(s.n_tokens * 1.0 / tot.total, 1.0 / t.temperature)')}
               AS w_raw
      FROM src s CROSS JOIN temps t CROSS JOIN tot),
    norm AS (
      SELECT temperature,
             CAST(SUM(CAST(w_raw AS DECIMAL(20,4))) AS DOUBLE) AS z
      FROM raw GROUP BY temperature)
    SELECT r.temperature, r.source, r.n_tokens, r.corpus_share,
           {r4('r.w_raw / n.z')} AS sample_weight,
           CAST(floor({r4('r.w_raw / n.z')} * tot.total + 0.5) AS BIGINT)
             AS expected_tokens
    FROM raw r JOIN norm n USING (temperature) CROSS JOIN tot
    ORDER BY r.temperature, r.source
    """,
    tags=("extension", "curation", "mixture", "temperature"),
)
def q266_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per source — the third
    standard mixture scheme next to q85 (budget rebalance) and q206
    (alpha-mix): p_i ∝ share_i^(1/T). T=1 reproduces natural
    proportions, T→∞ approaches uniform; multilingual and multi-source
    LLM mixes typically train at T in [2, 5] to lift low-resource
    sources without flattening the head. One row per (temperature,
    source) with the normalized weight and the expected token draw at
    the full-corpus budget.

    Determinism discipline: pow differs by ~1 ulp across engines, so
    each raw weight is round4-QUANTIZED first, the normalizer sums the
    quantized values as DECIMAL(20,4) (order-free, engine-exact), and
    the final weight re-quantizes the ratio (the q206 pattern).
    Expected tokens use the elementary floor(x+0.5) half-up. Scale:
    one per-source aggregate; everything after is arithmetic on an
    |sources| x |temperatures| frame — constant-size next to the
    corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text"))).cast("long")).alias("n_tokens")
    )
    total = src.agg(F.sum("n_tokens").cast("long").alias("total"))
    temps = spark.createDataFrame(
        [(float(t),) for t in _TEMPERATURES], "temperature DOUBLE"
    )
    share = F.col("n_tokens") * F.lit(1.0) / F.col("total")
    raw = (
        src.crossJoin(F.broadcast(temps))
        .crossJoin(F.broadcast(total))
        .select(
            "temperature",
            "source",
            "n_tokens",
            "total",
            round4(share).alias("corpus_share"),
            round4(
                F.pow(share, F.lit(1.0) / F.col("temperature"))
            ).alias("w_raw"),
        )
    )
    norm = raw.groupBy("temperature").agg(
        F.sum(F.col("w_raw").cast("decimal(20,4)"))
        .cast("double")
        .alias("z")
    )
    weight = round4(F.col("w_raw") / F.col("z"))
    return (
        raw.join(F.broadcast(norm), "temperature")
        .select(
            "temperature",
            "source",
            "n_tokens",
            "corpus_share",
            weight.alias("sample_weight"),
            F.floor(weight * F.col("total") + F.lit(0.5))
            .cast("long")
            .alias("expected_tokens"),
        )
        .orderBy("temperature", "source")
    )


# --------------------------------------------------------------------------
# q269 — quality-rule-ladder calibration vs the labeled sample
# --------------------------------------------------------------------------
# Reference label: the generator-written metadata columns (lang,
# n_chars) the ladder does NOT read directly — it predicts language
# from raw text and lengths in tokens. keep iff lang='en' AND
# n_chars >= 120 (~ MIN_TOKENS * avg token width).
_CALIB_CHAR_FLOOR = 120
_CALIB_LABEL_SQL = (
    f"CASE WHEN lang = 'en' AND n_chars >= {_CALIB_CHAR_FLOOR} "
    "THEN 'keep' ELSE 'drop' END"
)


@query(
    "q269_quality_rule_calibration",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    feat AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(t, w -> w IN {_EN_SET})) AS BIGINT) AS n_stop,
             list_max(list_transform(list_distinct(t),
                      w -> len(list_filter(t, x -> x = w)))) AS top_cnt,
             {LANG_SCORES_SQL}
      FROM toks),
    pick AS (SELECT *, {LANG_PICK_SQL} AS predicted_lang FROM feat),
    dec AS (
      SELECT doc_id,
             CASE WHEN n_tokens < {MIN_TOKENS} THEN 'drop'
                  WHEN predicted_lang <> 'en' THEN 'drop'
                  WHEN top_cnt * 1.0 / n_tokens > {MAX_TOP_TOKEN_SHARE}
                    THEN 'drop'
                  WHEN n_stop * 1.0 / n_tokens < {MIN_STOPWORD_RATIO}
                    THEN 'drop'
                  ELSE 'keep' END AS predicted
      FROM pick),
    lab AS (
      SELECT doc_id, {_CALIB_LABEL_SQL} AS labeled FROM documents),
    pred AS (SELECT labeled, predicted FROM lab JOIN dec USING (doc_id)),
    classes(c) AS (VALUES ('drop'), ('keep')),
    sup AS (SELECT labeled AS c, COUNT(*) AS n_sup FROM pred GROUP BY 1),
    prd AS (SELECT predicted AS c, COUNT(*) AS n_pred FROM pred GROUP BY 1),
    cor AS (SELECT labeled AS c, COUNT(*) AS n_cor FROM pred
            WHERE labeled = predicted GROUP BY 1),
    pr AS (
      SELECT classes.c AS decision_class,
             COALESCE(sup.n_sup, 0) AS support,
             COALESCE(prd.n_pred, 0) AS n_predicted,
             COALESCE(cor.n_cor, 0) AS n_correct,
             CASE WHEN COALESCE(prd.n_pred, 0) > 0
                  THEN {r4('CAST(COALESCE(cor.n_cor, 0) AS DOUBLE) / CAST(prd.n_pred AS DOUBLE)')}
             END AS precision,
             CASE WHEN COALESCE(sup.n_sup, 0) > 0
                  THEN {r4('CAST(COALESCE(cor.n_cor, 0) AS DOUBLE) / CAST(sup.n_sup AS DOUBLE)')}
             END AS recall
      FROM classes
      LEFT JOIN sup ON classes.c = sup.c
      LEFT JOIN prd ON classes.c = prd.c
      LEFT JOIN cor ON classes.c = cor.c)
    SELECT decision_class, support, n_predicted, n_correct,
           precision, recall,
           CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
                     AND precision + recall > 0
                THEN {r4('2 * precision * recall / (precision + recall)')}
           END AS f1
    FROM pr
    ORDER BY decision_class
    """,
    tags=("extension", "curation", "eval", "calibration"),
)
def q269_quality_rule_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calibration of q71's keep/drop rule ladder against the corpus's
    LABELED columns (VERDICT r6 #7, the q113 confusion-matrix pattern
    applied to curation): the ladder predicts from raw text only
    (token counts, stopword votes, repetition), the reference label is
    the generator-written metadata it never reads (lang = 'en' and a
    char-length floor). Per class: support, predictions, hits,
    precision, recall, F1 — the report a pipeline produces on a
    labeled sample before trusting a cheap rule ladder at corpus
    scale, and the regression gate for any future threshold change.

    Shape: predictions are q71's one map stage (decision_frame,
    reused verbatim — same constants, same rule order); labels are a
    column expression on the same scan; the three count frames are
    per-class partial-aggregated shuffles of 2 rows each. F1 is
    composed from the round4-QUANTIZED precision/recall on both
    engines (IEEE mult/div on identical quantized inputs is
    deterministic; only ln/exp-family ops are engine-risky).
    """
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        F.when(
            (F.col("lang") == "en")
            & (F.col("n_chars") >= _CALIB_CHAR_FLOOR),
            F.lit("keep"),
        )
        .otherwise(F.lit("drop"))
        .alias("labeled"),
    )
    pred = labeled.join(
        decision_frame(docs).select("doc_id", F.col("decision").alias("predicted")),
        "doc_id",
    )
    classes = spark.createDataFrame([("drop",), ("keep",)], "c STRING")
    sup = pred.groupBy(F.col("labeled").alias("c")).agg(
        F.count("*").alias("n_sup")
    )
    prd = pred.groupBy(F.col("predicted").alias("c")).agg(
        F.count("*").alias("n_pred")
    )
    cor = (
        pred.filter(F.col("labeled") == F.col("predicted"))
        .groupBy(F.col("labeled").alias("c"))
        .agg(F.count("*").alias("n_cor"))
    )
    n_sup = F.coalesce(F.col("n_sup"), F.lit(0))
    n_prd = F.coalesce(F.col("n_pred"), F.lit(0))
    n_cor = F.coalesce(F.col("n_cor"), F.lit(0))
    prec = F.when(
        n_prd > 0, round4(n_cor.cast("double") / F.col("n_pred").cast("double"))
    )
    rec = F.when(
        n_sup > 0, round4(n_cor.cast("double") / F.col("n_sup").cast("double"))
    )
    pr = (
        classes.join(sup.withColumnRenamed("c", "cs"), F.col("c") == F.col("cs"), "left")
        .join(prd.withColumnRenamed("c", "cp"), F.col("c") == F.col("cp"), "left")
        .join(cor.withColumnRenamed("c", "cc"), F.col("c") == F.col("cc"), "left")
        .select(
            F.col("c").alias("decision_class"),
            n_sup.alias("support"),
            n_prd.alias("n_predicted"),
            n_cor.alias("n_correct"),
            prec.alias("precision"),
            rec.alias("recall"),
        )
    )
    f1 = F.when(
        F.col("precision").isNotNull()
        & F.col("recall").isNotNull()
        & (F.col("precision") + F.col("recall") > 0),
        round4(
            F.lit(2)
            * F.col("precision")
            * F.col("recall")
            / (F.col("precision") + F.col("recall"))
        ),
    )
    return pr.select(
        "decision_class",
        "support",
        "n_predicted",
        "n_correct",
        "precision",
        "recall",
        f1.alias("f1"),
    ).orderBy("decision_class")


# --------------------------------------------------------------------------
# q286 — deterministic training ORDER + fixed-size shard manifest
# --------------------------------------------------------------------------
_ORDER_SHARDS = 16
_ORDER_SEED = ":order:epoch0"


@query(
    "q286_training_order_manifest",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || '{_ORDER_SEED}') AS hk
      FROM documents),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM h),
    s AS (
      SELECT doc_id, rnk,
             (rnk - 1) // ((n + {_ORDER_SHARDS - 1}) // {_ORDER_SHARDS})
               AS shard
      FROM r)
    SELECT shard,
           COUNT(*) AS n_docs,
           MIN(rnk) AS min_rank,
           MAX(rnk) AS max_rank,
           CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                     || CAST(rnk AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT)
             AS content_digest
    FROM s GROUP BY shard ORDER BY shard
    """,
    tags=("extension", "training", "shuffle", "manifest"),
)
def q286_training_order_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic GLOBAL training order + FIXED-SIZE shard manifest
    (round 9, VERDICT r8 #3) — the last step between curation and a
    training run: a seeded md5-rank permutation assigns every document
    a global position, shards are exact rank intervals of
    ceil(n / 16) documents (vs q127's hash-mod shards, which balance
    only in expectation), and the published manifest — count, min/max
    rank, membership digest per shard — lets any consumer re-derive
    placement from (doc_id, seed, n) alone and VERIFY a materialized
    shard against its digest before training starts. A different seed
    string re-permutes everything next epoch.

    Scale shape: the permutation rank is
    ``operators/prefix.attach_global_row_number`` — range-partition on
    the md5 key (the parallel sort a global orderBy would do anyway),
    per-partition local row_number, broadcast per-partition offsets;
    no single-partition window anywhere. The corpus count feeds the
    shard width IN-PLAN (1-row aggregate cross-joined broadcast, the
    q285 no-driver-count discipline), so the same plan shards any
    corpus in one pass; the manifest aggregate is one groupBy(shard)
    with map-side combine. The digest is a SUM of per-(doc_id, rank)
    32-bit hashes — order-independent, overflow-safe to ~10^9 docs,
    and exact-integer on both engines.
    """
    from movie_data_pipeline_spark.functions.text import base_hash32
    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(_ORDER_SEED))
        ).alias("hk"),
    )
    ranked, _n = attach_global_row_number(h, ["hk", "doc_id"], out="rnk")
    # In-plan corpus count for the shard width — aggregated from the
    # PRE-rank frame: counting ``ranked`` would replay the whole
    # range-partition sort a second time just to produce one number
    # (ADVICE r9); ``h`` is the same row set one cheap scan earlier.
    n1 = h.agg(F.count("*").alias("n"))
    s = ranked.crossJoin(F.broadcast(n1)).withColumn(
        "shard",
        F.expr(
            f"(rnk - 1) div ((n + {_ORDER_SHARDS - 1}) div {_ORDER_SHARDS})"
        ),
    )
    digest = base_hash32(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("rnk").cast("string"),
        )
    )
    return (
        s.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("rnk").alias("min_rank"),
            F.max("rnk").alias("max_rank"),
            F.sum(digest).alias("content_digest"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q289 — epoch-order decorrelation audit (does the seed re-permute?)
# --------------------------------------------------------------------------
_ORDER_SEED_B = ":order:epoch1"


@query(
    "q289_epoch_order_decorrelation",
    oracle=f"""
    WITH r0 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '{_ORDER_SEED}'),
                        doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM documents),
    r1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '{_ORDER_SEED_B}'),
                        doc_id) AS rnk
      FROM documents),
    j AS (
      SELECT r0.doc_id, r0.n, r0.rnk AS a, r1.rnk AS b,
             (r0.rnk - 1) // ((r0.n + {_ORDER_SHARDS - 1})
                              // {_ORDER_SHARDS}) AS sh_a,
             (r1.rnk - 1) // ((r0.n + {_ORDER_SHARDS - 1})
                              // {_ORDER_SHARDS}) AS sh_b
      FROM r0 JOIN r1 USING (doc_id))
    SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
           {r4('''1.0 - 6.0 * SUM(CAST((a - b) * (a - b) AS DOUBLE))
                  / (MAX(n) * (CAST(MAX(n) AS DOUBLE)
                               * CAST(MAX(n) AS DOUBLE) - 1.0))''')}
             AS spearman_rho,
           CAST(SUM(CASE WHEN sh_a = sh_b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_same_shard,
           {r4('''SUM(CASE WHEN sh_a = sh_b THEN 1 ELSE 0 END) * 1.0
                  / MAX(n)''')} AS same_shard_rate
    FROM j
    """,
    tags=("extension", "training", "shuffle", "audit"),
)
def q289_epoch_order_decorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Epoch-order DECORRELATION audit (round 9): the q286 permutation
    claims a different seed re-shuffles the corpus — this measures it.
    Spearman rank correlation between the epoch0 and epoch1 global
    orders (exact integer d^2 sum; independent uniform orders give
    rho ~ 0 with sd ~ 1/sqrt(n-1)) plus how many docs land in the SAME
    fixed-size shard twice (independence predicts ~n/16). A training
    run reads this one row before trusting "epochs are independently
    shuffled" — catching both a broken seed plumb (rho = 1, every doc
    same shard) and a degenerate hash.

    Scale: two distributed rank passes (operators/prefix, no global
    window), one doc_id equi-join, one single-row aggregate. The rho
    denominator is computed in doubles (n^3 overflows BIGINT at
    ~2^21 docs); d^2 sums exactly as integers and converts once.
    """
    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")

    def ranked(seed: str, out: str) -> DataFrame:
        h = docs.select(
            "doc_id",
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(seed))
            ).alias("hk"),
        )
        r, _ = attach_global_row_number(h, ["hk", "doc_id"], out=out)
        return r.select("doc_id", out)

    j = (
        ranked(_ORDER_SEED, "a")
        .join(ranked(_ORDER_SEED_B, "b"), "doc_id")
        .crossJoin(
            F.broadcast(docs.agg(F.count("*").alias("n")))
        )
        .withColumn(
            "w", F.expr(f"(n + {_ORDER_SHARDS - 1}) div {_ORDER_SHARDS}")
        )
    )
    d2 = ((F.col("a") - F.col("b")) * (F.col("a") - F.col("b"))).cast(
        "double"
    )
    same = F.when(
        F.expr("(a - 1) div w") == F.expr("(b - 1) div w"), 1
    ).otherwise(0)
    return j.agg(
        F.max("n").cast("long").alias("n_docs"),
        round4(
            F.lit(1.0)
            - F.lit(6.0)
            * F.sum(d2)
            / (
                F.max("n")
                * (
                    F.max("n").cast("double") * F.max("n").cast("double")
                    - F.lit(1.0)
                )
            )
        ).alias("spearman_rho"),
        F.sum(same).cast("long").alias("n_same_shard"),
        round4(
            F.sum(same) * F.lit(1.0) / F.max("n")
        ).alias("same_shard_rate"),
    )


# --------------------------------------------------------------------------
# q291 — training-order locality audit (same-source runs per shard)
# --------------------------------------------------------------------------
@query(
    "q291_order_locality_audit",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '{_ORDER_SEED}'),
                        doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM documents),
    s AS (
      SELECT doc_id, source, rnk,
             (rnk - 1) // ((n + {_ORDER_SHARDS - 1}) // {_ORDER_SHARDS})
               AS shard
      FROM r),
    b AS (
      SELECT shard, source, rnk,
             CASE WHEN LAG(source) OVER (
                    PARTITION BY shard ORDER BY rnk) IS DISTINCT FROM source
                  THEN 1 ELSE 0 END AS brk
      FROM s),
    g AS (
      SELECT shard, source, rnk,
             SUM(brk) OVER (PARTITION BY shard ORDER BY rnk) AS grp
      FROM b),
    runs AS (
      SELECT shard, grp, COUNT(*) AS run_len
      FROM g GROUP BY shard, grp)
    SELECT shard,
           CAST(SUM(run_len) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS max_same_source_run
    FROM runs GROUP BY shard ORDER BY shard
    """,
    tags=("extension", "training", "shuffle", "audit"),
)
def q291_order_locality_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training-order LOCALITY audit (round 9): per q286 shard, the
    gaps-and-islands run-length profile of the ``source`` column along
    the seeded read order — run count and the longest same-source run.
    Long runs mean consecutive training batches drawn from one source
    (the gradient-correlation pathology a global shuffle exists to
    prevent); a healthy permutation keeps max runs near the geometric
    bound ~log(shard)/log(1/p_src). Read next to q289: that row says
    epochs differ, this one says each epoch is WELL-MIXED internally.

    Scale: one distributed rank pass, then every window partitions BY
    SHARD (frames of n/16, fully parallel); runs collapse in a
    (shard, grp) aggregate with map-side combine. Integer-only output.
    """
    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(_ORDER_SEED))
        ).alias("hk"),
    )
    ranked, _ = attach_global_row_number(h, ["hk", "doc_id"], out="rnk")
    s = ranked.crossJoin(
        F.broadcast(docs.agg(F.count("*").alias("n")))
    ).withColumn(
        "shard",
        F.expr(
            f"(rnk - 1) div ((n + {_ORDER_SHARDS - 1}) div {_ORDER_SHARDS})"
        ),
    )
    w = Window.partitionBy("shard").orderBy("rnk")
    brk = F.when(
        ~F.lag("source").over(w).eqNullSafe(F.col("source")), 1
    ).otherwise(0)
    runs = (
        s.withColumn("brk", brk)
        .withColumn("grp", F.sum("brk").over(w))
        .groupBy("shard", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    return (
        runs.groupBy("shard")
        .agg(
            F.sum("run_len").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_same_source_run"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q293 — shard token-budget audit (doc-balanced != token-balanced)
# --------------------------------------------------------------------------
@query(
    "q293_shard_token_budget_audit",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR) || '{_ORDER_SEED}') AS hk
      FROM documents),
    r AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM h),
    s AS (
      SELECT doc_id, n_tokens,
             (rnk - 1) // ((n + {_ORDER_SHARDS - 1}) // {_ORDER_SHARDS})
               AS shard
      FROM r),
    per AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens
      FROM s GROUP BY shard),
    tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS k FROM per)
    SELECT shard, n_docs, n_tokens, max_doc_tokens,
           {r4('n_tokens * 1.0 / t')} AS token_share,
           {r4('n_tokens * 1.0 / (t * 1.0 / k)')} AS balance_ratio
    FROM per, tot ORDER BY shard
    """,
    tags=("extension", "training", "shuffle", "audit", "budget"),
)
def q293_shard_token_budget_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shard TOKEN-budget audit (round 9): q286's shards hold equal
    DOCUMENT counts, but training steps consume TOKENS — a shard that
    drew long documents runs more steps than its peers and skews
    data-parallel epoch boundaries. Per shard: docs, token total, the
    largest single document, token share, and the balance ratio
    (tokens / mean-tokens-per-shard; 1.0 = perfectly balanced, the
    number a capacity planner thresholds before deciding to re-pack by
    token budget with q72/q243 instead of by count). The md5-rank
    permutation makes shard token totals concentrate tightly around
    the mean (sum of ~n/16 iid draws), so a ratio far from 1.0 is a
    red flag on the hash, not bad luck.

    Scale: one rank pass (distributed prefix), one groupBy(shard) with
    map-side combine, one 16-row broadcast total — the audit costs a
    token count over the corpus.
    """
    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(_ORDER_SEED))
        ).alias("hk"),
    )
    ranked, _ = attach_global_row_number(h, ["hk", "doc_id"], out="rnk")
    s = ranked.crossJoin(
        F.broadcast(docs.agg(F.count("*").alias("n")))
    ).withColumn(
        "shard",
        F.expr(
            f"(rnk - 1) div ((n + {_ORDER_SHARDS - 1}) div {_ORDER_SHARDS})"
        ),
    )
    per = s.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.max("n_tokens").cast("long").alias("max_doc_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("t"), F.count("*").alias("k")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "max_doc_tokens",
            round4(F.col("n_tokens") * F.lit(1.0) / F.col("t")).alias(
                "token_share"
            ),
            round4(
                F.col("n_tokens")
                * F.lit(1.0)
                / (F.col("t") * F.lit(1.0) / F.col("k"))
            ).alias("balance_ratio"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q298 — curriculum-ordered shard manifest (round 10, VERDICT r9 #4)
# --------------------------------------------------------------------------
_CURRICULUM_SEED = ":curriculum:epoch0"


@query(
    "q298_curriculum_shard_manifest",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             n_chars * 1.0
               / len(string_split_regex(lower(trim(text)), '\\s+'))
               AS difficulty
      FROM documents),
    tiled AS (
      SELECT doc_id,
             NTILE(4) OVER (ORDER BY difficulty, doc_id) AS stage
      FROM scored),
    h AS (
      SELECT doc_id, stage,
             md5(CAST(doc_id AS VARCHAR) || '{_CURRICULUM_SEED}') AS hk
      FROM tiled),
    r AS (
      SELECT doc_id, stage,
             ROW_NUMBER() OVER (ORDER BY stage, hk, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM h),
    s AS (
      SELECT doc_id, stage, rnk,
             (rnk - 1) // ((n + {_ORDER_SHARDS - 1}) // {_ORDER_SHARDS})
               AS shard
      FROM r)
    SELECT shard,
           COUNT(*) AS n_docs,
           MIN(rnk) AS min_rank,
           MAX(rnk) AS max_rank,
           CAST(MIN(stage) AS BIGINT) AS min_stage,
           CAST(MAX(stage) AS BIGINT) AS max_stage,
           CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                     || CAST(rnk AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT)
             AS content_digest
    FROM s GROUP BY shard ORDER BY shard
    """,
    tags=("extension", "training", "curriculum", "shuffle", "manifest"),
)
def q298_curriculum_shard_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CURRICULUM-ordered training shard manifest (round 10, VERDICT
    r9 #4) — the composition the training layer was missing: q215
    assigns difficulty stages and q286 builds a seeded global order,
    but a staged training run consumes ONE order — curriculum stage
    first, seeded permutation WITHIN each stage — cut into fixed-size
    shards that a loader can fetch and verify. This query publishes
    that manifest: per shard its document count, global-rank interval,
    the curriculum stage span it covers (the boundary shards are the
    only ones spanning two stages — a loader can schedule stage
    transitions mid-shard or snap to shard boundaries), and the
    order-independent membership digest of q286 (sum of per-
    (doc_id, rank) 32-bit hashes) to verify a materialized shard
    before training starts. A new epoch seed re-permutes WITHIN each
    stage while the stage progression stays fixed — exactly
    curriculum-learning semantics.

    Plan shape: TWO distributed rank passes, no global window
    anywhere — stage comes from q215's machinery (range partition on
    (difficulty, doc_id), local row_number, broadcast offsets, exact
    NTILE arithmetic), then the training order ranks
    (stage, md5(doc_id||seed), doc_id) with the same
    ``attach_global_row_number``; the shard width is ceil(n/16) with
    n aggregated in-plan from the pre-rank frame (q286's discipline,
    incl. the ADVICE r9 fix), and the manifest is one groupBy(shard)
    with map-side combine. Linear in corpus size; both rank passes
    are the parallel range-partition sort a global orderBy would cost
    anyway.
    """
    from movie_data_pipeline_spark.functions.text import base_hash32
    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
        ntile_from_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id", (F.col("n_chars") / F.size(t)).alias("difficulty")
    )
    ranked0, n_docs = attach_global_row_number(
        scored, ["difficulty", "doc_id"], "rn"
    )
    tiled = ranked0.select(
        "doc_id",
        ntile_from_row_number(F.col("rn"), n_docs, 4)
        .cast("int")
        .alias("stage"),
    )
    h = tiled.withColumn(
        "hk",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(_CURRICULUM_SEED)
            )
        ),
    )
    ranked, _n = attach_global_row_number(
        h, ["stage", "hk", "doc_id"], out="rnk"
    )
    n1 = h.agg(F.count("*").alias("n"))
    s = ranked.crossJoin(F.broadcast(n1)).withColumn(
        "shard",
        F.expr(
            f"(rnk - 1) div ((n + {_ORDER_SHARDS - 1}) div {_ORDER_SHARDS})"
        ),
    )
    digest = base_hash32(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("rnk").cast("string"),
        )
    )
    return (
        s.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("rnk").alias("min_rank"),
            F.max("rnk").alias("max_rank"),
            F.min("stage").cast("long").alias("min_stage"),
            F.max("stage").cast("long").alias("max_stage"),
            F.sum(digest).alias("content_digest"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q300 — curriculum token pacing table (round 10; q298's budget twin)
# --------------------------------------------------------------------------
@query(
    "q300_curriculum_token_pacing",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                  AS BIGINT) AS n_tokens,
             n_chars * 1.0
               / len(string_split_regex(lower(trim(text)), '\\s+'))
               AS difficulty
      FROM documents),
    tiled AS (
      SELECT doc_id, n_tokens,
             NTILE(4) OVER (ORDER BY difficulty, doc_id) AS stage
      FROM scored),
    h AS (
      SELECT doc_id, stage, n_tokens,
             md5(CAST(doc_id AS VARCHAR) || '{_CURRICULUM_SEED}') AS hk
      FROM tiled),
    r AS (
      SELECT doc_id, stage, n_tokens,
             ROW_NUMBER() OVER (ORDER BY stage, hk, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM h),
    s AS (
      SELECT stage, n_tokens,
             (rnk - 1) // ((n + {_ORDER_SHARDS - 1}) // {_ORDER_SHARDS})
               AS shard
      FROM r),
    per_stage AS (
      SELECT stage,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT shard) AS n_shards,
             SUM(n_tokens) AS stage_tokens
      FROM s GROUP BY stage)
    SELECT CAST(a.stage AS BIGINT) AS stage,
           a.n_docs AS n_docs,
           a.n_shards AS n_shards,
           CAST(a.stage_tokens AS BIGINT) AS stage_tokens,
           CAST(SUM(b.stage_tokens) AS BIGINT) AS cum_tokens
    FROM per_stage a JOIN per_stage b ON b.stage <= a.stage
    GROUP BY a.stage, a.n_docs, a.n_shards, a.stage_tokens
    ORDER BY stage
    """,
    tags=("extension", "training", "curriculum", "budget"),
)
def q300_curriculum_token_pacing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum TOKEN PACING table (round 10; q298's budget
    complement): per difficulty stage, the document count, how many of
    q298's fixed-size shards the stage's documents occupy, the stage's
    token total, and the CUMULATIVE token budget through that stage —
    the four-row table a staged training schedule reads to answer
    "after how many consumed tokens does stage s unlock" (the q293
    token-budget discipline applied to the curriculum axis: q298's
    shards are doc-balanced by construction, and this is the table
    that says what that means in tokens).

    Shape: q298's exact pipeline (two distributed rank passes, shard
    width in-plan) carrying ``n_tokens`` through, one groupBy(stage)
    with map-side combine, then the 4-row cumulative via a bounded
    sequence-explode + equi-join (stage s contributes to every stage
    >= s) instead of an unpartitioned running window or an
    inequality self-join — constant-size, broadcast-hash, audit-clean. Linear in corpus
    size.
    """
    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
        ntile_from_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        (F.col("n_chars") / F.size(t)).alias("difficulty"),
    )
    ranked0, n_docs = attach_global_row_number(
        scored, ["difficulty", "doc_id"], "rn"
    )
    tiled = ranked0.select(
        "doc_id",
        "n_tokens",
        ntile_from_row_number(F.col("rn"), n_docs, 4)
        .cast("int")
        .alias("stage"),
    )
    h = tiled.withColumn(
        "hk",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(_CURRICULUM_SEED)
            )
        ),
    )
    ranked, _n = attach_global_row_number(
        h, ["stage", "hk", "doc_id"], out="rnk"
    )
    n1 = h.agg(F.count("*").alias("n"))
    s = ranked.crossJoin(F.broadcast(n1)).withColumn(
        "shard",
        F.expr(
            f"(rnk - 1) div ((n + {_ORDER_SHARDS - 1}) div {_ORDER_SHARDS})"
        ),
    )
    per_stage = s.groupBy("stage").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("shard").alias("n_shards"),
        F.sum("n_tokens").alias("stage_tokens"),
    )
    # 4-row cumulative WITHOUT an inequality self-join (which compiles
    # to a CartesianProduct and trips the CI plan audit) and without a
    # running window: stage s contributes its token total to every
    # stage >= s via a bounded sequence explode, then one equi-join
    # back — broadcast-hash all the way.
    contrib = per_stage.select(
        F.explode(F.sequence(F.col("stage"), F.lit(4))).alias("cstage"),
        F.col("stage_tokens").alias("ctokens"),
    )
    cum = contrib.groupBy("cstage").agg(
        F.sum("ctokens").cast("long").alias("cum_tokens")
    )
    return (
        per_stage.join(cum, per_stage["stage"] == cum["cstage"])
        .select(
            F.col("stage").cast("long").alias("stage"),
            "n_docs",
            "n_shards",
            F.col("stage_tokens").cast("long").alias("stage_tokens"),
            "cum_tokens",
        )
        .orderBy("stage")
    )


# --------------------------------------------------------------------------
# q310 — shard-manifest staleness audit after erasure (round 11,
# VERDICT r10 #4)
# --------------------------------------------------------------------------
@query(
    "q310_manifest_staleness_audit",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || '{_ORDER_SEED}') AS hk
      FROM documents),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM h),
    s AS (
      SELECT doc_id, rnk,
             (rnk - 1) // ((n + {_ORDER_SHARDS - 1}) // {_ORDER_SHARDS})
               AS shard
      FROM r),
    d AS (
      SELECT shard,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                   || CAST(rnk AS VARCHAR)), 1, 8)) AS BIGINT) AS dig,
             (doc_id % 6 = 2) AS gone
      FROM s)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN gone THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing,
           CAST(SUM(dig) AS BIGINT) AS published_digest,
           CAST(SUM(CASE WHEN gone THEN 0 ELSE dig END) AS BIGINT)
             AS surviving_digest,
           CAST(CASE WHEN SUM(CASE WHEN gone THEN 1 ELSE 0 END) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS stale
    FROM d GROUP BY shard ORDER BY shard
    """,
    tags=("extension", "training", "manifest", "lifecycle", "erasure",
          "audit"),
)
def q310_manifest_staleness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shard-manifest STALENESS audit after an erasure (round 11,
    VERDICT r10 #4): ``erase_documents`` scrubs the corpus and its
    band/IVF indexes, but a PUBLISHED q286 training-order manifest is
    a derived artifact too — after an erasure it silently references
    deleted documents, and a trainer that verifies a materialized
    shard against its digest either fails opaquely or trains on text
    that was supposed to be gone. The audit
    (``operators/index_lifecycle.audit_shard_manifest``) closes the
    loop, run here in the erase cadence end to end:

    1. commit the documents as a versioned corpus and PUBLISH the
       q286 manifest as a VersionedTable whose meta pins its
       derivation (order seed, shard count, built-at corpus version);
    2. ``erase_documents(..., manifest_paths=[...])`` — corpus
       delete_where (``doc_id % 6 = 2``) plus the manifest audit in
       the same cadence (the returned stats carry the stale counts;
       asserted consistent with the audit frame);
    3. return the per-shard audit: published digest, digest over the
       SURVIVING members (re-derived from the corpus AS OF the build
       version via time travel), missing count, and the stale flag.

    The oracle derives everything from the q286 rank/digest arithmetic
    and the erase predicate alone. With a seeded md5 permutation every
    shard almost surely loses members (~1/6 of the corpus spread
    uniformly), so all 16 rows flag stale — the point: ONE erasure
    invalidates the whole published training order, and the audit says
    so before a trainer does. Scale: the q286 rank machinery + two
    column-pruned joins + one groupBy(shard) — the audit costs what
    the manifest build cost.
    """
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        audit_shard_manifest,
        erase_documents,
    )
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    docs = load_table(spark, sf_dir, "documents")
    with scratch_dir("q310") as base:
        corpus_path, manifest_path = f"{base}/corpus", f"{base}/manifest"
        VersionedTable(corpus_path).commit(docs)
        # build the q286 manifest from the COMMITTED corpus snapshot
        # (round 12: through the ONE factored derivation republish and
        # the audit also use — operators/index_lifecycle)
        from movie_data_pipeline_spark.operators.index_lifecycle import (
            build_order_manifest,
        )

        c0 = VersionedTable(corpus_path).read(spark, version=0)
        manifest = build_order_manifest(c0, _ORDER_SEED, _ORDER_SHARDS)
        VersionedTable(manifest_path).commit(
            manifest,
            meta={
                "order_seed": _ORDER_SEED,
                "n_shards": _ORDER_SHARDS,
                "built_at_corpus_version": 0,
            },
        )
        stats = erase_documents(
            spark, corpus_path, [], "doc_id % 6 = 2",
            manifest_paths=[manifest_path],
        )
        audit = audit_shard_manifest(
            spark, manifest_path, corpus_path
        ).localCheckpoint(eager=True)
        # cadence stats must agree with the audit frame
        row = audit.agg(
            F.sum("stale").alias("s"), F.sum("n_missing").alias("m")
        ).first()
        recorded = stats["manifests"][manifest_path]
        assert recorded == {
            "n_stale_shards": int(row["s"]),
            "n_missing_docs": int(row["m"]),
        }, (recorded, row)
        return audit


# --------------------------------------------------------------------------
# q314 — manifest REPUBLISH: close the staleness loop (round 12,
# VERDICT r11 #2)
# --------------------------------------------------------------------------
@query(
    "q314_manifest_republish",
    oracle=f"""
    WITH surv AS (
      SELECT doc_id FROM documents WHERE NOT (doc_id % 6 = 2)),
    h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || '{_ORDER_SEED}') AS hk
      FROM surv),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM h),
    s AS (
      SELECT doc_id, rnk,
             (rnk - 1) // ((n + {_ORDER_SHARDS - 1}) // {_ORDER_SHARDS})
               AS shard
      FROM r),
    d AS (
      SELECT shard, rnk,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                   || CAST(rnk AS VARCHAR)), 1, 8)) AS BIGINT) AS dig
      FROM s)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(rnk) AS BIGINT) AS min_rank,
           CAST(MAX(rnk) AS BIGINT) AS max_rank,
           CAST(SUM(dig) AS BIGINT) AS content_digest
    FROM d GROUP BY shard ORDER BY shard
    """,
    tags=("extension", "training", "manifest", "lifecycle", "erasure",
          "republish"),
)
def q314_manifest_republish(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Manifest REPUBLISH after erasure (round 12, VERDICT r11 #2):
    q310's audit flags a published training-shard manifest whose
    members were erased, but until this round the cadence ended with
    "go rebuild it yourself". ``operators/index_lifecycle.
    republish_manifest`` is the one-call fix, and
    ``erase_documents(republish=True)`` runs it in the erasure cadence
    itself. The replay drives the full loop:

    1. commit the documents as a versioned corpus and publish the
       q286 manifest (through the ONE factored derivation,
       ``build_order_manifest``) with its derivation pinned;
    2. ``erase_documents(..., republish=True)`` — the corpus delete
       (``doc_id % 6 = 2``), the audit (all shards stale — asserted
       from the returned stats), the republish over the new head in
       the same cadence, and the re-audit (asserted ZERO stale, zero
       missing);
    3. the re-audit is also re-run standalone and every shard's
       published digest must equal its surviving digest — the
       trainer-facing invariant;
    4. the republished manifest must be row-identical to a
       from-scratch build over the current head (the q307 "equals
       fresh build" bar — asserted with a two-way exceptAll), with
       ``built_at_corpus_version`` bumped to the head version;
    5. the stored republished manifest is returned and
       hash-verified against an oracle that derives it from first
       principles (survivors re-ranked under the SAME pinned seed,
       fixed-size shards over the NEW count, order-independent digest).

    Scale: the republish costs exactly one manifest build (one rank
    pass + one groupBy(shard)) — the same price the original publish
    paid; the audit legs are two column-pruned joins each. Linear.
    """
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        audit_shard_manifest,
        build_order_manifest,
        erase_documents,
    )
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    docs = load_table(spark, sf_dir, "documents")
    with scratch_dir("q314") as base:
        corpus_path, manifest_path = f"{base}/corpus", f"{base}/manifest"
        VersionedTable(corpus_path).commit(docs)
        c0 = VersionedTable(corpus_path).read(spark, version=0)
        VersionedTable(manifest_path).commit(
            build_order_manifest(c0, _ORDER_SEED, _ORDER_SHARDS),
            meta={
                "order_seed": _ORDER_SEED,
                "n_shards": _ORDER_SHARDS,
                "built_at_corpus_version": 0,
            },
        )
        stats = erase_documents(
            spark, corpus_path, [], "doc_id % 6 = 2",
            manifest_paths=[manifest_path], republish=True,
        )
        m = stats["manifests"][manifest_path]
        assert m["n_stale_shards"] > 0, "erasure left no stale shard?"
        assert m["republished_version"] == 1
        assert m["n_stale_shards_after_republish"] == 0
        assert m["n_missing_docs_after_republish"] == 0

        mt = VersionedTable(manifest_path)
        meta = mt.manifest()["meta"]
        assert meta["built_at_corpus_version"] == 1  # the post-delete head
        assert meta["order_seed"] == _ORDER_SEED

        # trainer-facing invariant: every published digest survives
        audit = audit_shard_manifest(spark, manifest_path, corpus_path)
        bad = audit.filter(
            (F.col("stale") != 0)
            | (F.col("published_digest") != F.col("surviving_digest"))
        ).count()
        assert bad == 0, f"{bad} shards still stale after republish"

        # equals a from-scratch build over the current head
        stored = mt.read(spark)
        fresh = build_order_manifest(
            VersionedTable(corpus_path).read(spark),
            _ORDER_SEED,
            _ORDER_SHARDS,
        )
        assert stored.exceptAll(fresh).isEmpty()
        assert fresh.exceptAll(stored).isEmpty()

        result = stored.select(
            F.col("shard").cast("long").alias("shard"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("min_rank").cast("long").alias("min_rank"),
            F.col("max_rank").cast("long").alias("max_rank"),
            F.col("content_digest").cast("long").alias("content_digest"),
        ).orderBy("shard")
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# q318 — maintenance planner: every lifecycle signal in one frame
# (round 12)
# --------------------------------------------------------------------------
def _q318_oracle() -> str:
    from movie_data_pipeline_spark.plans.dedup import _SIMHASH_VOTE_CTES

    return f"""
    WITH {_SIMHASH_VOTE_CTES},
    pin AS (
      SELECT bit_idx, SUM(vote) AS s, COUNT(*) AS n
      FROM votes WHERE doc_id % 4 = 0 GROUP BY bit_idx),
    bef AS (
      -- the audit runs AFTER the erasure: imbalance is measured over
      -- the surviving corpus under the (pre-erasure) pinned thresholds
      SELECT v.bit_idx,
             SUM(CASE WHEN v.vote * p.n > p.s THEN 1 ELSE 0 END)
               AS n_above,
             COUNT(*) AS n_docs
      FROM votes v JOIN pin p USING (bit_idx)
      WHERE NOT (v.doc_id % 6 = 2)
      GROUP BY v.bit_idx),
    imb AS (
      SELECT floor(AVG(floor(ABS(2.0 * n_above / n_docs - 1.0)
                             * 10000 + 0.5) / 10000)
                   * 10000 + 0.5) / 10000 AS v
      FROM bef),
    ndel AS (
      SELECT COUNT(*) AS v FROM documents WHERE doc_id % 6 = 2),
    nall AS (SELECT COUNT(*) AS v FROM documents),
    h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || '{_ORDER_SEED}') AS hk
      FROM documents),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM h),
    s AS (
      SELECT doc_id,
             (rnk - 1) // ((n + {_ORDER_SHARDS - 1}) // {_ORDER_SHARDS})
               AS shard
      FROM r),
    stale AS (
      SELECT COUNT(*) AS v FROM (
        SELECT shard FROM s GROUP BY shard
        HAVING SUM(CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END) > 0)),
    plan(target, action, metric, threshold, recommended) AS (
      SELECT 'epoch0', 'republish', (SELECT v FROM stale) * 1.0, 0.0,
             CASE WHEN (SELECT v FROM stale) > 0 THEN 1 ELSE 0 END
      UNION ALL
      SELECT 'minhash_bands', 'scrub', (SELECT v FROM ndel) * 4.0, 0.0,
             CASE WHEN (SELECT v FROM ndel) > 0 THEN 1 ELSE 0 END
      UNION ALL
      SELECT 'simhash_bands', 'migrate_rung',
             (SELECT v FROM nall) * 1.0, 8192.0,
             CASE WHEN (SELECT v FROM nall) > 8192 THEN 1 ELSE 0 END
      UNION ALL
      SELECT 'simhash_bands', 'recenter', (SELECT v FROM imb), 0.2,
             CASE WHEN (SELECT v FROM imb) > 0.2 THEN 1 ELSE 0 END
      UNION ALL
      SELECT 'simhash_bands', 'scrub', (SELECT v FROM ndel) * 6.0, 0.0,
             CASE WHEN (SELECT v FROM ndel) > 0 THEN 1 ELSE 0 END)
    SELECT target, action, metric, threshold,
           CAST(recommended AS BIGINT) AS recommended
    FROM plan ORDER BY target, action
    """


@query(
    "q318_maintenance_planner",
    oracle=_q318_oracle(),
    tags=("extension", "lifecycle", "audit", "planner", "dedup",
          "manifest"),
)
def q318_maintenance_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MAINTENANCE PLANNER (round 12): rounds 10-12 built the full
    lifecycle toolkit — scrub, rung migration, re-center, republish,
    pruned compaction — each with its own audit; this is the
    operational capstone that evaluates every DATA-derivable signal in
    ONE frame a scheduler can act on
    (``operators/index_lifecycle.plan_maintenance``). The replay
    constructs a corpus with every signal live:

    1. documents committed as a versioned corpus; a centered rung-1
       SimHash band index (thresholds pinned from the ``doc_id%4=0``
       quarter — a mildly drifted space), a MinHash band index, and a
       published q286 shard manifest;
    2. an erasure (``doc_id % 6 = 2``) via bare ``delete_where`` —
       deliberately WITHOUT the scrub/republish cadence, leaving
       phantom index rows and a stale manifest for the planner to
       find;
    3. ``plan_maintenance`` evaluates: phantom rows per index
       (scrub — recommended for both), stored fingerprints vs the
       pinned rung's ladder ceiling (migrate_rung — below threshold
       at these SFs), current-corpus imbalance under the pinned
       centered thresholds vs the SCALING.md 0.2 bar (recenter), and
       stale shards per the manifest audit (republish — recommended).

    The oracle derives every metric from first principles: phantom
    counts from the erase predicate times the band layout (6 rung-1
    SimHash rows, 4 MinHash band rows per doc), the fingerprint count,
    the mean pinned-space imbalance from the vote arithmetic, and the
    stale-shard count from the q286 rank derivation. File-layout
    signals are deliberately absent: ``compact`` self-plans from the
    manifest census and no-ops when clean.

    Scale: the planner pays exactly the underlying audits' costs (one
    anti-join per index, one distinct count, one vote aggregate, one
    manifest re-derivation) — all linear, all column-pruned.
    """
    from movie_data_pipeline_spark.operators.dedup import (
        band_signatures,
        measure_center_thresholds,
        minhash_signatures_wide,
        simhash_centered_pinned,
    )
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        build_order_manifest,
        plan_maintenance,
        simhash_index,
        simhash_layout,
    )
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    docs = load_table(spark, sf_dir, "documents")
    with scratch_dir("q318") as base:
        corpus_p = f"{base}/corpus"
        sh_p, mh_p, man_p = f"{base}/sh", f"{base}/mh", f"{base}/man"
        VersionedTable(corpus_p).commit(docs)
        c0 = VersionedTable(corpus_p).read(spark, version=0)

        th0 = measure_center_thresholds(
            c0.filter(F.col("doc_id") % 4 == 0)
        )
        fp = simhash_centered_pinned(c0, th0)

        # The three derived-artifact builds write three DIFFERENT
        # tables from the same committed snapshot — independent eager
        # jobs in separate directories.
        def _build_sh() -> None:
            layout = simhash_layout(1, None, None, th0)
            VersionedTable(sh_p).commit(
                simhash_index(fp, layout), meta=layout
            )

        def _build_mh() -> None:
            VersionedTable(mh_p).commit(
                band_signatures(minhash_signatures_wide(c0)).select(
                    "doc_id", "band", "band_sig"
                )
            )

        def _build_man() -> None:
            VersionedTable(man_p).commit(
                build_order_manifest(c0, _ORDER_SEED, _ORDER_SHARDS),
                meta={
                    "order_seed": _ORDER_SEED,
                    "n_shards": _ORDER_SHARDS,
                    "built_at_corpus_version": 0,
                },
            )

        overlap(_build_sh, _build_mh, _build_man)
        # the un-maintained erasure the planner exists to catch
        VersionedTable(corpus_p).delete_where(spark, "doc_id % 6 = 2")

        plan = plan_maintenance(
            spark,
            corpus_p,
            simhash_indexes={"simhash_bands": sh_p},
            generic_indexes={"minhash_bands": mh_p},
            manifests={"epoch0": man_p},
        ).localCheckpoint(eager=True)
        # the two hard signals must actually fire
        rec = {
            (r["target"], r["action"]): r["recommended"]
            for r in plan.collect()
        }
        assert rec[("simhash_bands", "scrub")] == 1
        assert rec[("minhash_bands", "scrub")] == 1
        assert rec[("epoch0", "republish")] == 1
        return plan
