"""Text-analysis queries over ``documents`` (LLM-pipeline extensions):
token counting, quality scoring, language ID, fingerprinting — all pure
column expressions with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_pipeline_spark.functions.text import tokens
from movie_data_pipeline_spark.plans.core import query, r4, round4
from movie_data_pipeline_spark.sources.registry import load_table

# Stopword lists for the n-gram-free language-ID heuristic: score each
# language by how many of its high-frequency function words appear as
# tokens; argmax wins, ties break alphabetically ('de' < 'en' < ...).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "and", "of", "to", "is", "in", "that"),
    "es": ("el", "la", "los", "las", "de", "que", "y", "es"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def _in_list_sql(items: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in items) + ")"


# --------------------------------------------------------------------------
# q24 — token counts + quality features
# --------------------------------------------------------------------------
_EN_SET = _in_list_sql(ENGLISH_STOPWORDS)


@query(
    "q24_text_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, n_chars,
             string_split_regex(lower(trim(text)), '\\s+') AS t,
             length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS n_punct
      FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(t, w -> w IN {_EN_SET})) AS BIGINT) AS n_stopwords,
           {r4("(n_chars - len(t) + 1) * 1.0 / len(t)")} AS avg_token_len,
           {r4("n_punct * 1.0 / n_chars")} AS punct_ratio,
           {r4(f"len(list_filter(t, w -> w IN {_EN_SET})) * 1.0 / len(t)")} AS stopword_ratio
    FROM toks
    ORDER BY doc_id
    """,
    tags=("extension", "text", "quality"),
)
def q24_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, stopword count/ratio,
    average token length, punctuation ratio.

    All narrow column expressions (split/filter/length) — whole-stage
    codegen, zero shuffles; at 100 TB this is a pure map stage.
    avg_token_len is derived as (chars - spaces)/tokens assuming
    single-space joins, matching the corpus format.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n_tokens = F.size(t).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    n_stop = F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w))).cast("long")
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?'\"]", ""))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        round4((F.col("n_chars") - n_tokens + 1) * 1.0 / n_tokens).alias(
            "avg_token_len"
        ),
        round4(n_punct * 1.0 / F.col("n_chars")).alias("punct_ratio"),
        round4(n_stop * 1.0 / n_tokens).alias("stopword_ratio"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q25 — language identification (stopword-voting heuristic)
# --------------------------------------------------------------------------
# Shared with q71 (curation): the SQL fragments and Spark column
# builders below are one source of truth for the lang-ID heuristic.
LANG_SCORES_SQL = ",\n           ".join(
    f"CAST(len(list_filter(t, w -> w IN {_in_list_sql(words)})) AS BIGINT) AS score_{lang}"
    for lang, words in sorted(LANG_STOPWORDS.items())
)
_LANG_GREATEST_SQL = "GREATEST(" + ", ".join(
    f"score_{lang}" for lang in sorted(LANG_STOPWORDS)
) + ")"
LANG_PICK_SQL = "CASE " + " ".join(
    f"WHEN score_{lang} = {_LANG_GREATEST_SQL} THEN '{lang}'"
    for lang in sorted(LANG_STOPWORDS)
) + " END"


def stopword_count(t: Column, words: tuple[str, ...]) -> Column:
    """Occurrences of ``words`` in token array ``t`` (single-arg lambda —
    a default arg would make PySpark treat it as the 2-arg form)."""
    arr = F.array(*[F.lit(x) for x in words])
    return F.size(F.filter(t, lambda w: F.array_contains(arr, w))).cast("long")


def lang_score_cols(t: Column) -> list[Column]:
    """One ``score_{lang}`` column per language, sorted by code."""
    return [
        stopword_count(t, words).alias(f"score_{lang}")
        for lang, words in sorted(LANG_STOPWORDS.items())
    ]


def lang_pick_col() -> Column:
    """Argmax over ``score_{lang}`` columns, alphabetical tie-break
    (CASE evaluates languages in sorted order, mirroring LANG_PICK_SQL)."""
    langs = sorted(LANG_STOPWORDS)
    greatest = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    expr = None
    for lang in langs:
        cond = F.col(f"score_{lang}") == greatest
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr


@query(
    "q25_lang_id",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
           {LANG_SCORES_SQL}
      FROM toks)
    SELECT doc_id, lang AS labeled_lang, {LANG_PICK_SQL} AS predicted_lang
    FROM scored
    ORDER BY doc_id
    """,
    tags=("extension", "text", "lang-id"),
)
def q25_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit voting, argmax with
    alphabetical tie-break (CASE evaluates languages in sorted order).

    A real deployment would use char-n-gram profiles; the operator shape
    (per-doc score vector → argmax) is identical and stays a pure map
    stage at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *lang_score_cols(t),
    )
    return scored.select(
        "doc_id", "labeled_lang", lang_pick_col().alias("predicted_lang")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q26 — rolling-hash document fingerprint
# --------------------------------------------------------------------------
@query(
    "q26_doc_fingerprint",
    oracle=f"""
    WITH chars AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(text)),
                            i -> ascii(substr(text, i, 1))) AS cs
      FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                       (acc, c) -> (acc * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD})
               AS fingerprint
    FROM chars
    ORDER BY doc_id
    """,
    tags=("extension", "text", "fingerprint"),
)
def q26_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint over the full character
    sequence — the document-fingerprinting primitive (same hash family
    as Rabin-Karp/winnowing).

    Exact-arithmetic fold (acc*31 + ascii) mod p, identical in both
    engines; Spark's aggregate() is the fold, DuckDB's list_reduce is
    the oracle's. Pure map stage at scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("text")),
        lambda i: F.ascii(F.substring(F.col("text"), i, F.lit(1))),
    )
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FINGERPRINT_BASE + c) % FINGERPRINT_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


# --------------------------------------------------------------------------
# q80 — lexical diversity (type-token ratio, hapax share)
# --------------------------------------------------------------------------
@query(
    "q80_lexical_diversity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_sort(string_split_regex(lower(trim(text)), '\\s+')) AS s
      FROM documents),
    feat AS (
      SELECT doc_id,
             CAST(len(s) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(s)) AS BIGINT) AS n_distinct_tokens,
             CAST(len(list_filter(generate_series(1, len(s)), i ->
                    (i = 1 OR s[i] <> s[i-1])
                AND (i = len(s) OR s[i] <> s[i+1]))) AS BIGINT) AS n_hapax
      FROM toks)
    SELECT doc_id, n_tokens, n_distinct_tokens, n_hapax,
           {r4('n_distinct_tokens * 1.0 / n_tokens')} AS ttr,
           {r4('n_hapax * 1.0 / n_tokens')} AS hapax_share
    FROM feat ORDER BY doc_id
    """,
    tags=("extension", "text", "quality", "lexical"),
)
def q80_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality features: type-token ratio (distinct
    tokens / tokens) and hapax share (tokens occurring exactly once).

    Low TTR / low hapax share flags template or boilerplate text —
    complements q73's repetition metrics. Counting hapaxes on the
    SORTED token array makes it a linear neighbor scan (a run of length
    1 is a position differing from both neighbors) instead of the
    quadratic count-each-distinct-token form; all lambdas are codegen'd
    array ops, so the whole query is a shuffle-free map stage at any
    scale. Out-of-range neighbor probes use 0-based ``get`` (NULL, no
    ANSI error) with the same i=1 / i=n guards as the oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.array_sort(tokens(F.col("text"))).alias("s"))
    s = F.col("s")
    n = F.size(s)
    idx = F.sequence(F.lit(1), n)

    def _is_hapax(i):
        cur = F.element_at(s, i)
        prev_ne = (i == F.lit(1)) | F.coalesce(
            F.get(s, i - F.lit(2)) != cur, F.lit(True)
        )
        next_ne = (i == n) | F.coalesce(F.get(s, i) != cur, F.lit(True))
        return prev_ne & next_ne

    n_tokens = n.cast("long")
    n_distinct = F.size(F.array_distinct(s)).cast("long")
    n_hapax = F.size(F.filter(idx, _is_hapax)).cast("long")
    return toks.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        n_hapax.alias("n_hapax"),
        round4(n_distinct * F.lit(1.0) / n_tokens).alias("ttr"),
        round4(n_hapax * F.lit(1.0) / n_tokens).alias("hapax_share"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q81 — benchmark-contamination probe scan
# --------------------------------------------------------------------------
# Probe phrases a training pipeline would ship as "known benchmark
# strings"; substring match, not tokenized, as contamination checks do.
CONTAMINATION_PROBES = (
    "spark window window",
    "hash scan join",
    "batch batch batch",
)

_PROBE_PRED = " OR ".join(
    f"contains(text, '{p}')" for p in CONTAMINATION_PROBES
)


@query(
    "q81_contamination_probes",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN {_PROBE_PRED} THEN 1 END) AS n_contaminated,
           {r4(f'COUNT(CASE WHEN {_PROBE_PRED} THEN 1 END) * 1.0 / COUNT(*)')}
             AS contamination_rate
    FROM documents GROUP BY source ORDER BY source
    """,
    tags=("extension", "text", "contamination"),
)
def q81_contamination_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: per source, how many documents
    contain any of a fixed list of probe phrases (exact substring).

    The decontamination primitive every training pipeline runs before
    shipping a corpus. Probes are literal `contains` predicates —
    codegen'd, shuffle only on the tiny (source) aggregation key. At
    real scale with thousands of probes this becomes a broadcast join
    against a shingle index (the q18/q20 machinery); the fixed-list
    form is the common small-probe-set fast path.
    """
    docs = load_table(spark, sf_dir, "documents")
    hit = None
    for p in CONTAMINATION_PROBES:
        c = F.contains(F.col("text"), F.lit(p))
        hit = c if hit is None else (hit | c)
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(hit, 1)).alias("n_contaminated"),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            round4(F.col("n_contaminated") * F.lit(1.0) / F.col("n_docs")).alias(
                "contamination_rate"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q83 — unigram surprisal (LM-free perplexity proxy)
# --------------------------------------------------------------------------
@query(
    "q83_unigram_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    counts AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    total AS (SELECT SUM(c) AS n FROM counts),
    per AS (
      SELECT doc_id, COUNT(*) AS n_tokens, SUM(-ln(c * 1.0 / n)) AS s
      FROM toks JOIN counts USING (token) CROSS JOIN total
      GROUP BY doc_id)
    SELECT doc_id, n_tokens, {r4('s / n_tokens')} AS avg_surprisal
    FROM per ORDER BY doc_id
    """,
    tags=("extension", "text", "quality", "language-model"),
)
def q83_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram surprisal (nats/token) under the
    corpus's own unigram distribution — the language-model-free
    perplexity proxy quality filters use (the CCNet recipe scores docs
    with a KenLM; the unigram form is its degenerate, corpus-derivable
    case). Boilerplate made of globally common tokens scores low;
    token-salad scores high.

    Shape: one explode, one token-keyed count aggregate, one join of
    the token stream back to its own frequency table, one per-doc
    aggregate. The frequency table is vocabulary-sized (Heaps' law:
    ~millions of rows at 100 TB, broadcastable after pruning to the
    tokens actually present per partition is NOT possible — so this
    join shuffles on the token; the skew risk is stopword keys, which
    is exactly what AQE skew-split handles). The grand-total N is a
    1-row broadcast. ln() is evaluated on identical doubles on both
    engines; per-doc sums are ~dozens of terms, far below the drift
    magnitude that would cross a round4 boundary.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("n"))
    per = (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(-F.log(F.col("c") * F.lit(1.0) / F.col("n"))).alias("s"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens",
        round4(F.col("s") / F.col("n_tokens")).alias("avg_surprisal"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q105 — pairwise document cosine similarity via sparse inverted index
# --------------------------------------------------------------------------
_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


@query(
    "q105_doc_cosine_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    w AS (SELECT tf.doc_id, tf.term,
                 tf.tf * ln(n.n_docs / CAST(df.df AS DOUBLE)) AS w
          FROM tf JOIN df USING (term) CROSS JOIN n
          WHERE CAST(df.df AS DOUBLE) <= n.n_docs / 2.0),
    norms AS (SELECT doc_id,
                     sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)) AS nrm
              FROM w GROUP BY doc_id),
    dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,18))) AS DOUBLE) AS dot,
                    COUNT(*) AS n_shared_terms
             FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
             GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b,
           {r4('d.dot / (na.nrm * nb.nrm)')} AS cos_sim,
           n_shared_terms
    FROM dots d
    JOIN norms na ON d.doc_a = na.doc_id
    JOIN norms nb ON d.doc_b = nb.doc_id
    ORDER BY cos_sim DESC, doc_a, doc_b
    LIMIT 20
    """,
    tags=("extension", "text", "similarity", "inverted-index"),
)
def q105_doc_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most textually similar document pairs by TF-IDF cosine,
    computed through a sparse inverted index — the lexical near-dup /
    diversity-audit primitive that complements embedding cosine (q23)
    and MinHash Jaccard (q18/q20).

    No document-pair cross join exists anywhere in the plan: the only
    wide operation is the self-equi-join of the term-weight table on
    ``term`` (the inverted index), whose output is bounded by
    sum(df²) over retained terms. Terms appearing in more than half the
    corpus are pruned first (mirrored in the oracle) — the standard
    stop-term cutoff that keeps posting lists short; at 100 TB the same
    pruning is what makes this join feasible, optionally sharpened to
    DF-proportional prefix filtering (ppjoin). Per-term weight products
    stay in doubles; cross-term sums accumulate in DECIMAL(38,18)
    (q61 discipline), and sqrt is IEEE-exact on both engines.
    """
    from movie_data_pipeline_spark.operators.util import spread

    docs = load_table(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    toks = spread(docs).select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = (
        tf.join(F.broadcast(dfreq), "term")
        .filter(F.col("df").cast("double") <= F.lit(n_docs) / F.lit(2.0))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.lit(n_docs) / F.col("df").cast("double"))).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast("decimal(38,18)")).cast("double")).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(38,18)"))
            .cast("double")
            .alias("dot"),
            F.count("*").alias("n_shared_terms"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round4(F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos_sim"),
            "n_shared_terms",
        )
        .orderBy(F.desc("cos_sim"), "doc_a", "doc_b")
        .limit(20)
    )



# --------------------------------------------------------------------------
# q113 — classifier evaluation: lang-ID confusion + per-class P/R/F1
# --------------------------------------------------------------------------
@query(
    "q113_langid_eval",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
           {LANG_SCORES_SQL}
      FROM toks),
    pred AS (SELECT lang AS labeled, {LANG_PICK_SQL} AS predicted FROM scored),
    classes AS (SELECT DISTINCT labeled AS c FROM pred),
    sup AS (SELECT labeled AS c, COUNT(*) AS n_sup FROM pred GROUP BY 1),
    prd AS (SELECT predicted AS c, COUNT(*) AS n_pred FROM pred GROUP BY 1),
    cor AS (SELECT labeled AS c, COUNT(*) AS n_cor FROM pred
            WHERE labeled = predicted GROUP BY 1)
    SELECT classes.c AS lang_class,
           COALESCE(sup.n_sup, 0) AS support,
           COALESCE(prd.n_pred, 0) AS n_predicted,
           COALESCE(cor.n_cor, 0) AS n_correct,
           CASE WHEN COALESCE(prd.n_pred, 0) > 0
                THEN {r4('CAST(COALESCE(cor.n_cor, 0) AS DOUBLE) / CAST(prd.n_pred AS DOUBLE)')} END AS precision,
           CASE WHEN COALESCE(sup.n_sup, 0) > 0
                THEN {r4('CAST(COALESCE(cor.n_cor, 0) AS DOUBLE) / CAST(sup.n_sup AS DOUBLE)')} END AS recall
    FROM classes
    LEFT JOIN sup ON classes.c = sup.c
    LEFT JOIN prd ON classes.c = prd.c
    LEFT JOIN cor ON classes.c = cor.c
    ORDER BY lang_class
    """,
    tags=("extension", "text", "eval", "confusion-matrix"),
)
def q113_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation rollup for the q25 language-ID heuristic
    against the labeled ``lang`` column: per-class support, prediction
    count, hits, precision and recall — the confusion-matrix summary a
    data pipeline computes when validating any cheap heuristic against
    a labeled sample before running it over the full corpus.

    Predictions are one map stage (q25's stopword-vote argmax); the
    three count frames (support, predicted, correct) are tiny per-class
    aggregates joined on the class code — at 100 TB each is a
    partial-aggregated shuffle of |classes| rows. Ratios are exact
    integer-to-IEEE divisions (no libm), NULL where undefined.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    pred = docs.select(
        F.col("lang").alias("labeled"), *lang_score_cols(t)
    ).select("labeled", lang_pick_col().alias("predicted"))
    classes = pred.select(F.col("labeled").alias("c")).distinct()
    sup = pred.groupBy(F.col("labeled").alias("c")).agg(F.count("*").alias("n_sup"))
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
    return (
        classes.join(sup.withColumnRenamed("c", "cs"), F.col("c") == F.col("cs"), "left")
        .join(prd.withColumnRenamed("c", "cp"), F.col("c") == F.col("cp"), "left")
        .join(cor.withColumnRenamed("c", "cc"), F.col("c") == F.col("cc"), "left")
        .select(
            F.col("c").alias("lang_class"),
            n_sup.alias("support"),
            n_prd.alias("n_predicted"),
            n_cor.alias("n_correct"),
            F.when(
                n_prd > 0,
                round4(n_cor.cast("double") / F.col("n_pred").cast("double")),
            ).alias("precision"),
            F.when(
                n_sup > 0,
                round4(n_cor.cast("double") / F.col("n_sup").cast("double")),
            ).alias("recall"),
        )
        .orderBy("lang_class")
    )


# --------------------------------------------------------------------------
# q135 — readability scoring (Flesch reading ease from pure counts)
# --------------------------------------------------------------------------
@query(
    "q135_readability",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      FROM documents)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
             {r4('206.835 - 1.015 * (n_words * 1.0 / n_sentences)'
                 ' - 84.6 * (n_syllables * 1.0 / n_words)')}
           END AS flesch_ease
    FROM c ORDER BY doc_id
    """,
    tags=("extension", "text", "quality", "readability"),
)
def q135_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from pure integer counts:
    whitespace words, [.!?]-run sentences (floored at 1 — the synthetic
    corpus has no terminal punctuation, real corpora do), and
    vowel-group syllable approximations — the classic readability
    feature a quality-filter stack computes next to q24's
    length/punct/stopword ratios.

    Determinism: all three counts are exact integers from regex runs
    that Java and RE2-style engines tokenize identically (literal
    classes, greedy +); the formula is then fixed-order IEEE double
    arithmetic on exact ints, so both engines produce bit-identical
    scores before round4. Scale: one codegen map over the scan — no
    shuffle at all until the presentation sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens(F.col("text")))
    n_sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    n_syllables = F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
    ease = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sentences.cast("double"))
        - F.lit(84.6) * (n_syllables.cast("double") / n_words.cast("double"))
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_syllables.cast("long").alias("n_syllables"),
        F.when(n_words > 0, round4(ease)).alias("flesch_ease"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q140 — bigram conditional surprisal (language-model quality signal)
# --------------------------------------------------------------------------
@query(
    "q140_bigram_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS a, t[i + 1] AS b
      FROM toks, unnest(generate_series(1, len(t) - 1)) s(i)
      WHERE len(t) >= 2),
    cb AS (SELECT a, b, COUNT(*) AS c FROM bg GROUP BY a, b),
    pf AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM cb GROUP BY a),
    scored AS (
      SELECT bg.doc_id,
             -ln(cb.c * 1.0 / pf.ca) AS term
      FROM bg JOIN cb ON cb.a = bg.a AND cb.b = bg.b
              JOIN pf ON pf.a = bg.a)
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           floor((CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE)
                  / COUNT(*)) * 10000 + 0.5) / 10000 AS mean_surprisal
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("extension", "text", "language-model", "surprisal"),
)
def q140_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram conditional surprisal per document,
    -mean ln P(w_i | w_{i-1}), with MLE probabilities estimated from
    the corpus itself — the order-2 upgrade of q83's unigram surprisal
    and the textbook cheap proxy for LM perplexity: documents whose
    word TRANSITIONS are unusual (not just whose words are rare) score
    high, which is exactly what repetition/garble filters miss.

    Scale: bigram extraction is an array zip in codegen; the corpus
    bigram table is one groupBy (persisted — it feeds both the prefix
    rollup and the per-occurrence join); scoring is two equi-joins on
    the bigram/prefix keys. Hot prefixes (stopwords) are the skew to
    watch — the q99 salting pattern applies to the scoring join at
    corpus scale. Determinism: ln of exact-count ratios, decimal-summed
    (q61 discipline), exact division by the bigram count.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    toks = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 2)
    z = F.arrays_zip(
        F.slice(F.col("t"), 1, F.size("t") - 1),
        F.slice(F.col("t"), 2, F.size("t") - 1),
    )
    bg = toks.select("doc_id", F.explode(z).alias("p")).select(
        "doc_id", F.col("p.0").alias("a"), F.col("p.1").alias("b")
    )
    cb = bg.groupBy("a", "b").agg(F.count("*").alias("c")).persist()
    pf = cb.groupBy("a").agg(F.sum("c").cast("long").alias("ca"))
    term = -F.log(F.col("c").cast("double") / F.col("ca").cast("double"))
    return (
        bg.join(cb, ["a", "b"])
        .join(pf, "a")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            round4(
                F.sum(term.cast("decimal(38,18)")).cast("double")
                / F.count("*")
            ).alias("mean_surprisal"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q255 — BM25 ranked retrieval over bigram terms
# --------------------------------------------------------------------------
# Okapi BM25 constants; K1P1/OMB pre-folded so both engines evaluate the
# identical literal (1.2+1 and 1-0.75 are exact dyadic values anyway).
BM25_K1 = 1.2
BM25_K1P1 = 2.2
BM25_B = 0.75
BM25_OMB = 0.25
# Query terms are picked *by document-frequency rank* (df desc, term asc)
# so the query is deterministic yet spans high/mid/low selectivity.
BM25_RANKS = (5, 15, 25)
BM25_TOP = 10


# Shared CTE body producing `scored` (doc_id, n_terms_hit, score_raw):
# used by q255 (ranked top-k) and q260 (rank fusion).
_BM25_SCORED_CTES = f"""
    toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    bg AS (
      SELECT doc_id, array_to_string(t[i:i+1], ' ') AS term
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 2)),
    dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM bg GROUP BY term),
    ranked AS (
      SELECT x.term, x.df_t, 1 + COUNT(y.term) AS rnk
      FROM dfreq x LEFT JOIN dfreq y
        ON y.df_t > x.df_t OR (y.df_t = x.df_t AND y.term < x.term)
      GROUP BY x.term, x.df_t),
    sel AS (SELECT term, df_t FROM ranked
            WHERE rnk IN {BM25_RANKS!r}),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM dl),
    tf AS (
      SELECT b.doc_id, b.term, s.df_t, COUNT(*) AS tf
      FROM bg b JOIN sel s USING (term) GROUP BY 1, 2, 3),
    scored AS (
      SELECT tf.doc_id,
             COUNT(*) AS n_terms_hit,
             CAST(SUM(CAST(
               ln(1 + CAST(st.n_docs - tf.df_t + 0.5 AS DOUBLE)
                      / (tf.df_t + 0.5))
               * tf.tf * CAST({BM25_K1P1!r} AS DOUBLE)
               / (tf.tf + CAST({BM25_K1!r} AS DOUBLE)
                  * (CAST({BM25_B!r} AS DOUBLE) * d.dl / st.avgdl
                     + CAST({BM25_OMB!r} AS DOUBLE)))
             AS DECIMAL(38,18))) AS DOUBLE) AS score_raw
      FROM tf JOIN dl d USING (doc_id) CROSS JOIN stats st
      GROUP BY tf.doc_id)"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 scoring frame (doc_id, n_terms_hit, score_raw) —
    the Spark mirror of ``_BM25_SCORED_CTES``; consumed by q255
    (ranked top-k) and q260 (rank fusion)."""
    from movie_data_pipeline_spark.operators.util import spread

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    toks = spread(docs).select("doc_id", t.alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    z = F.arrays_zip(
        F.slice(F.col("t"), 1, F.size("t") - 1),
        F.slice(F.col("t"), 2, F.size("t") - 1),
    )
    bg = (
        toks.filter(F.size("t") >= 2)
        .select("doc_id", F.explode(z).alias("p"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("p.0"), F.col("p.1")).alias("term"),
        )
    )
    dfreq = bg.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df_t")
    )
    x = dfreq.alias("x")
    y = dfreq.alias("y")
    ranked = (
        x.join(
            y,
            (F.col("y.df_t") > F.col("x.df_t"))
            | (
                (F.col("y.df_t") == F.col("x.df_t"))
                & (F.col("y.term") < F.col("x.term"))
            ),
            "left",
        )
        .groupBy(F.col("x.term").alias("term"), F.col("x.df_t").alias("df_t"))
        .agg((F.count(F.col("y.term")) + 1).alias("rnk"))
    )
    sel = ranked.filter(F.col("rnk").isin(*BM25_RANKS)).select(
        "term", "df_t"
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        bg.join(F.broadcast(sel), "term")
        .groupBy("doc_id", "term", "df_t")
        .agg(F.count("*").alias("tf"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t") + F.lit(0.5))
    )
    contrib = (
        idf
        * F.col("tf")
        * F.lit(BM25_K1P1)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (
                F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                + F.lit(BM25_OMB)
            )
        )
    )
    return (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.sum(contrib.cast("decimal(38,18)"))
            .cast("double")
            .alias("score_raw"),
        )
    )


@query(
    "q255_bm25_retrieval",
    oracle=f"""
    WITH {_BM25_SCORED_CTES}
    SELECT doc_id,
           CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
           {r4('score_raw')} AS bm25_score
    FROM scored
    ORDER BY bm25_score DESC, doc_id
    LIMIT {BM25_TOP}
    """,
    tags=("extension", "text", "retrieval"),
)
def q255_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval over word-bigram terms, with the
    3-term query itself selected deterministically by document-frequency
    rank (ranks 5/15/25 — one common, one mid, one rare term), so the
    full lexical-retrieval path (df -> idf -> tf/length normalization ->
    ranked top-k) is exercised with zero free parameters. This is the
    sparse-retrieval complement of the dense ANN family (q22/q132/q240)
    and the scoring backbone behind hard-negative mining (q223) and
    snippet search (q185/q197).

    Shape/scale: df and tf are both narrow groupBys on the term key;
    the 3-row query-term frame broadcasts into the tf join, so the
    corpus is scanned once and nothing wider than (doc_id, term)
    shuffles. The df-rank selection uses a triangular self-join on the
    term-df frame instead of a global window: the frame is bounded by
    the bigram vocabulary (|V|^2), and the join is audit-clean where a
    corpus-wide unpartitioned row_number is not (q191/q192 discipline).
    Determinism: idf's ln() is quantization-safe (summed as
    DECIMAL(38,18), q61 discipline), ranking happens on the
    round4-quantized score with doc_id tiebreak on both engines.
    """
    scored = _bm25_scored(spark, sf_dir)
    return (
        scored.select(
            "doc_id",
            F.col("n_terms_hit").cast("long").alias("n_terms_hit"),
            round4(F.col("score_raw")).alias("bm25_score"),
        )
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(BM25_TOP)
    )


# --------------------------------------------------------------------------
# q260 — reciprocal-rank fusion of two retrievers (hybrid retrieval)
# --------------------------------------------------------------------------
RRF_K = 60  # the standard RRF damping constant
RRF_LIST = 20  # per-retriever candidate list length
RRF_TOP = 10  # fused results returned

# 8-decimal quantization for the fused score: RRF deltas between
# adjacent ranks are ~1/(60+r)^2 ~ 2e-4 at the list head but contribs
# from two lists can land within 1e-4 of each other; ranking uses this
# finer grid with doc_id tiebreak (same rationale as q259's key).
_RRF_R8 = "floor(({expr}) * 100000000 + 0.5) / 100000000"


@query(
    "q260_rrf_hybrid_fusion",
    oracle=f"""
    WITH {_BM25_SCORED_CTES},
    topa AS (
      SELECT doc_id, {r4('score_raw')} AS s FROM scored
      ORDER BY s DESC, doc_id LIMIT {RRF_LIST}),
    ranka AS (
      SELECT x.doc_id, 1 + COUNT(y.doc_id) AS rnk
      FROM topa x LEFT JOIN topa y
        ON y.s > x.s OR (y.s = x.s AND y.doc_id < x.doc_id)
      GROUP BY x.doc_id),
    topb AS (
      SELECT doc_id, n_chars FROM documents
      ORDER BY n_chars DESC, doc_id LIMIT {RRF_LIST}),
    rankb AS (
      SELECT x.doc_id, 1 + COUNT(y.doc_id) AS rnk
      FROM topb x LEFT JOIN topb y
        ON y.n_chars > x.n_chars
           OR (y.n_chars = x.n_chars AND y.doc_id < x.doc_id)
      GROUP BY x.doc_id),
    fused AS (
      SELECT doc_id,
             a.rnk AS rnk_bm25, b.rnk AS rnk_length,
             {_RRF_R8.format(expr=(
                 f"COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + a.rnk), 0) "
                 f"+ COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + b.rnk), 0)"
             ))} AS rrf_score
      FROM ranka a FULL OUTER JOIN rankb b USING (doc_id))
    SELECT doc_id,
           CAST(rnk_bm25 AS BIGINT) AS rnk_bm25,
           CAST(rnk_length AS BIGINT) AS rnk_length,
           rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT {RRF_TOP}
    """,
    tags=("extension", "text", "retrieval", "fusion"),
)
def q260_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, Cormack et al.) of two retriever
    lists: the BM25 relevance ranking (q255's scorer) and a document
    length prior, fused as sum over lists of 1/(60 + rank). RRF is the
    standard way hybrid RAG stacks combine lexical and dense (or
    prior) retrievers WITHOUT calibrating their incomparable score
    scales — only ranks enter the fusion, so a 0-10 BM25 and a raw
    byte count fuse cleanly. Docs present in one list only still score
    (the other contribution is 0), which is RRF's recall-preserving
    property.

    Shape/scale: each retriever contributes a top-{RRF_LIST} list via
    ORDER BY + LIMIT (TakeOrderedAndProject — per-partition heaps, no
    global sort); ranks WITHIN each bounded list come from a
    triangular self-join on the {RRF_LIST}-row frame (audit-clean, no
    unpartitioned window — the production form fuses fixed-length
    lists, so the bound is structural, not data-dependent). The fusion
    itself is a {RRF_LIST}-row full outer join. Determinism: ranks are
    integers over quantized scores with doc_id tiebreaks; 1/(60+r) is
    a correctly-rounded IEEE division and the 2-term sum is fixed
    order, quantized at 8 decimals before the final ranking.
    """
    scored = _bm25_scored(spark, sf_dir)
    topa = (
        scored.select("doc_id", round4(F.col("score_raw")).alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(RRF_LIST)
    )
    xa = topa.alias("x")
    ya = topa.alias("y")
    ranka = (
        xa.join(
            ya,
            (F.col("y.s") > F.col("x.s"))
            | ((F.col("y.s") == F.col("x.s"))
               & (F.col("y.doc_id") < F.col("x.doc_id"))),
            "left",
        )
        .groupBy(F.col("x.doc_id").alias("doc_id"))
        .agg((F.count(F.col("y.doc_id")) + 1).alias("rnk_bm25"))
    )
    docs = load_table(spark, sf_dir, "documents")
    topb = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(RRF_LIST)
    )
    xb = topb.alias("x")
    yb = topb.alias("y")
    rankb = (
        xb.join(
            yb,
            (F.col("y.n_chars") > F.col("x.n_chars"))
            | ((F.col("y.n_chars") == F.col("x.n_chars"))
               & (F.col("y.doc_id") < F.col("x.doc_id"))),
            "left",
        )
        .groupBy(F.col("x.doc_id").alias("doc_id"))
        .agg((F.count(F.col("y.doc_id")) + 1).alias("rnk_length"))
    )
    contrib = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rnk_bm25")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rnk_length")), F.lit(0.0)
    )
    fused = ranka.join(rankb, "doc_id", "full_outer").select(
        "doc_id",
        F.col("rnk_bm25").cast("long").alias("rnk_bm25"),
        F.col("rnk_length").cast("long").alias("rnk_length"),
        (
            F.floor(contrib * F.lit(100000000.0) + F.lit(0.5))
            / F.lit(100000000.0)
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(RRF_TOP)
