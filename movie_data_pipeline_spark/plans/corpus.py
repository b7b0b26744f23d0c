"""Corpus-preparation queries over ``documents``: context-window
chunking with stride (q87), benchmark n-gram decontamination (q88), and
out-of-vocabulary rate against the corpus top-K vocabulary (q89).

These are the remaining document-level transforms a training-data
pipeline runs between curation (q71) and packing (q72): split kept
documents into model-context-sized overlapping chunks, drop documents
that leak evaluation benchmarks, and feature-ize vocabulary coverage.

Reference scope note: the reference (pradeepsoftdev04/movie-data-pipeline)
has no text-corpus surface — these queries are part of the LLM-pipeline
extension mandated by the build brief, following the same oracle
discipline as §2 parity queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_pipeline_spark.functions.text import shingles, tokens
from movie_data_pipeline_spark.operators.util import cached
from movie_data_pipeline_spark.plans.core import query, r4, round4
from movie_data_pipeline_spark.sources.registry import load_table

_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"

# Chunking geometry: 32-token windows advancing 24 tokens → 8-token
# overlap (the stride-overlap shape HF tokenizers use for long docs).
# Small values on purpose: the synthetic docs average ~60 tokens, so the
# multi-chunk + tail-chunk paths are both exercised.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24

# Documents whose doc_id is divisible by BENCH_MOD play the "held-out
# benchmark" role in q88; the rest are the training corpus.
BENCH_MOD = 25
DECONTAM_NGRAM = 3

# Vocabulary size for q89's OOV rate. The synthetic corpus has ~31
# distinct tokens, so K=15 splits occurrence mass roughly in half —
# both the in-vocab and OOV branches carry signal at every sf.
VOCAB_TOP_K = 15


# --------------------------------------------------------------------------
# q87 — fixed-size token chunking with stride
# --------------------------------------------------------------------------
@query(
    "q87_token_chunks",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    starts AS (
      SELECT doc_id, t,
             unnest(list_filter(generate_series(1, len(t), {CHUNK_STRIDE}),
                    s -> s = 1 OR s - {CHUNK_STRIDE} + {CHUNK_TOKENS - 1} < len(t))) AS s
      FROM toks)
    SELECT doc_id,
           CAST((s - 1) / {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           CAST(len(t[s:s + {CHUNK_TOKENS - 1}]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(t[s:s + {CHUNK_TOKENS - 1}], ' ') AS chunk_text
    FROM starts
    ORDER BY doc_id, chunk_id
    """,
    tags=("extension", "corpus", "chunking"),
)
def q87_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into {CHUNK_TOKENS}-token chunks advancing
    by {CHUNK_STRIDE} (overlapping context windows).

    Start offsets are generated per row (``sequence(1, n, stride)``)
    and pruned so a start is kept only if the previous chunk did not
    already reach the end of the document — i.e. exactly
    ``max(1, ceil((n - chunk) / stride) + 1)`` chunks, the standard
    stride-chunking count; the final chunk may be short. Everything up
    to the oracle-determinism sort is a pure map stage: array lambdas in
    codegen, one explode, no shuffle — at 100 TB this chunker runs at
    scan speed with zero exchanges, and the explode multiplies rows only
    by the per-doc chunk count (bounded by doc length / stride).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        _stride_chunks(docs, "doc_id")
        .select(
            "doc_id",
            ((F.col("s") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.size("chunk").cast("long").alias("n_chunk_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def _stride_chunks(docs: DataFrame, key: str) -> DataFrame:
    """(key, s, chunk): q87's CHUNK_TOKENS-token windows of each
    document, starting at token s and advancing by CHUNK_STRIDE.
    Tokens are projected once below the start-offset filter, whose
    lambda reads only their count."""
    toks = docs.select(key, tokens(F.col("text")).alias("t"))
    n = F.size("t")
    stride = F.lit(CHUNK_STRIDE)
    starts = F.filter(
        F.sequence(F.lit(1), n, stride),
        lambda s: (s == F.lit(1)) | (s - stride + F.lit(CHUNK_TOKENS - 1) < n),
    )
    return toks.select(key, "t", F.explode(starts).alias("s")).select(
        key, "s", F.slice(F.col("t"), F.col("s"), CHUNK_TOKENS).alias("chunk")
    )


# --------------------------------------------------------------------------
# q88 — benchmark n-gram decontamination scan
# --------------------------------------------------------------------------
@query(
    "q88_benchmark_decontamination",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    shingles AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               CASE WHEN len(t) >= {DECONTAM_NGRAM}
                 THEN unnest(list_transform(
                        generate_series(1, len(t) - {DECONTAM_NGRAM - 1}),
                        i -> array_to_string(t[i:i + {DECONTAM_NGRAM - 1}], ' ')))
                 ELSE array_to_string(t, ' ')
               END AS sh
        FROM toks)),
    bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % {BENCH_MOD} = 0),
    counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
               FROM shingles WHERE doc_id % {BENCH_MOD} <> 0 GROUP BY doc_id)
    SELECT s.doc_id,
           counts.n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams,
           {r4('COUNT(*) * 1.0 / counts.n_grams')} AS contaminated_share
    FROM shingles s
    JOIN bench USING (sh)
    JOIN counts ON counts.doc_id = s.doc_id
    WHERE s.doc_id % {BENCH_MOD} <> 0
    GROUP BY s.doc_id, counts.n_grams
    ORDER BY s.doc_id
    """,
    tags=("extension", "corpus", "decontamination", "dedup"),
)
def q88_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training documents sharing at least one word {DECONTAM_NGRAM}-gram
    with the held-out benchmark set (doc_id % {BENCH_MOD} == 0), with the
    shared-gram count and share — the GPT-3-style n-gram
    decontamination filter (production pipelines use 8-13-grams; the
    parameter is a module constant).

    Plan shape: the benchmark side collapses to its DISTINCT gram set —
    at real scale an eval suite is a few thousand documents, so this set
    is dimension-sized and is explicitly ``broadcast()``; the training
    corpus then streams through a broadcast hash join with NO shuffle of
    the corpus itself. Only the matched grams (a tiny fraction) reach
    the per-doc aggregation exchange. The per-doc gram totals ride along
    from the same shingle expression, so the corpus is tokenized once.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", tokens(F.col("text")).alias("t")).select(
        "doc_id", shingles(F.col("t"), DECONTAM_NGRAM).alias("grams")
    )
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    # explode_outer equals explode on never-empty shingle arrays; an
    # inner explode of a column makes Catalyst infer size(grams) > 0 and
    # push it below the tokens projection, recomputing every shingle
    # with the split inlined into the n-gram lambda
    bench = (
        sh.filter(is_bench)
        .select(F.explode_outer("grams").alias("sh"))
        .distinct()
    )
    train = sh.filter(~is_bench).select(
        "doc_id",
        F.size("grams").cast("long").alias("n_grams"),
        F.explode_outer("grams").alias("sh"),
    )
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("*").cast("long").alias("n_shared_grams"))
        .select(
            "doc_id",
            "n_grams",
            "n_shared_grams",
            round4(F.col("n_shared_grams") * F.lit(1.0) / F.col("n_grams")).alias(
                "contaminated_share"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q89 — out-of-vocabulary rate vs corpus top-K vocabulary
# --------------------------------------------------------------------------
@query(
    "q89_oov_rate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    vocab AS (
      SELECT list_sort(list(w)) AS v FROM (
        SELECT w FROM (SELECT unnest(t) AS w FROM toks)
        GROUP BY w ORDER BY COUNT(*) DESC, w ASC LIMIT {VOCAB_TOP_K})),
    feat AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(t, x -> NOT list_contains(v, x)))
                  AS BIGINT) AS n_oov
      FROM toks CROSS JOIN vocab)
    SELECT doc_id, n_tokens, n_oov,
           {r4('n_oov * 1.0 / n_tokens')} AS oov_rate
    FROM feat ORDER BY doc_id
    """,
    tags=("extension", "corpus", "quality", "vocabulary"),
)
def q89_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary token share against the corpus
    top-{VOCAB_TOP_K} vocabulary (count desc, token asc tie-break) — the
    tokenizer-coverage feature quality filters use to flag documents a
    fixed vocabulary would shred into rare pieces.

    Two-pass plan: pass 1 builds the vocabulary (explode + count — one
    shuffle whose output is K rows) and folds it to a single sorted
    array; pass 2 cross-joins that one-row array via ``broadcast`` and
    scores every document with an ``array_contains`` filter inside
    codegen — no explode, no shuffle of the corpus. At 100 TB the vocab
    pass is the only exchange and its payload is trivially small; a
    realistic 50k-token vocabulary still broadcasts at ~1 MB.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    vocab = (
        docs.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(VOCAB_TOP_K)
        .agg(F.sort_array(F.collect_list("w")).alias("v"))
    )
    n = F.size("t").cast("long")
    n_oov = F.size(
        F.filter(F.col("t"), lambda x: ~F.array_contains(F.col("v"), x))
    ).cast("long")
    return (
        docs.select("doc_id", t.alias("t"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            n.alias("n_tokens"),
            n_oov.alias("n_oov"),
            round4(n_oov * F.lit(1.0) / n).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q92 — PII redaction scrub pass
# --------------------------------------------------------------------------
# The synthetic documents carry no PII, so the scrub is demonstrated on a
# deterministic contact string derived from `customer` — the operator
# (functions.text.redact_pii) is the reusable piece; this query proves the
# regex semantics match the oracle engine byte-for-byte.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\d{3}-\d{3}-\d{4}"
_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"

_CONTACT_SQL = """
      c_name || ' <user' || CAST(c_custkey AS VARCHAR)
             || '@example.com> call 555-'
             || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
             || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
             || ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR)
             || '.' || CAST((c_custkey // 256) % 256 AS VARCHAR)
"""


@query(
    "q92_pii_redaction",
    oracle=f"""
    WITH blob AS (
      SELECT c_custkey, {_CONTACT_SQL} AS contact
      FROM customer),
    red AS (
      SELECT c_custkey,
             regexp_replace(regexp_replace(regexp_replace(contact,
               '{_EMAIL_RE}', '[EMAIL]', 'g'),
               '{_PHONE_RE}', '[PHONE]', 'g'),
               '{_IP_RE}', '[IP]', 'g') AS redacted,
             CAST(len(regexp_extract_all(contact, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(contact, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
             CAST(len(regexp_extract_all(contact, '{_IP_RE}')) AS BIGINT) AS n_ips
      FROM blob)
    SELECT c_custkey, redacted, n_emails, n_phones, n_ips
    FROM red ORDER BY c_custkey
    """,
    tags=("extension", "corpus", "pii", "redaction"),
)
def q92_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: mask emails, phone numbers, and IPv4s with typed
    placeholders and count matches per kind (the audit columns a
    compliance pipeline logs alongside the scrub).

    Built on ``functions.text.redact_pii`` — a chain of JVM-side
    ``regexp_replace`` inside whole-stage codegen, so the scrub runs at
    scan speed with zero shuffles (the orderBy here is oracle
    determinism only). Patterns are ASCII-anchored so the Java and RE2
    regex engines agree byte-for-byte.
    """
    from movie_data_pipeline_spark.functions.text import pii_counts, redact_pii

    customer = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <user"),
        k.cast("string"),
        F.lit("@example.com> call 555-"),
        F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((k % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (k % 256).cast("string"),
        F.lit("."),
        ((k / 256).cast("long") % 256).cast("string"),
    )
    n_email, n_phone, n_ip = pii_counts(contact)
    return (
        customer.select(
            "c_custkey",
            redact_pii(contact).alias("redacted"),
            n_email.alias("n_emails"),
            n_phone.alias("n_phones"),
            n_ip.alias("n_ips"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# q102 — token accounting: whitespace words vs BPE-ish pieces
# --------------------------------------------------------------------------
@query(
    "q102_token_accounting",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(text),
                  '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+|\\s+'))
                  AS BIGINT) AS n_pieces,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents)
    SELECT doc_id, n_words, n_pieces, n_chars,
           CASE WHEN n_pieces > 0
                THEN {r4('n_chars * 1.0 / n_pieces')} END AS chars_per_piece
    FROM feat ORDER BY doc_id
    """,
    tags=("extension", "corpus", "tokenization", "budget"),
)
def q102_token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting per document: whitespace word count vs
    BPE-ish pre-token piece count (functions.text.bpe_pieces — the
    GPT-2 pre-tokenizer split) and chars-per-piece, the fertility
    proxy data pipelines use to convert corpus bytes into model token
    budgets (q85's mixing weights consume exactly such counts).

    Pure map stage: two regex passes per document inside codegen, no
    explode, no shuffle but the presentation sort. The piece pattern is
    ASCII-anchored so the Java and RE2 regex engines agree
    byte-for-byte (the real GPT-2 pattern's \\p{{L}} classes agree too,
    but ASCII keeps the oracle portable). Empty documents yield zero
    pieces and a NULL ratio on both engines.
    """
    from movie_data_pipeline_spark.functions.text import bpe_pieces

    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens(F.col("text"))).cast("long")
    n_pieces = F.size(bpe_pieces(F.col("text"))).cast("long")
    n_chars = F.length("text").cast("long")
    return (
        docs.select(
            "doc_id",
            n_words.alias("n_words"),
            n_pieces.alias("n_pieces"),
            n_chars.alias("n_chars"),
        )
        .withColumn(
            "chars_per_piece",
            F.when(
                F.col("n_pieces") > 0,
                round4(F.col("n_chars") * F.lit(1.0) / F.col("n_pieces")),
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q107 — Simpson token diversity (log-free concentration metrics)
# --------------------------------------------------------------------------
@query(
    "q107_simpson_diversity",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    cnt AS (SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY doc_id, term),
    per AS (SELECT doc_id,
                   SUM(c) AS n_tokens,
                   COUNT(*) AS n_types,
                   SUM(c * c) AS ssq
            FROM cnt GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           {r4('1.0 - CAST(ssq AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))')} AS simpson,
           {r4('(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) / CAST(ssq AS DOUBLE)')} AS eff_types
    FROM per ORDER BY doc_id
    """,
    tags=("extension", "corpus", "quality", "diversity"),
)
def q107_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token concentration as Simpson's index (1 - Σp²) and
    the order-2 Hill number ("effective token types", 1/Σp²) — the
    log-free cousins of entropy used as repetition/quality features
    (complements q73's duplicated-n-gram ratio and q80's TTR).

    Log-free matters for the oracle: entropy needs ln(), whose last-ulp
    behavior differs per libm; Simpson is pure integer power sums
    (exact in int64 — a doc would need ~3B tokens to overflow) with two
    IEEE divisions at the end, bit-identical on both engines. Plan: one
    (doc_id, term) hash aggregate with map-side partials, then a per-doc
    re-aggregate that rides the same hash partitioning — for the
    shuffle-free alternative over a sorted token array see q80's
    neighbor-scan pattern.
    """
    from movie_data_pipeline_spark.operators.util import spread

    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs).select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    cnt = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    per = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
    )
    n_d = F.col("n_tokens").cast("double")
    return per.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        round4(F.lit(1.0) - F.col("ssq").cast("double") / (n_d * n_d)).alias("simpson"),
        round4((n_d * n_d) / F.col("ssq").cast("double")).alias("eff_types"),
    ).orderBy("doc_id")



# --------------------------------------------------------------------------
# q120 — vocabulary growth curve (Heaps' law observation points)
# --------------------------------------------------------------------------
@query(
    "q120_vocab_growth",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id),
    firsts AS (SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_first
               FROM (SELECT term, MIN(doc_id) AS doc_id FROM toks GROUP BY term)
               GROUP BY doc_id),
    curve AS (
      SELECT per_doc.doc_id,
             per_doc.n_toks,
             COALESCE(firsts.n_first, 0) AS n_new_types,
             SUM(per_doc.n_toks) OVER (ORDER BY per_doc.doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum_tokens,
             SUM(COALESCE(firsts.n_first, 0)) OVER (ORDER BY per_doc.doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum_types
      FROM per_doc LEFT JOIN firsts ON per_doc.doc_id = firsts.doc_id)
    SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           CAST(n_new_types AS BIGINT) AS n_new_types,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_types AS BIGINT) AS cum_types
    FROM curve ORDER BY doc_id
    """,
    tags=("extension", "corpus", "vocabulary", "heaps-law"),
)
def q120_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve in corpus (doc_id) order: tokens seen vs
    distinct types seen after each document — the Heaps'-law
    observation series tokenizer and vocab-size decisions are fit
    against.

    q114's first-occurrence rewrite lifted from event streams to the
    corpus: each type's birth doc is a tiny (term → min doc_id)
    aggregate, re-aggregated to births-per-doc; both cumulative series
    then come from ONE distributed prefix-sum pass over the per-doc
    frame (``operators/prefix.py``: range-partition on doc_id, local
    running sums per partition, broadcast partition offsets) — no
    single-partition window anywhere, so the plan scales to an
    unbounded corpus. The token explode happens exactly once and feeds
    both the per-doc counts and the birth aggregate.
    """
    from movie_data_pipeline_spark.operators.prefix import attach_running_sums
    from movie_data_pipeline_spark.operators.util import spread

    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    firsts = (
        toks.groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_first"))
    )
    n_new = F.coalesce(F.col("n_first"), F.lit(0))
    joined = per_doc.join(firsts, "doc_id", "left")
    curve, _ = attach_running_sums(
        joined,
        ["doc_id"],
        {"cum_tokens": F.col("n_toks"), "cum_types": n_new},
    )
    return curve.select(
        "doc_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        n_new.cast("long").alias("n_new_types"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_types").cast("long").alias("cum_types"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q142 — cross-source overlap matrix (inter-source duplication)
# --------------------------------------------------------------------------
@query(
    "q142_source_overlap_matrix",
    oracle=f"""
    WITH toks AS (SELECT source, {_TOKS_SQL} AS t FROM documents),
    sg0 AS (
      SELECT source,
             CASE WHEN len(t) >= 3
               THEN unnest(list_transform(generate_series(1, len(t) - 2),
                                          i -> array_to_string(t[i:i+2], ' ')))
               ELSE array_to_string(t, ' ')
             END AS g
      FROM toks),
    sg AS (SELECT DISTINCT source, g FROM sg0),
    tot AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY 1),
    sh AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2)
    SELECT source_a, source_b, n_shared,
           {r4('n_shared * 1.0 / (ta.n + tb.n - n_shared)')} AS gram_jaccard
    FROM sh
    JOIN tot ta ON ta.source = source_a
    JOIN tot tb ON tb.source = source_b
    ORDER BY {r4('n_shared * 1.0 / (ta.n + tb.n - n_shared)')} DESC,
             source_a, source_b
    LIMIT 25
    """,
    tags=("extension", "corpus", "contamination", "source-overlap"),
)
def q142_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which SOURCES share content: top-25 source pairs by word-3-gram
    set Jaccard, with shared-gram counts — the inter-source duplication
    matrix that decides whether two feeds are really one (mirrors,
    scrapes of each other) before mixing weights (q85) are computed
    over them. q88 answers "does my corpus contain the benchmark";
    this answers "do my corpora contain each other".

    Scale: grams dedup to (source, gram) FIRST — the join operand is a
    vocabulary-sized relation, not token occurrences; the pair join is
    an equi-join on the gram with |sources| as the only fan-out (hot
    universal grams multiply by at most #source-pairs, and the q18
    document-frequency cap applies unchanged if #sources grows). Ties
    at the top-25 cut rank on the quantized jaccard (q23's rule), so
    the cross-engine boundary is stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    sg = (
        docs.select("source", tokens(F.col("text")).alias("t"))
        .select("source", F.explode(shingles(F.col("t"))).alias("g"))
        .distinct()
        .persist()  # feeds totals and both join sides
    )
    tot = sg.groupBy("source").agg(F.count("*").alias("n"))
    a = sg.select(F.col("source").alias("source_a"), "g")
    b = sg.select(F.col("source").alias("source_b"), "g")
    sh = (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    jac = round4(
        F.col("n_shared")
        * F.lit(1.0)
        / (F.col("na") + F.col("nb") - F.col("n_shared"))
    )
    return (
        sh.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select("source_a", "source_b", "n_shared", jac.alias("gram_jaccard"))
        .orderBy(F.desc("gram_jaccard"), "source_a", "source_b")
        .limit(25)
    )


# --------------------------------------------------------------------------
# q143 — stop-shingle report (the DF-cap list generator)
# --------------------------------------------------------------------------
@query(
    "q143_stop_shingle_report",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sg0 AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
               THEN unnest(list_transform(generate_series(1, len(t) - 2),
                                          i -> array_to_string(t[i:i+2], ' ')))
               ELSE array_to_string(t, ' ')
             END AS g
      FROM toks),
    sg AS (SELECT DISTINCT doc_id, g FROM sg0),
    df AS (SELECT g, COUNT(*) AS doc_freq FROM sg GROUP BY g),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT g AS shingle, doc_freq,
           {r4('doc_freq * 1.0 / n.n_docs')} AS df_share
    FROM df CROSS JOIN n
    ORDER BY doc_freq DESC, shingle
    LIMIT 50
    """,
    tags=("extension", "corpus", "dedup", "boilerplate"),
)
def q143_stop_shingle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word-3-grams by DOCUMENT frequency with their corpus
    share — the boilerplate/stop-shingle list that similarity joins
    consume: q18's Jaccard machinery takes a document-frequency cap to
    bound hot-shingle blowup, and THIS is the report that calibrates
    that cap (eyeball where navigation chrome / license headers /
    template text starts, set max_shingle_df just below it).

    Scale: one distinct + one count per gram — the same first two
    stages the Jaccard join already runs, so the report is nearly free
    when computed alongside it; top-50 is TakeOrderedAndProject. The
    web-dedup literature's stop-shingle step (remove the head of this
    exact distribution) is why the DF cap exists at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    sg = (
        docs.select("doc_id", tokens(F.col("text")).alias("t"))
        .select("doc_id", F.explode(shingles(F.col("t"))).alias("shingle"))
        .distinct()
    )
    dfreq = sg.groupBy("shingle").agg(F.count("*").alias("doc_freq"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        dfreq.crossJoin(F.broadcast(n))
        .select(
            "shingle",
            "doc_freq",
            round4(F.col("doc_freq") * F.lit(1.0) / F.col("n_docs")).alias(
                "df_share"
            ),
        )
        .orderBy(F.desc("doc_freq"), "shingle")
        .limit(50)
    )


# --------------------------------------------------------------------------
# q161 — BPE-initialization pair statistics (tokenizer training support)
# --------------------------------------------------------------------------
@query(
    "q161_bpe_pair_counts",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents),
    tf AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok),
    pairs AS (
      SELECT substr(tok, i, 2) AS pair, SUM(f) AS cnt
      FROM tf, unnest(generate_series(1, length(tok) - 1)) AS t(i)
      GROUP BY 1)
    SELECT pair, CAST(cnt AS BIGINT) AS cnt
    FROM pairs ORDER BY cnt DESC, pair LIMIT 50
    """,
    tags=("extension", "tokenizer", "corpus"),
)
def q161_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies — the statistic
    the first BPE merge maximizes (Sennrich et al. 2016): training a
    tokenizer at corpus scale is exactly this aggregation iterated, so
    the single-step form is the representative engine primitive.

    Key scale move: pairs are generated from the TOKEN-FREQUENCY table,
    not the raw token stream — the heavy explode runs once per DISTINCT
    token (vocabulary-sized) with counts carried as weights, the same
    trick real BPE trainers use (word-count dict, not the corpus). Two
    aggregates (token frequencies; weighted pair counts), both plain
    hash shuffles; top-50 is TakeOrderedAndProject on the quantized
    integer counts with the pair string as tie-break.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    pairs = (
        tf.filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.substring(F.col("tok"), i, F.lit(2)),
                )
            ).alias("pair"),
            "f",
        )
        .groupBy("pair")
        .agg(F.sum("f").cast("long").alias("cnt"))
    )
    return pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(50)


# --------------------------------------------------------------------------
# q170 — Zipf rank-frequency fit over the corpus vocabulary
# --------------------------------------------------------------------------
@query(
    "q170_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents),
    tf AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok),
    ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rk FROM tf),
    pts AS (
      SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
      FROM ranked),
    sums AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy
      FROM pts)
    SELECT CAST(n AS BIGINT) AS n_types,
           {r4('(n * sxy - sx * sy) / (n * sxx - sx * sx)')} AS zipf_slope,
           {r4('(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n')}
             AS intercept,
           {r4('''((n * sxy - sx * sy) * (n * sxy - sx * sy))
                / ((n * sxx - sx * sx) * (n * syy - sy * sy))''')} AS r2
    FROM sums
    """,
    tags=("extension", "corpus", "regression", "prefix-sum"),
)
def q170_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of log frequency on log rank over the
    corpus vocabulary (natural text sits near slope −1; synthetic or
    templated corpora — like this one — deviate sharply, which makes
    the slope a cheap corpus-authenticity probe alongside q140/q83's
    LM signals).

    Frequency ranks come from
    :func:`operators.prefix.attach_global_row_number` (no
    single-partition window even at web-corpus vocabulary sizes); the
    regression reduces log-space power sums in DECIMAL(38,18) (q68's
    regression discipline), so both engines fit on identical exact
    sums. ln() appears only inside round4-quantized outputs — the same
    contract q37/q137/q83 already rely on.
    """
    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    ranked, _n = attach_global_row_number(
        tf, [F.col("f").desc(), F.col("tok")], out="rk"
    )
    pts = ranked.select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )

    def dsum(col):
        return F.sum(col.cast("decimal(38,18)")).cast("double")

    sums = pts.agg(
        F.count("*").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        n.cast("long").alias("n_types"),
        round4(slope).alias("zipf_slope"),
        round4((sy - slope * sx) / n).alias("intercept"),
        round4(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# q178 — cross-source transfer matrix (unigram cross-entropy)
# --------------------------------------------------------------------------
@query(
    "q178_source_transfer_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents),
    cnt AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    n AS (SELECT source, SUM(c) AS n_tok FROM cnt GROUP BY 1),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
    srcs AS (SELECT DISTINCT source FROM documents),
    x AS (
      SELECT cb.source AS eval_source, s.source AS train_source,
             cb.tok, cb.c AS cb, COALESCE(ca.c, 0) AS ca
      FROM cnt cb
      CROSS JOIN srcs s
      LEFT JOIN cnt ca ON ca.source = s.source AND ca.tok = cb.tok),
    terms AS (
      SELECT x.eval_source, x.train_source,
             (CAST(x.cb AS DOUBLE) / CAST(nb.n_tok AS DOUBLE))
               * ln((CAST(x.ca AS DOUBLE) + 1.0)
                    / (CAST(na.n_tok AS DOUBLE) + CAST(vocab.v AS DOUBLE)))
               AS term
      FROM x
      JOIN n nb ON nb.source = x.eval_source
      JOIN n na ON na.source = x.train_source
      CROSS JOIN vocab)
    SELECT eval_source, train_source,
           {r4('-CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE)')}
             AS cross_entropy
    FROM terms
    GROUP BY eval_source, train_source
    ORDER BY eval_source, train_source
    """,
    tags=("extension", "corpus", "data-valuation", "mixture"),
)
def q178_source_transfer_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source transfer matrix: for every (train→eval) source
    pair, the cross-entropy of the eval source's unigram distribution
    under an add-one-smoothed unigram LM fit on the train source —
    ``H(B‖A) = −Σ_w p_B(w)·ln((c_A(w)+1)/(N_A+V))`` over the union
    vocabulary. The data-valuation signal behind mixture design (which
    sources model each other → upweight complements, not clones): the
    diagonal is each source's smoothed self-entropy floor, and
    off-diagonal excess over the diagonal is the domain gap. Pairs
    with q152's importance sampler (which assumes exactly such a
    target/proposal LM ratio) and q142's surface-overlap matrix —
    this is the distributional version of that lexical probe.

    Scale: everything reduces to one token-count aggregate reused four
    ways; the pair frame is |vocab_B|×|sources| rows (sources is a
    broadcast dim, counts join is an equi-join on (source, tok)), never
    corpus-quadratic. ln terms are cast to DECIMAL(38,18) before the
    sum (q96's entropy discipline) so partition order can't move the
    round4 boundary.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("source", "tok").agg(F.count("*").alias("c")).persist()
    n = cnt.groupBy("source").agg(F.sum("c").alias("n_tok"))
    vocab = toks.agg(F.count_distinct("tok").alias("v"))
    srcs = docs.select("source").distinct()
    cb = cnt.select(
        F.col("source").alias("eval_source"), "tok", F.col("c").alias("cb")
    )
    ca = cnt.select(
        F.col("source").alias("train_source"), "tok", F.col("c").alias("ca_c")
    )
    x = (
        cb.crossJoin(F.broadcast(srcs.select(F.col("source").alias("train_source"))))
        .join(ca, ["train_source", "tok"], "left")
        .select(
            "eval_source",
            "train_source",
            "cb",
            F.coalesce(F.col("ca_c"), F.lit(0)).alias("ca"),
        )
    )
    nb = n.select(F.col("source").alias("eval_source"), F.col("n_tok").alias("nb"))
    na = n.select(F.col("source").alias("train_source"), F.col("n_tok").alias("na"))
    terms = (
        x.join(F.broadcast(nb), "eval_source")
        .join(F.broadcast(na), "train_source")
        .crossJoin(F.broadcast(vocab))
        .select(
            "eval_source",
            "train_source",
            (
                (F.col("cb").cast("double") / F.col("nb").cast("double"))
                * F.log(
                    (F.col("ca").cast("double") + F.lit(1.0))
                    / (F.col("na").cast("double") + F.col("v").cast("double"))
                )
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("eval_source", "train_source")
        .agg(
            round4(
                -F.sum(F.col("term").cast("decimal(38,18)")).cast("double")
            ).alias("cross_entropy")
        )
        .orderBy("eval_source", "train_source")
    )


# --------------------------------------------------------------------------
# q185 — trigram-index substring search (index path ≡ brute-force LIKE)
# --------------------------------------------------------------------------
_SEARCH_Q = "fast merge"


@query(
    "q185_trigram_search",
    oracle=f"""
    SELECT doc_id, source,
           (len(lower(text)) - len(replace(lower(text), '{_SEARCH_Q}', '')))
             // {len(_SEARCH_Q)} AS n_occurrences
    FROM documents
    WHERE contains(lower(text), '{_SEARCH_Q}')
    ORDER BY doc_id
    """,
    tags=("extension", "text-search", "inverted-index"),
)
def q185_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search answered through a character-trigram inverted
    index — the pg_trgm / LIKE-acceleration pattern: the corpus is
    exploded into distinct lowercase trigrams once, candidate docs are
    those containing EVERY trigram of the query (an equi-join on the
    trigram key + a count-threshold aggregate — necessary but not
    sufficient), and candidates alone are verified with the exact
    `contains` probe. The oracle is the brute-force full-scan LIKE, so
    the driver hash-check IS the proof that index + verify loses
    nothing. Reports each match's non-overlapping occurrence count via
    exact length arithmetic.

    Scale: this is the whole reason the pattern exists — the full scan
    touches every byte of a 100 TB text column; the index path touches
    the (trigram → doc) postings for the query's ≤|Q| trigrams only.
    The index build is one map-side explode + distinct (done once,
    reused across queries; stop-trigram capping à la q143 bounds hot
    postings), candidates shrink multiplicatively per trigram, and
    the verify join is an equi-join on doc_id against only the
    candidate set.
    """
    q = _SEARCH_Q.lower()
    trigrams = sorted({q[i : i + 3] for i in range(len(q) - 2)})
    docs = load_table(spark, sf_dir, "documents")
    low = docs.select("doc_id", "source", F.lower(F.col("text")).alias("lt"))
    idx = low.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("lt") - 2),
                    lambda i: F.col("lt").substr(i, F.lit(3)),
                )
            )
        ).alias("tri"),
    )
    qt = spark.createDataFrame([(t,) for t in trigrams], ["tri"])
    cand = (
        idx.join(F.broadcast(qt), "tri")
        .groupBy("doc_id")
        .agg(F.count_distinct("tri").alias("n_tri"))
        .filter(F.col("n_tri") == len(trigrams))
        .select("doc_id")
    )
    return (
        low.join(cand, "doc_id", "left_semi")
        .filter(F.col("lt").contains(q))
        .select(
            "doc_id",
            "source",
            (
                (F.length("lt") - F.length(F.replace(F.col("lt"), F.lit(q), F.lit(""))))
                / F.lit(len(q))
            )
            .cast("long")
            .alias("n_occurrences"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q197 — search-hit snippet extraction (the display layer over q185)
# --------------------------------------------------------------------------
_SNIP_CTX = 20


@query(
    "q197_search_snippets",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, source, lower(text) AS lt,
             position('{_SEARCH_Q}' IN lower(text)) AS pos
      FROM documents
      WHERE contains(lower(text), '{_SEARCH_Q}'))
    SELECT doc_id, source, CAST(pos AS BIGINT) AS match_pos,
           substr(lt, CASE WHEN pos - {_SNIP_CTX} > 1
                           THEN pos - {_SNIP_CTX} ELSE 1 END,
                  {_SNIP_CTX} + {len(_SEARCH_Q)} + {_SNIP_CTX}) AS snippet
    FROM hits ORDER BY doc_id
    """,
    tags=("extension", "text-search", "snippet"),
)
def q197_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result snippets for q185's query: each matching doc's
    FIRST occurrence position plus a ±20-character context
    window around the match — the display layer a search stack puts
    on top of the trigram index (find via the index, snippet via one
    bounded substring on the already-retrieved hits). Position
    arithmetic is 1-based and identical on both engines (`position`/
    `instr`, `substr` with explicit clamp at the string head; the
    tail clamps implicitly), so the snippets hash-match byte-for-byte.

    Scale: runs AFTER candidate pruning — in production this composes
    as q185's candidate semi-join feeding this projection, so the
    substring work touches matching docs only; here the filter is the
    exact contains probe for a self-contained oracle. Map-only: no
    shuffle beyond the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    q = _SEARCH_Q.lower()
    hits = docs.select(
        "doc_id",
        "source",
        F.lower(F.col("text")).alias("lt"),
    ).withColumn("pos", F.instr(F.col("lt"), q)).filter(F.col("pos") > 0)
    start = F.greatest(F.col("pos") - _SNIP_CTX, F.lit(1))
    return hits.select(
        "doc_id",
        "source",
        F.col("pos").cast("long").alias("match_pos"),
        F.col("lt")
        .substr(start, F.lit(_SNIP_CTX + len(q) + _SNIP_CTX))
        .alias("snippet"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q211 — per-document LM quality score (CCNet-style unigram logloss)
# --------------------------------------------------------------------------
@query(
    "q211_doc_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_tok FROM toks),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
    terms AS (
      SELECT t.doc_id,
             ln((CAST(c.c AS DOUBLE) + 1.0)
                / (CAST(n.n_tok AS DOUBLE) + CAST(vocab.v AS DOUBLE)))
               AS term
      FROM toks t JOIN cnt c USING (tok)
      CROSS JOIN n CROSS JOIN vocab)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           {r4("-CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE)"
               " / COUNT(*)")} AS avg_logloss
    FROM terms
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("extension", "corpus", "quality", "lm-filter"),
)
def q211_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language-model quality score — the CCNet-style LM
    filter: fit an add-one-smoothed unigram LM on the whole corpus and
    score every document by its average negative log-likelihood under
    it. Low logloss = fluent/typical text, high = noise, boilerplate,
    or wrong-language content; curation pipelines keep a per-source
    quantile of this score (exactly q208's gate shape, with this score
    replacing the stopword proxy). The corpus-side heavy lifting is one
    token-count aggregate; per-doc scoring is a (tok)-equi-join of the
    token stream against the vocab-sized count table — AQE broadcasts
    it when it fits, and the hot-token skew is absorbed by partial
    aggregation on (doc_id).

    Determinism: ln terms are identical elementary ops on identical
    inputs on both engines; the per-doc sum is per-term DECIMAL(38,18)
    casts (q178's discipline) so partition order cannot move the
    round4 boundary.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n = toks.agg(F.count("*").alias("n_tok"))
    vocab = toks.agg(F.count_distinct("tok").alias("v"))
    terms = (
        toks.join(cnt, "tok")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c").cast("double") + F.lit(1.0))
                / (F.col("n_tok").cast("double") + F.col("v").cast("double"))
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            round4(
                -F.sum(F.col("term").cast("decimal(38,18)")).cast("double")
                / F.count("*")
            ).alias("avg_logloss"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q224 — BPE first-merge induction (top adjacent-pair frequencies)
# --------------------------------------------------------------------------
@query(
    "q224_bpe_first_merges",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS_SQL}) AS w FROM documents),
    wc AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> substr(w, i, 2))) AS pair, c
      FROM wc WHERE len(w) >= 2)
    SELECT pair, CAST(SUM(c) AS BIGINT) AS n_occurrences
    FROM pairs
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
    tags=("extension", "corpus", "tokenizer", "bpe"),
)
def q224_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE vocabulary induction (Sennrich et
    al.): corpus-weighted adjacent character-pair frequencies, top 20 —
    each the candidate for the next merge rule. The distributed trick
    is aggregating over the WORD TABLE, not the corpus: pair counts are
    (pairs-per-distinct-word × word frequency), so the char-level
    explode runs on |vocab| rows instead of every token occurrence —
    at 100 TB the vocabulary is millions of rows while the corpus is
    trillions of tokens. Full BPE training iterates this (merge, re-
    split, recount) with the same plan per round; the induction step is
    the one worth showing because it sets the data layout.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .filter(F.length("w") >= 2)
    )
    pairs = wc.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q230 — vocabulary coverage / OOV-rate audit per source
# --------------------------------------------------------------------------
_VOCAB_K = 1000  # fixed-size vocabulary under audit


@query(
    "q230_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    vocab AS (
      SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT 1000),
    marked AS (
      SELECT t.source,
             CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN vocab v USING (tok))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           {r4("SUM(oov) * 1.0 / COUNT(*)")} AS oov_rate
    FROM marked
    GROUP BY source
    ORDER BY source
    """,
    tags=("extension", "corpus", "tokenizer", "coverage"),
)
def q230_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage audit: fix a top-1000-by-frequency
    vocabulary (ties broken by token text — deterministic across
    engines) and report each source's out-of-vocabulary token rate —
    the tokenizer-selection metric that says which sources a fixed
    vocab underserves (a high-OOV source inflates sequence lengths and
    degrades its downstream loss; the fix is a bigger vocab, q224's
    further merges, or byte-fallback). Plan: one token-count aggregate,
    a vocab top-k that is metadata-sized and broadcast into a left
    join against the token stream, one map-side-combined groupBy — at
    100 TB the only big exchange is the token count itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "tok", "left").select(
        "source",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("oov").cast("long").alias("n_oov"),
            round4(F.sum("oov") / F.count("*")).alias("oov_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q249 — crawl-order novelty curve (marginal new content per decile)
# --------------------------------------------------------------------------
_SHINGLES3_CTE = f"""
  toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
  shingles AS (
    SELECT DISTINCT doc_id, sh FROM (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
               THEN unnest(list_transform(generate_series(1, len(t) - 2),
                                          i -> array_to_string(t[i:i+2], ' ')))
               ELSE array_to_string(t, ' ')
             END AS sh
      FROM toks))
"""


@query(
    "q249_crawl_novelty_curve",
    oracle=f"""
    WITH {_SHINGLES3_CTE},
    first_seen AS (
      SELECT sh, MIN(doc_id) AS first_doc FROM shingles GROUP BY sh),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_shingles,
             SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
               AS n_novel
      FROM shingles s JOIN first_seen f USING (sh)
      GROUP BY s.doc_id),
    bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi
               FROM documents),
    binned AS (
      SELECT LEAST(9, ((p.doc_id - b.lo) * 10) // (b.hi - b.lo + 1))
               AS decile,
             p.n_shingles, p.n_novel
      FROM per_doc p CROSS JOIN bounds b)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_shingles) AS BIGINT) AS sum_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS sum_novel,
           {r4('SUM(n_novel) * 1.0 / SUM(n_shingles)')} AS novelty_rate
    FROM binned
    GROUP BY decile
    ORDER BY decile
    """,
    tags=("extension", "corpus", "curation", "novelty"),
)
def q249_crawl_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve over crawl order: per doc_id decile, the
    fraction of each document's word-3-gram shingles whose FIRST
    occurrence (by ingestion order = doc_id) is that document. This is
    the diminishing-returns measurement behind crawl budgeting — when
    the tail deciles' novelty rate collapses, additional crawling of
    the same frontier buys duplicated content, and the dedup pipeline
    (q17/q18/q126) will discard most of it post-hoc; this query prices
    that BEFORE the crawl spends the budget (the continuous form is the
    stored-index novelty check the q205 ingest gate applies per batch).

    Shape: two narrow shuffles — min(doc_id) per shingle (the same
    first-seen-wins reduction exact dedup uses), then a per-doc count
    join that stays shuffle-local on doc_id; the decile binning uses
    pure integer arithmetic against a broadcast 1-row bounds frame so
    both engines bin identically. At 100 TB the first-seen frame IS the
    incremental dedup index (operators/dedup.band_signatures stores the
    LSH form of exactly this), so the curve falls out of state the
    pipeline already maintains.
    """
    docs = load_table(spark, sf_dir, "documents")
    from movie_data_pipeline_spark.operators.dedup import doc_shingles

    sh = doc_shingles(docs)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
    )
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    binned = per_doc.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(9),
            ((F.col("doc_id") - F.col("lo")) * 10)
            .cast("long")
            / (F.col("hi") - F.col("lo") + 1),
        )
        .cast("long")
        .alias("decile"),
        "n_shingles",
        "n_novel",
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_shingles").cast("long").alias("sum_shingles"),
            F.sum("n_novel").cast("long").alias("sum_novel"),
            round4(F.sum("n_novel") / F.sum("n_shingles")).alias(
                "novelty_rate"
            ),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# q250 — chunk-granularity dedup rate (RAG-ingestion redundancy)
# --------------------------------------------------------------------------
@query(
    "q250_chunk_dedup_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
    starts AS (
      SELECT source, t,
             unnest(list_filter(generate_series(1, len(t), {CHUNK_STRIDE}),
                    s -> s = 1 OR s - {CHUNK_STRIDE} + {CHUNK_TOKENS - 1} < len(t))) AS s
      FROM toks),
    chunks AS (
      SELECT source,
             md5(array_to_string(t[s:s + {CHUNK_TOKENS - 1}], ' ')) AS dg
      FROM starts),
    per AS (
      SELECT source, COUNT(*) AS n_chunks,
             COUNT(DISTINCT dg) AS n_unique
      FROM chunks GROUP BY source),
    multi AS (
      SELECT dg FROM (
        SELECT dg, COUNT(DISTINCT source) AS ns FROM chunks GROUP BY dg)
      WHERE ns > 1),
    shared AS (
      SELECT source, COUNT(*) AS n_shared
      FROM chunks JOIN multi USING (dg) GROUP BY source)
    SELECT p.source,
           CAST(p.n_chunks AS BIGINT) AS n_chunks,
           CAST(p.n_unique AS BIGINT) AS n_unique_chunks,
           {r4('1.0 - p.n_unique * 1.0 / p.n_chunks')} AS dup_rate,
           CAST(COALESCE(s.n_shared, 0) AS BIGINT)
             AS n_chunks_shared_xsource
    FROM per p LEFT JOIN shared s USING (source)
    ORDER BY p.source
    """,
    tags=("extension", "corpus", "dedup", "chunking", "rag"),
)
def q250_chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup measured at CHUNK granularity — the unit a RAG/vector-DB
    ingestion actually stores: per source, the stride-chunk count
    (q87's chunker verbatim), distinct-digest count, within-source
    duplicate rate, and how many chunks share their digest with
    ANOTHER source (cross-source boilerplate at chunk level). Document
    dedup (q17) misses this entirely: two distinct documents that
    embed the same boilerplate paragraph produce duplicate CHUNKS,
    which bloat the vector index and skew retrieval toward the
    repeated span — this report prices chunk-level dedup before the
    embedding spend.

    Shape: the chunker is q87's pure map stage; everything downstream
    keys on a 16-byte md5 digest, never chunk text (q17's shuffle
    discipline) — one digest-grouped aggregate for the multi-source
    set, one source-grouped aggregate for the report, both narrow.
    """
    docs = load_table(spark, sf_dir, "documents")
    chunks = _stride_chunks(docs, "source").select(
        "source", F.md5(F.array_join("chunk", " ")).alias("dg")
    )
    per = chunks.groupBy("source").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.count_distinct("dg").cast("long").alias("n_unique_chunks"),
    )
    multi = (
        chunks.groupBy("dg")
        .agg(F.count_distinct("source").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("dg")
    )
    shared = (
        chunks.join(multi, "dg")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        per.join(shared, "source", "left")
        .select(
            "source",
            "n_chunks",
            "n_unique_chunks",
            round4(
                F.lit(1.0)
                - F.col("n_unique_chunks") * F.lit(1.0) / F.col("n_chunks")
            ).alias("dup_rate"),
            F.coalesce("n_shared", F.lit(0))
            .cast("long")
            .alias("n_chunks_shared_xsource"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q257 — decontamination n-gram-size sensitivity sweep
# --------------------------------------------------------------------------
DECONTAM_SWEEP_NS = (2, 3, 5, 8)


def _sweep_shingles_sql(n: int, pred: str) -> str:
    """Distinct word n-gram shingles per doc for the given doc filter."""
    return f"""(
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               CASE WHEN len(t) >= {n}
                 THEN unnest(list_transform(
                        generate_series(1, len(t) - {n - 1}),
                        i -> array_to_string(t[i:i + {n - 1}], ' ')))
                 ELSE array_to_string(t, ' ')
               END AS sh
        FROM toks WHERE {pred}))"""


def _sweep_block_sql(n: int) -> str:
    train = _sweep_shingles_sql(n, f"doc_id % {BENCH_MOD} <> 0")
    bench = _sweep_shingles_sql(n, f"doc_id % {BENCH_MOD} = 0")
    return f"""
    SELECT CAST({n} AS BIGINT) AS ngram_n,
           CAST(tc.n_train AS BIGINT) AS n_train_docs,
           CAST(COUNT(f.doc_id) AS BIGINT) AS n_flagged,
           {r4('COUNT(f.doc_id) * 1.0 / tc.n_train')} AS flag_rate,
           {r4('CASE WHEN COUNT(f.doc_id) = 0 THEN 0.0 '
               'ELSE SUM(f.n_shared) * 1.0 / COUNT(f.doc_id) END')}
             AS mean_shared_grams
    FROM tr_cnt tc LEFT JOIN (
      SELECT s.doc_id, COUNT(*) AS n_shared
      FROM {train} s
      JOIN (SELECT DISTINCT sh FROM {bench} b0) b USING (sh)
      GROUP BY s.doc_id) f ON TRUE
    GROUP BY tc.n_train"""


@query(
    "q257_decontam_ngram_sweep",
    oracle=(
        f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),\n"
        f"tr_cnt AS (SELECT COUNT(*) AS n_train FROM documents\n"
        f"           WHERE doc_id % {BENCH_MOD} <> 0)\n"
        + "\nUNION ALL\n".join(
            _sweep_block_sql(n) for n in DECONTAM_SWEEP_NS
        )
        + "\nORDER BY ngram_n"
    ),
    tags=("extension", "corpus", "decontamination", "calibration"),
)
def q257_decontam_ngram_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity of the n-gram decontamination gate (q88) to the
    n-gram size: for n in {DECONTAM_SWEEP_NS}, how many training
    documents share at least one word n-gram with the held-out
    benchmark slice, the flag rate, and the mean shared-gram count
    among flagged docs. Production gates use 8-13-grams precisely
    because short grams over-flag (at n=2 nearly every doc shares a
    bigram with any benchmark — pure false positives) while long grams
    only catch verbatim leakage; this curve makes that trade-off a
    measured quantity on THIS corpus rather than folklore — the same
    calibration discipline q248 applies to LSH bands and q229 to the
    dedup threshold, completing the knob-sweep family for the
    decontamination knob.

    Shape/scale: one tokenization pass feeds all four n values (the
    gram arrays are map-side transforms of the same token array — no
    re-scan); per n, the benchmark gram set is DISTINCT-collapsed and
    broadcast (eval suites are dimension-sized), the training corpus
    streams through the broadcast join, and only matched grams reach
    the per-doc exchange — q88's plan shape, looped. The four
    single-row summaries union map-side. At 100 TB, running the sweep
    on an md5-bucket sample (q39 discipline) prices the gate before
    the full-corpus pass commits to an n.
    """
    from movie_data_pipeline_spark.operators.util import spread

    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    toks = spread(docs).select("doc_id", tokens(F.col("text")).alias("t"))
    tr_cnt = docs.filter(~is_bench).agg(
        F.count("*").alias("n_train")
    )
    parts = []
    for n in DECONTAM_SWEEP_NS:
        sh = toks.select("doc_id", shingles(F.col("t"), n).alias("grams"))
        # explode_outer: see q88
        bench = (
            sh.filter(is_bench)
            .select(F.explode_outer("grams").alias("sh"))
            .distinct()
        )
        train = sh.filter(~is_bench).select(
            "doc_id", F.explode_outer("grams").alias("sh")
        )
        flagged = (
            train.join(F.broadcast(bench), "sh")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared"))
        )
        summary = (
            flagged.agg(
                F.count("*").alias("n_flagged"),
                F.sum("n_shared").alias("sum_shared"),
            )
            .crossJoin(F.broadcast(tr_cnt))
            .select(
                F.lit(n).cast("long").alias("ngram_n"),
                F.col("n_train").cast("long").alias("n_train_docs"),
                F.col("n_flagged").cast("long").alias("n_flagged"),
                round4(F.col("n_flagged") / F.col("n_train")).alias(
                    "flag_rate"
                ),
                round4(
                    F.when(F.col("n_flagged") == 0, F.lit(0.0)).otherwise(
                        F.col("sum_shared") / F.col("n_flagged")
                    )
                ).alias("mean_shared_grams"),
            )
        )
        parts.append(summary)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("ngram_n")


# --------------------------------------------------------------------------
# q271 — content-defined chunking (CDC) audit
# --------------------------------------------------------------------------
# Gear-style CDC: a cut is declared AFTER any 8-char window whose
# 32-bit md5 prefix is divisible by the divisor — boundaries follow
# content, not offsets, so an insertion early in a document re-aligns
# every later chunk (the property fixed-stride chunking lacks and the
# reason storage/dedup systems use CDC). Divisor 64 -> ~64-char
# expected chunks on the ~300-char synthetic docs.
_CDC_WIN = 8
_CDC_DIV = 64
_CDC_BH = (
    "CAST(('0x' || substr(md5(substr(text, p, 8)), 1, 8)) AS BIGINT)"
)


@query(
    "q271_cdc_chunking_audit",
    oracle=f"""
    WITH docs0 AS (
      SELECT doc_id, source, text, len(text) AS L FROM documents),
    pos AS (
      SELECT doc_id, text, L,
             unnest(generate_series(1, L - {_CDC_WIN - 1})) AS p
      FROM docs0 WHERE L >= {_CDC_WIN}),
    cut AS (
      SELECT doc_id, p + {_CDC_WIN} AS s FROM pos
      WHERE {_CDC_BH} % {_CDC_DIV} = 0 AND p + {_CDC_WIN} <= L),
    allstarts AS (
      SELECT doc_id, 1 AS s FROM docs0
      UNION
      SELECT doc_id, s FROM cut),
    spans AS (
      SELECT doc_id, s,
             LEAD(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
      FROM allstarts),
    chunks AS (
      SELECT c.doc_id, d.source,
             substr(d.text, c.s, COALESCE(c.nxt, d.L + 1) - c.s) AS chunk
      FROM spans c JOIN docs0 d USING (doc_id)),
    dig AS (
      SELECT source, md5(chunk) AS dg, len(chunk) AS cl FROM chunks),
    per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(cl) AS BIGINT) AS n_chars,
             CAST(COUNT(DISTINCT dg) AS BIGINT) AS n_distinct_chunks
      FROM dig GROUP BY source),
    xs AS (
      SELECT dg FROM dig GROUP BY dg
      HAVING COUNT(DISTINCT source) >= 2),
    shared AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks_shared_xsource
      FROM dig JOIN xs USING (dg) GROUP BY source)
    SELECT p.source, p.n_chunks, p.n_chars,
           {r4('p.n_chars * 1.0 / p.n_chunks')} AS avg_chunk_len,
           p.n_distinct_chunks,
           {r4('1.0 - p.n_distinct_chunks * 1.0 / p.n_chunks')}
             AS dup_chunk_rate,
           CAST(COALESCE(s.n_chunks_shared_xsource, 0) AS BIGINT)
             AS n_chunks_shared_xsource
    FROM per p LEFT JOIN shared s USING (source)
    ORDER BY p.source
    """,
    tags=("extension", "corpus", "dedup", "chunking", "cdc"),
)
def q271_cdc_chunking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking audit — q250's fixed-stride chunk
    dedup report recomputed with gear-CDC boundaries: a chunk ends
    after any 8-char window whose 32-bit md5 prefix is divisible by
    64, so boundaries travel WITH the content. This is the chunking a
    100 TB ingest wants for shift-robust dedup: a one-char insertion
    near the head of a near-duplicate document desynchronizes every
    fixed-stride chunk (q250 sees ~0 shared digests for such pairs)
    but only the ONE enclosing CDC chunk changes — the downstream
    digests re-align and keep deduping. Per source: chunk count/size
    stats, within-source duplicate-digest rate, and digests shared
    with another source (the q250 columns, directly comparable).

    Plain CDC on purpose (no min/max chunk clamp): the audit measures
    the raw boundary process; production systems clamp to [min, max]
    around the same cut stream, which only splits/merges runs of the
    windows counted here. Scale shape: the cut scan is stride-1 over
    corpus BYTES (q268's linear cost class — map-only until the
    per-source aggregate); chunk assembly is one LEAD window
    PARTITIONED by doc_id over cut rows (~bytes/64 per doc), and
    everything downstream keys on 16-byte digests, never chunk text
    (q17's shuffle discipline).
    """
    docs0 = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", F.length("text").alias("L")
    )
    pos = docs0.filter(F.col("L") >= _CDC_WIN).select(
        "doc_id",
        "text",
        "L",
        F.explode(
            F.sequence(F.lit(1), F.col("L") - (_CDC_WIN - 1))
        ).alias("p"),
    )
    bh = (
        F.conv(
            F.substring(
                F.md5(F.expr(f"substring(text, p, {_CDC_WIN})")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _CDC_DIV
    )
    cut = (
        pos.filter(bh == 0)
        .select("doc_id", (F.col("p") + _CDC_WIN).alias("s"), "L")
        .filter(F.col("s") <= F.col("L"))
        .select("doc_id", "s")
    )
    allstarts = docs0.select("doc_id", F.lit(1).alias("s")).unionByName(
        cut
    ).distinct()
    from pyspark.sql.window import Window as _W

    spans = allstarts.withColumn(
        "nxt",
        F.lead("s").over(_W.partitionBy("doc_id").orderBy("s")),
    )
    chunks = spans.join(docs0, "doc_id").select(
        "source",
        F.expr("substring(text, s, coalesce(nxt, L + 1) - s)").alias(
            "chunk"
        ),
    )
    dig = chunks.select(
        "source",
        F.md5("chunk").alias("dg"),
        F.length("chunk").cast("long").alias("cl"),
    )
    with cached(dig, count=False) as dig:
        per = dig.groupBy("source").agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("cl").cast("long").alias("n_chars"),
            F.count_distinct("dg").cast("long").alias("n_distinct_chunks"),
        )
        xs = (
            dig.groupBy("dg")
            .agg(F.count_distinct("source").alias("ns"))
            .filter(F.col("ns") >= 2)
            .select("dg")
        )
        shared = (
            dig.join(xs.hint("SHUFFLE_MERGE"), "dg")
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_chunks_shared_xsource"))
        )
        out = (
            per.join(shared, "source", "left")
            .select(
                "source",
                "n_chunks",
                "n_chars",
                round4(F.col("n_chars") * 1.0 / F.col("n_chunks")).alias(
                    "avg_chunk_len"
                ),
                "n_distinct_chunks",
                round4(
                    F.lit(1.0)
                    - F.col("n_distinct_chunks") * 1.0 / F.col("n_chunks")
                ).alias("dup_chunk_rate"),
                F.coalesce("n_chunks_shared_xsource", F.lit(0))
                .cast("long")
                .alias("n_chunks_shared_xsource"),
            )
            .orderBy("source")
            .localCheckpoint(eager=True)
        )
    return out


# --------------------------------------------------------------------------
# q279 — URL canonicalization + host-level dedup rollup
# --------------------------------------------------------------------------
# The documents table carries no URL column, so the query DERIVES a
# deterministic pseudo-URL per document from md5(doc_id) bits + the
# source column — built to exercise every canonicalization rule
# (scheme variants, www. prefix, host case, default ports, trailing
# slash, tracking params, param order). The canonicalization chain and
# the host rollup below are the reusable operator; on a corpus with a
# real url column, point them at it unchanged.


def _urlbit_spark(i: int) -> str:
    return (
        f"(conv(substring(md5(cast(doc_id as string)), {i}, 1), 16, 10)"
        " % 2 = 1)"
    )


def _urlbit_sql(i: int) -> str:
    return (
        f"(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1))"
        " AS BIGINT) % 2 = 1)"
    )


_URL_TRACKING_RE = "^(utm_[a-z]+|ref|fbclid)="

# Spark-side host canonicalization over the scheme-stripped URL column
# ``u1``: lowercase, drop ONE leading literal "www." label, drop default
# ports. Spark's SQL literal parser unescapes backslashes, so the
# pattern is written with a DOUBLED backslash in the SQL text (Python
# source carries four) — '^www\\.' reaching the regex engine as a
# literal dot-anchor; a single backslash would reduce to '^www.'
# (dot = any char) and mis-canonicalize hosts like 'www2.example.com'
# (ADVICE r8; regression-tested with a planted www2 host).
_URL_HOST_CANON_SPARK = """regexp_replace(regexp_replace(lower(
                 CASE WHEN instr(u1, '/') > 0
                      THEN substring(u1, 1, instr(u1, '/') - 1)
                      ELSE u1 END),
                 '^www\\\\.', ''), ':(443|80)$', '')"""
_URL_PATH_DIV = 240  # path key granularity: ids 60 apart share a host

_URL_SPARK = f"""concat(
  CASE WHEN {_urlbit_spark(1)} THEN 'https://' ELSE 'http://' END,
  CASE WHEN {_urlbit_spark(2)} THEN 'www.' ELSE '' END,
  CASE WHEN {_urlbit_spark(3)}
       THEN upper(concat(source, '-s', cast(doc_id % 3 as string),
                         '.example.com'))
       ELSE concat(source, '-s', cast(doc_id % 3 as string),
                   '.example.com') END,
  CASE WHEN {_urlbit_spark(4)}
       THEN (CASE WHEN {_urlbit_spark(1)} THEN ':443' ELSE ':80' END)
       ELSE '' END,
  '/docs/', cast(doc_id div {_URL_PATH_DIV} as string),
  CASE WHEN {_urlbit_spark(5)} THEN '/' ELSE '' END,
  CASE WHEN {_urlbit_spark(6)}
       THEN concat('?utm_source=feed&id=', cast(doc_id % 5 as string))
       WHEN {_urlbit_spark(7)}
       THEN concat('?id=', cast(doc_id % 5 as string), '&ref=rss')
       WHEN {_urlbit_spark(8)}
       THEN concat('?id=', cast(doc_id % 5 as string))
       ELSE '' END)"""

_URL_SQL = f"""(CASE WHEN {_urlbit_sql(1)} THEN 'https://' ELSE 'http://' END) ||
  (CASE WHEN {_urlbit_sql(2)} THEN 'www.' ELSE '' END) ||
  (CASE WHEN {_urlbit_sql(3)}
        THEN upper(source || '-s' || CAST(doc_id % 3 AS VARCHAR)
                   || '.example.com')
        ELSE source || '-s' || CAST(doc_id % 3 AS VARCHAR)
             || '.example.com' END) ||
  (CASE WHEN {_urlbit_sql(4)}
        THEN (CASE WHEN {_urlbit_sql(1)} THEN ':443' ELSE ':80' END)
        ELSE '' END) ||
  '/docs/' || CAST(doc_id // {_URL_PATH_DIV} AS VARCHAR) ||
  (CASE WHEN {_urlbit_sql(5)} THEN '/' ELSE '' END) ||
  (CASE WHEN {_urlbit_sql(6)}
        THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
        WHEN {_urlbit_sql(7)}
        THEN '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&ref=rss'
        WHEN {_urlbit_sql(8)}
        THEN '?id=' || CAST(doc_id % 5 AS VARCHAR)
        ELSE '' END)"""


@query(
    "q279_url_host_dedup_rollup",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    u AS (SELECT doc_id, url,
                 regexp_replace(url, '^https?://', '') AS u1 FROM raw),
    hr AS (SELECT doc_id, url,
      regexp_replace(regexp_replace(lower(
        CASE WHEN instr(u1, '/') > 0
             THEN substring(u1, 1, instr(u1, '/') - 1) ELSE u1 END),
        '^www\\.', ''), ':(443|80)$', '') AS host,
      CASE WHEN instr(u1, '/') > 0
           THEN substring(u1, instr(u1, '/')) ELSE '' END AS rest
      FROM u),
    pq AS (SELECT doc_id, url, host,
      CASE WHEN instr(rest, '?') > 0
           THEN substring(rest, 1, instr(rest, '?') - 1)
           ELSE rest END AS path0,
      CASE WHEN instr(rest, '?') > 0
           THEN substring(rest, instr(rest, '?') + 1)
           ELSE '' END AS qs
      FROM hr),
    k AS (SELECT doc_id, url, host,
      regexp_replace(path0, '/$', '') AS path,
      array_to_string(list_sort(list_filter(string_split(qs, '&'),
        x -> x <> '' AND NOT regexp_matches(x, '{_URL_TRACKING_RE}'))),
        '&') AS kept
      FROM pq),
    canon AS (SELECT doc_id, url, host,
      host || path
           || (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END)
        AS canon_url
      FROM k),
    g AS (SELECT host, canon_url, COUNT(*) AS c,
                 COUNT(DISTINCT url) AS r
          FROM canon GROUP BY 1, 2)
    SELECT host,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(SUM(r) AS BIGINT) AS n_raw_urls,
           CAST(COUNT(*) AS BIGINT) AS n_canon_urls,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           {r4('SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / SUM(c)')}
             AS dup_rate
    FROM g GROUP BY host ORDER BY host
    """,
    tags=("extension", "corpus", "url", "dedup"),
)
def q279_url_host_dedup_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """URL canonicalization + host-level dedup rollup (VERDICT r7 #5b):
    normalize every document URL to its canonical form — strip scheme,
    lowercase the host, drop a leading ``www.``, drop default ports
    (:80/:443), drop the trailing slash, remove tracking params
    (utm_*, ref, fbclid) and sort the survivors — then roll duplicate
    canonical URLs up to the HOST level: docs, distinct raw URLs,
    distinct canonical URLs, docs sharing a canonical URL with another
    doc, and the dup rate. This is the crawl-side complement of the
    content-dedup family (q17/q18/q268): at 100 TB the cheapest
    duplicate is the one you drop BEFORE fetching or shingling, and
    the host rollup is the table a crawl scheduler reads to decide
    which mirrors to stop crawling (it also feeds q270-style
    provenance analysis at host rather than source granularity).

    The documents table has no URL column, so a pseudo-URL is DERIVED
    per document from md5(doc_id) bits (scheme/www/case/port/slash/
    param variants) + the source column — deterministic on both
    engines, built to exercise every rule above; the canonicalization
    chain is the reusable operator and applies unchanged to a real
    url column.

    Scale: one projection per rule (no UDFs — regexp/string builtins
    inside codegen), ONE groupBy (host, canon_url) with map-side
    combine, then a host-level reaggregation; canonical-URL dedup of a
    100 TB crawl is exactly this shuffle, and host skew (one giant
    mirror) is AQE's skew-join/agg case. COUNT(DISTINCT url) runs
    inside the (host, canon_url) group where raw variants are
    provably co-located.
    """
    docs = load_table(spark, sf_dir, "documents")
    canon = (
        docs.selectExpr("doc_id", "source")
        .selectExpr("doc_id", _URL_SPARK + " AS url")
        .selectExpr(
            "doc_id", "url",
            "regexp_replace(url, '^https?://', '') AS u1",
        )
        .selectExpr(
            "doc_id", "url",
            _URL_HOST_CANON_SPARK + " AS host",
            """CASE WHEN instr(u1, '/') > 0
                    THEN substring(u1, instr(u1, '/'))
                    ELSE '' END AS rest""",
        )
        .selectExpr(
            "doc_id", "url", "host",
            """CASE WHEN instr(rest, '?') > 0
                    THEN substring(rest, 1, instr(rest, '?') - 1)
                    ELSE rest END AS path0""",
            """CASE WHEN instr(rest, '?') > 0
                    THEN substring(rest, instr(rest, '?') + 1)
                    ELSE '' END AS qs""",
        )
        .selectExpr(
            "doc_id", "url", "host",
            "regexp_replace(path0, '/$', '') AS path",
            f"""array_join(array_sort(filter(split(qs, '&'),
                x -> x != '' AND NOT x RLIKE '{_URL_TRACKING_RE}')),
                '&') AS kept""",
        )
        .selectExpr(
            "doc_id", "url", "host",
            """concat(host, path,
               CASE WHEN kept != '' THEN concat('?', kept)
                    ELSE '' END) AS canon_url""",
        )
    )
    g = canon.groupBy("host", "canon_url").agg(
        F.count("*").alias("c"), F.countDistinct("url").alias("r")
    )
    return (
        g.groupBy("host")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.sum("r").cast("long").alias("n_raw_urls"),
            F.count("*").cast("long").alias("n_canon_urls"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_docs"),
        )
        .withColumn(
            "dup_rate",
            round4(F.col("n_dup_docs") * F.lit(1.0) / F.col("n_docs")),
        )
        .orderBy("host")
    )


# --------------------------------------------------------------------------
# q282 — corpus yield waterfall: raw -> exact dedup -> near-dup -> quality
# --------------------------------------------------------------------------
from movie_data_pipeline_spark.operators.dedup import (  # noqa: E402
    JACCARD_MAX_SHINGLE_DF as _WF_DF_CAP,
)

_WF_TAU = "0.5"        # near-dup drop bar (q121's truth threshold)
_WF_MIN_CHARS = 120    # quality gate (q269's labeled rule)


@query(
    "q282_corpus_yield_waterfall",
    oracle=f"""
    WITH d0 AS (
      SELECT doc_id, source, lang, n_chars, text,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS ntok
      FROM documents),
    ex AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents) t
      WHERE rn = 1),
    s1 AS (SELECT d0.* FROM d0 JOIN ex USING (doc_id)),
    tokw AS (SELECT doc_id,
                    string_split_regex(lower(trim(text)), '\\s+') AS t
             FROM s1),
    shw AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN unnest(list_transform(generate_series(1, len(t) - 2),
                                            i -> array_to_string(t[i:i+2],
                                                                 ' ')))
                 ELSE array_to_string(t, ' ')
               END AS sh
        FROM tokw)),
    skw AS (SELECT sh FROM shw GROUP BY sh
            HAVING COUNT(*) <= {_WF_DF_CAP}),
    shcw AS (SELECT s.doc_id, s.sh FROM shw s JOIN skw USING (sh)),
    cntw AS (SELECT doc_id, COUNT(*) AS n FROM shcw GROUP BY doc_id),
    comw AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shcw a JOIN shcw b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jpw AS (
      SELECT doc_a, doc_b FROM comw
      JOIN cntw ca ON ca.doc_id = doc_a
      JOIN cntw cb ON cb.doc_id = doc_b
      WHERE {r4('n_common * 1.0 / (ca.n + cb.n - n_common)')}
              >= {_WF_TAU}),
    nd AS (SELECT DISTINCT doc_b AS doc_id FROM jpw),
    s2 AS (SELECT s1.* FROM s1 LEFT JOIN nd USING (doc_id)
           WHERE nd.doc_id IS NULL),
    s3 AS (SELECT * FROM s2
           WHERE lang = 'en' AND n_chars >= {_WF_MIN_CHARS}),
    m AS (
      SELECT d0.source, d0.ntok,
             CASE WHEN s1.doc_id IS NOT NULL THEN 1 ELSE 0 END AS m1,
             CASE WHEN s2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS m2,
             CASE WHEN s3.doc_id IS NOT NULL THEN 1 ELSE 0 END AS m3
      FROM d0
      LEFT JOIN s1 ON s1.doc_id = d0.doc_id
      LEFT JOIN s2 ON s2.doc_id = d0.doc_id
      LEFT JOIN s3 ON s3.doc_id = d0.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
           CAST(SUM(ntok) AS BIGINT) AS tok_raw,
           CAST(SUM(m1) AS BIGINT) AS n_docs_exact,
           CAST(SUM(ntok * m1) AS BIGINT) AS tok_exact,
           CAST(SUM(m2) AS BIGINT) AS n_docs_neardup,
           CAST(SUM(ntok * m2) AS BIGINT) AS tok_neardup,
           CAST(SUM(m3) AS BIGINT) AS n_docs_quality,
           CAST(SUM(ntok * m3) AS BIGINT) AS tok_quality,
           {r4('SUM(ntok * m3) * 1.0 / SUM(ntok)')} AS yield_rate
    FROM m GROUP BY source ORDER BY source
    """,
    tags=("extension", "corpus", "dedup", "curation", "yield"),
)
def q282_corpus_yield_waterfall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source token-yield WATERFALL through the standard
    training-data pipeline order: raw -> exact dedup (one survivor per
    md5(text) digest group, keep lowest doc_id) -> near-dup dedup
    (drop every survivor that is the LARGER id of a df-capped
    word-3-gram Jaccard >= 0.5 pair among survivors — keep-earliest,
    q174's transitive-free policy) -> quality gate (lang = 'en' AND
    n_chars >= 120, the labeled rule q269 calibrates against). For
    each source: docs and whitespace tokens surviving each stage plus
    the end-to-end token yield_rate — the one table that prices a
    source BEFORE a 100 TB ingest: a source with high raw mass but
    low yield is mostly duplicates or filtered noise, and each
    stage's drop shows which.

    Stage composition matters and is deliberate: near-dup pairs are
    computed AMONG exact-dedup survivors (the real pipeline never
    shingles exact copies it already dropped), so this is not
    derivable from q17/q18/q71 run independently.

    Scale: exact dedup is one digest groupBy; near-dup is q18's
    df-capped bucket machinery (never all-pairs); the waterfall
    itself is membership flags folded in ONE pass over the corpus
    (three LEFT joins on doc_id, one groupBy(source)).
    """
    from movie_data_pipeline_spark.operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    d0 = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        "text",
        F.size(tokens(F.col("text"))).cast("long").alias("ntok"),
    )
    keep1 = (
        docs.groupBy(F.md5("text").alias("dg"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = d0.join(keep1, "doc_id", "left_semi")
    with cached(s1, count=False) as s1:
        nd = (
            jaccard_pairs(
                s1.select("doc_id", "text"),
                max_shingle_df=_WF_DF_CAP,
                threshold=float(_WF_TAU),
            )
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        s2 = s1.join(nd, "doc_id", "left_anti")
        s3 = s2.filter(
            (F.col("lang") == "en") & (F.col("n_chars") >= _WF_MIN_CHARS)
        )
        m = (
            d0.join(
                s1.select("doc_id").withColumn("m1", F.lit(1)),
                "doc_id",
                "left",
            )
            .join(
                s2.select("doc_id").withColumn("m2", F.lit(1)),
                "doc_id",
                "left",
            )
            .join(
                s3.select("doc_id").withColumn("m3", F.lit(1)),
                "doc_id",
                "left",
            )
            .select(
                "source",
                "ntok",
                F.coalesce("m1", F.lit(0)).alias("m1"),
                F.coalesce("m2", F.lit(0)).alias("m2"),
                F.coalesce("m3", F.lit(0)).alias("m3"),
            )
        )
        out = (
            m.groupBy("source")
            .agg(
                F.count("*").cast("long").alias("n_docs_raw"),
                F.sum("ntok").cast("long").alias("tok_raw"),
                F.sum("m1").cast("long").alias("n_docs_exact"),
                F.sum(F.col("ntok") * F.col("m1"))
                .cast("long")
                .alias("tok_exact"),
                F.sum("m2").cast("long").alias("n_docs_neardup"),
                F.sum(F.col("ntok") * F.col("m2"))
                .cast("long")
                .alias("tok_neardup"),
                F.sum("m3").cast("long").alias("n_docs_quality"),
                F.sum(F.col("ntok") * F.col("m3"))
                .cast("long")
                .alias("tok_quality"),
            )
            .withColumn(
                "yield_rate",
                round4(
                    F.col("tok_quality") * F.lit(1.0) / F.col("tok_raw")
                ),
            )
            .orderBy("source")
            .localCheckpoint(eager=True)
        )
    return out


# --------------------------------------------------------------------------
# q283 — corpus composition audit: lang x source chi-square residuals
# --------------------------------------------------------------------------


@query(
    "q283_lang_source_composition",
    oracle=f"""
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source),
    rt AS (SELECT lang, SUM(o) AS r FROM obs GROUP BY lang),
    ct AS (SELECT source, SUM(o) AS c FROM obs GROUP BY source),
    n AS (SELECT SUM(o) AS n FROM obs),
    e AS (
      SELECT obs.lang, obs.source, obs.o,
             CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
               / CAST(n.n AS DOUBLE) AS ex
      FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n)
    SELECT lang, source, o AS n_obs,
           {r4('ex')} AS n_expected,
           {r4('(o - ex) * (o - ex) / ex')} AS chisq_contrib,
           {r4('(o - ex) / sqrt(ex)')} AS std_resid
    FROM e ORDER BY lang, source
    """,
    tags=("extension", "corpus", "composition", "audit"),
)
def q283_lang_source_composition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus composition audit: the lang x source contingency table
    with chi-square machinery — observed count, independence-expected
    count (row_total x col_total / N), per-cell chi-square
    contribution, and the standardized residual (O-E)/sqrt(E), the
    number a corpus curator actually reads: |std_resid| >~ 2 flags a
    (lang, source) cell materially over- or under-represented vs the
    corpus-wide language mix. Run per ingest snapshot, the residuals
    catch a source silently changing language composition (a crawler
    following a redirect farm, a feed switching locale) long before
    downstream lang-ID yield moves — the categorical complement of
    q258's numeric KS drift and q178's transfer matrix.

    Cells are the OBSERVED (lang, source) pairs (a never-seen combo
    contributes no row — the monitor tracks composition of what
    arrived, identically on both engines). Determinism: expected
    counts and residuals are IEEE-double expressions of exact integer
    counts (correctly-rounded ops agree bit-for-bit across engines),
    round4-quantized in the published columns.

    Scale: one groupBy(lang, source) with map-side combine, two tiny
    rollups re-joined (both broadcast-sized: |langs| and |sources|
    rows), one broadcast scalar N — no corpus-sized shuffle beyond
    the first aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("o")
    )
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    e = (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "ex",
            F.col("r").cast("double")
            * F.col("c").cast("double")
            / F.col("n").cast("double"),
        )
    )
    diff = F.col("o") - F.col("ex")
    return e.select(
        "lang",
        "source",
        F.col("o").alias("n_obs"),
        round4(F.col("ex")).alias("n_expected"),
        round4(diff * diff / F.col("ex")).alias("chisq_contrib"),
        round4(diff / F.sqrt(F.col("ex"))).alias("std_resid"),
    ).orderBy("lang", "source")


# --------------------------------------------------------------------------
# q285 — stratified deterministic sample manifest (per-source fixed size)
# --------------------------------------------------------------------------
_STRAT_TARGET = 16  # sampled docs per source stratum


@query(
    "q285_stratified_sample_manifest",
    oracle=f"""
    WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents
                 GROUP BY source),
    base AS (
      SELECT d.doc_id, d.source, c.n,
             GREATEST(1, c.n // {_STRAT_TARGET}) AS m,
             CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS bkt
      FROM documents d JOIN cnt c USING (source)),
    f AS (SELECT doc_id, source, n, m,
                 CASE WHEN bkt % m = 0 THEN 1 ELSE 0 END AS s
          FROM base)
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MAX(m) AS BIGINT) AS modulus,
           CAST(SUM(s) AS BIGINT) AS n_sampled,
           {r4('SUM(s) * 1.0 / MAX(n)')} AS sample_rate,
           MIN(CASE WHEN s = 1 THEN doc_id END) AS min_sampled_id,
           MAX(CASE WHEN s = 1 THEN doc_id END) AS max_sampled_id
    FROM f GROUP BY source ORDER BY source
    """,
    tags=("extension", "corpus", "sampling", "manifest"),
)
def q285_stratified_sample_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRATIFIED deterministic sample manifest: a fixed-size (~16-doc)
    md5-bucket sample per SOURCE stratum, with the per-stratum modulus
    published so any consumer can re-derive exact membership
    (bucket(doc_id) % modulus == 0) without the manifest — the
    eval-set / human-review sample a curation pipeline draws per
    ingest. This is fixed_sample's rule made fully DISTRIBUTED: the
    per-stratum count is a groupBy rejoined in-plan (no driver-side
    count, no per-stratum job), so one pass samples a million strata
    as cheaply as twenty — the shape that matters when "per source"
    becomes "per host x language" at 100 TB. Membership depends only
    on (doc_id, stratum count), so reruns, repartitions, and parquet
    layouts reproduce the identical sample; min/max sampled ids are
    published as spot-check anchors.

    Scale: one groupBy(source) count, one broadcastable dimension
    rejoin, one aggregation — no corpus-sized shuffle beyond the
    counts; the sample never leaves the executors (the manifest is
    per-stratum aggregates, not rows).
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(F.count("*").alias("n"))
    m = F.greatest(F.lit(1), (F.col("n") / _STRAT_TARGET).cast("long"))
    bkt = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    f = (
        docs.select("doc_id", "source")
        .join(F.broadcast(cnt), "source")
        .withColumn("m", m)
        .withColumn("s", F.when(bkt % F.col("m") == 0, 1).otherwise(0))
    )
    return (
        f.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.max("m").cast("long").alias("modulus"),
            F.sum("s").cast("long").alias("n_sampled"),
            round4(
                F.sum("s") * F.lit(1.0) / F.max("n")
            ).alias("sample_rate"),
            F.min(F.when(F.col("s") == 1, F.col("doc_id"))).alias(
                "min_sampled_id"
            ),
            F.max(F.when(F.col("s") == 1, F.col("doc_id"))).alias(
                "max_sampled_id"
            ),
        )
        .orderBy("source")
    )
