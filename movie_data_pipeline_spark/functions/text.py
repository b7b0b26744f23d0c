"""Shared text column expressions: tokenization, shingling, portable
hashing. All pure built-in expressions (codegen'd, no Python UDFs).

The 32-bit base hash is the first 8 hex chars of md5 — chosen because
both Spark and the DuckDB correctness oracle can compute it exactly
(``conv(substring(md5(x),1,8),16,10)`` / ``('0x' || substr(md5(x),1,8))::BIGINT``),
making MinHash/SimHash signatures byte-reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens (keeps duplicate occurrences).

    Project it once per row (``select(tokens(text).alias("t"))``) and
    build from that column; never close over it inside a lambda.
    Catalyst has no loop-invariant motion across a lambda boundary, so
    a lambda that reads ``tokens(text)`` re-runs the regex split at
    every array element: quadratic in document length for n-grams.
    """
    return F.split(F.lower(F.trim(text)), TOKEN_SPLIT_RE)


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a projected tokens column, in order, repeats
    kept. Needs at least n tokens: callers pick their own fallback for
    shorter documents."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a projected tokens column; a
    doc shorter than n words yields one whole-doc shingle. Pure array
    expressions — no explode yet, so callers control when the row
    multiplication happens.
    """
    return F.array_distinct(
        F.when(F.size(toks) >= n, ngrams(toks, n)).otherwise(
            F.array(F.array_join(toks, " "))
        )
    )


def word_shingles(text: Column) -> Column:
    """``shingles`` of raw text, as one expression: the reference the
    projected form must equal. It inlines the tokenizer into the
    n-gram lambda, so production paths project ``tokens`` first."""
    return shingles(tokens(text))


def base_hash32(col: Column) -> Column:
    """Deterministic 32-bit hash as BIGINT, identical across engines."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def base_hash60(col: Column) -> Column:
    """Deterministic 60-bit hash as BIGINT, identical across engines
    (15 hex chars of the md5 — stays below 2^63, so the conv result is
    always a positive BIGINT on both engines). Feeds the 60-bit SimHash
    fingerprint: every bit of the fingerprint needs an independent
    hash bit, so the token hash must be as wide as the fingerprint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# PII redaction patterns — ASCII-anchored so the Java (Spark) and RE2
# (DuckDB oracle) regex engines agree exactly. Order matters: emails
# first (their local part can contain digits/dots a later pass would
# chew on), then phones, then bare IPv4s.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\d{3}-\d{3}-\d{4}", "[PHONE]"),
    (r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "[IP]"),
)


def redact_pii(col: Column) -> Column:
    """Mask emails, phone numbers, and IPv4 addresses with typed
    placeholders. A chain of JVM-side ``regexp_replace`` calls — no
    Python in the path, so redaction runs at scan speed inside
    whole-stage codegen (the shape of every at-scale PII scrub pass).
    """
    out = col
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column) -> list[Column]:
    """Per-kind PII match counts (email, phone, ipv4) as columns."""
    return [
        F.size(F.regexp_extract_all(col, F.lit(pat), 0)).cast("long")
        for pat, _ in PII_PATTERNS
    ]


# GPT-2-style pre-tokenizer pattern, ASCII-anchored so the Java (Spark)
# and RE2 (DuckDB) engines match identically: contractions, space-glued
# letter runs, digit runs, punctuation runs, residual whitespace.
BPE_PRETOKEN_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+"
)


def bpe_pieces(col: Column) -> Column:
    """BPE-ish pre-token pieces (lowercased), the unit real tokenizers
    split on before merges — a better token-budget estimate than
    whitespace words for text with punctuation/digits. Pure
    ``regexp_extract_all`` in codegen."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_PRETOKEN_RE), 0)
