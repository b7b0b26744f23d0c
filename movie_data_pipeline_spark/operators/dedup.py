"""Deduplication operators for large-scale document corpora.

The reference pipeline has no dedup surface; these are the
LLM-data-pipeline extensions (BASELINE.json north star) built
Spark-first:

- exact duplicates: hash-groupBy on the full text (one shuffle on the
  group key; at 100 TB group on a digest column to keep shuffle rows
  narrow — ``exact_duplicates`` does exactly that);
- n-gram Jaccard: shingle → explode → self-equi-join on shingle →
  count — a similarity *join* expressed as joins/aggregates Catalyst
  can plan and AQE can skew-split (hot shingles are the skew risk;
  ``jaccard_pairs`` drops shingles above a document-frequency cap the
  same way web-dedup pipelines drop stop-shingles);
- MinHash signatures + banded LSH: permutation-free affine hash family
  over a 32-bit base hash; signatures in *wide* format (doc_id,
  h0..h15), banded by map-side column concats into one bucket
  groupBy; the *long* format (doc_id, h_idx, min_hash) keeps the
  signatures relational and oracle-verifiable;
- SimHash: bit-majority over token hashes via a tiny broadcast
  bit-index table — two hash aggregates, no UDFs.

Everything is deterministic (md5-based hashing, no seeds) and runs
unchanged from local[32] to a real cluster: the only shuffles are the
explicit groupBy/join keys visible in the code.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from movie_data_pipeline_spark.functions.text import (
    base_hash32,
    base_hash60,
    shingles,
    tokens,
)
from movie_data_pipeline_spark.operators.util import array_pairs, cached, spread

# Affine MinHash family h_i(x) = (a_i * x + b_i) mod P over the 32-bit
# base hash. P is prime and < 2^31 so a_i * x + b_i stays well inside
# int64. Constants are fixed (not seeded) so signatures are stable
# across runs and engines.
MINHASH_P = 2_038_074_743
NUM_HASHES = 16
LSH_BAND_ROWS = 4  # → 4 bands of 4 rows
SIMHASH_BITS = 60  # fingerprint width: 6 ladder blocks of 10 bits

# Registered default for ``jaccard_pairs(max_shingle_df=...)`` — the
# document-frequency cap every catalog plan (and its DuckDB oracle)
# applies to the shingle buckets.  Calibrated against q239's
# stop-shingle lexicon: the test corpus's highest-df shingle reaches
# df=25 at sf0.1 (0.5% share), so 1000 is ~40x above the observed knee
# and provably drops NOTHING at any tested scale — while at 100 TB it
# bounds the per-bucket pair blow-up to df*(df-1)/2 <= ~500k pairs per
# stop-shingle instead of quadratic in corpus size (a shingle present
# in >1000 documents is boilerplate, not duplication evidence; real
# copy-clusters are collapsed by exact dedup *before* Jaccard runs).
# q245 driver-verifies the capped code path with a cap that BINDS at
# sf0.01 (see plans/dedup.py).
JACCARD_MAX_SHINGLE_DF = 1000


def minhash_coeffs() -> list[tuple[int, int, int]]:
    """Deterministic (h_idx, a, b) coefficient table."""
    return [(i, 4801 + 977 * i, 1531 + 683 * i) for i in range(NUM_HASHES)]


def exact_duplicates(df: DataFrame) -> DataFrame:
    """One row per distinct text: representative id + copy count.

    Groups on a 128-bit digest rather than the raw text so the shuffle
    carries 16 bytes per row instead of whole documents — the difference
    between a feasible and an absurd exchange at 100 TB. (md5 collisions
    are negligible at any realistic corpus size.)
    """
    return (
        df.groupBy(F.md5(F.col("text")).alias("text_digest"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("rep_doc_id", "n_copies")
    )


def doc_shingles(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs of word 3-grams, distinct per document.

    Tokens are projected once per row, after ``spread()`` so the
    round-robin exchange carries only (id, text), and below the explode
    so the n-gram lambda reads a column instead of re-splitting the
    text at every position."""
    toks = spread(df).select(F.col(id_col), tokens(F.col("text")).alias("tokens"))
    return toks.select(
        F.col(id_col), F.explode(shingles(F.col("tokens"))).alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Document pairs with word 3-gram Jaccard similarity ≥ threshold.

    Shape: ONE groupBy(shingle) builds per-shingle doc-id buckets; pairs
    are generated map-side from each bucket's sorted id array (nested
    array transforms in codegen — the same shape as LSH banding) and
    counted per pair, then |A∩B| / (|A|+|B|-|A∩B|). Versus the textbook
    shingle self-join this computes the shingle frame once instead of
    twice and replaces the join's double exchange with a single bucket
    shuffle — measured 5x faster at sf0.1. ``max_shingle_df`` drops
    buckets larger than that many docs (identical semantics to a
    document-frequency cap): at scale a handful of stop-shingles would
    otherwise blow up quadratically — per BUCKET, concentrated on one
    row here rather than spread across join tasks, so the cap is the
    load-bearing mitigation (as it is in every web-dedup pipeline); the
    per-doc set sizes are computed before the cap is applied only in
    the uncapped case (capped runs measure Jaccard over the capped
    shingle sets, matching the previous behavior).

    The bucket frame is cached (MEMORY_AND_DISK): both the size
    aggregate and the pair generation consume it, and without a cache
    Catalyst inlines the scan+regex+explode+groupBy subtree into each.
    Re-shingling a 100 TB corpus twice costs far more than spilling the
    bucket frame once.
    """
    from pyspark import StorageLevel

    sh = doc_shingles(df)
    buckets = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    if max_shingle_df is not None:
        buckets = buckets.filter(F.size("ids") <= max_shingle_df)
    buckets = buckets.persist(StorageLevel.MEMORY_AND_DISK)
    # NOT eagerly materialized: measured round 13 — a count() barrier
    # here regressed the consumers (q229 1.18x, q281 1.16x, q288 1.20x,
    # q209 1.10x at sf0.1): the bucket subtree is cheap enough that
    # concurrent cold-cache leaves just use idle cores, while the
    # barrier serializes the whole job (the r12 persist finding
    # again). Contrast ppjoin_pairs, whose wide collect_list arrays DO
    # pay for materialization.
    sizes = (
        buckets.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
    )
    # sizes feeds both join dims (size_a/size_b below). Measured round
    # 12: caching it REGRESSED q18 2.42->3.26 s and q63 3.72->4.89 s at
    # sf0.1 — the subtree re-reads the already-cached bucket frame, so
    # the second evaluation is cheap, while a persist adds a
    # materialization barrier and cache write traffic. Left uncached
    # deliberately (guide §5: cache only when recomputing costs more
    # than the memory pressure).

    pair_array = array_pairs(
        F.col("ids"), lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    common = (
        buckets.filter(F.size("ids") > 1)
        .select(F.explode(pair_array).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    # The candidate-pair frame is unbounded in corpus size and must
    # never be the broadcast build side — the static optimizer's
    # estimate of the post-explode aggregate is garbage and promoted it
    # to broadcast at the 10x replica, OOMing the driver (caught by the
    # r6 noop-write probe). SHUFFLE_HASH on the size dims pins a
    # shuffled join with the doc-count-sized size frame as the
    # per-partition hash build (no sort on the pair side).
    return (
        common.join(sa.hint("SHUFFLE_HASH"), "doc_a")
        .join(sb.hint("SHUFFLE_HASH"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures_wide(df: DataFrame) -> DataFrame:
    """MinHash signatures in wide format: (doc_id, h0..h15) — one row
    per document, one min() aggregate per hash of the family over the
    shingle hashes (a single shuffle whose rows are 17 columns wide).
    The input for banding: band signatures become map-side column
    concats with no further aggregation.
    """
    sh = doc_shingles(df).withColumn("bh", base_hash32(F.col("shingle")))
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("bh") + F.lit(b)) % MINHASH_P).alias(f"h{i}")
            for i, a, b in minhash_coeffs()
        ]
    )


def minhash_signatures_long(df: DataFrame) -> DataFrame:
    """MinHash signatures in long format: (doc_id, h_idx, min_hash).

    One pass: every hash of the family is a separate min() aggregate
    over the shingle hash — the shuffle carries (doc, 16 mins) wide rows
    (k+1 columns per shingle row) instead of exploding shingles × k into
    k-fold more rows; the long format is restored map-side with stack()
    after the aggregate. Long format keeps every step relational — the
    driver oracle reproduces it in pure SQL.
    """
    wide = minhash_signatures_wide(df)
    stack = "stack({n}, {args}) AS (h_idx, min_hash)".format(
        n=NUM_HASHES,
        args=", ".join(
            f"CAST({i} AS BIGINT), h{i}" for i in range(NUM_HASHES)
        ),
    )
    return wide.select(F.col("doc_id"), F.expr(stack))


def _bucket_pairs(bands: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) rows → distinct candidate (doc_a, doc_b)
    pairs via bucket arrays and map-side pair generation."""
    buckets = (
        bands.groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = array_pairs(
        F.col("ids"), lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


def lsh_candidate_pairs_wide(signatures_wide: DataFrame) -> DataFrame:
    """Candidate near-duplicate pairs from banded WIDE MinHash
    signatures: docs sharing an identical band signature (all
    ``LSH_BAND_ROWS`` hashes of a band equal) become a candidate pair.
    Band signatures are map-side column concats (no aggregation: the
    wide row already holds all 16 hashes), exploded as (band, band_sig)
    structs; buckets are built with ONE groupBy and pairs are generated
    map-side from each bucket's sorted id array, so the only shuffles
    in the whole operator are the bucket groupBy and the final
    cross-band distinct. A pathological bucket (mass-duplicated corpus)
    grows pairs quadratically in BUCKET size only — the same blowup the
    equivalent self-join would hit.
    """
    return _bucket_pairs(band_signatures(signatures_wide))


def band_signatures(signatures_wide: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) frame from WIDE signatures — map-side
    column concats + one explode, no aggregation. This is both the
    bucket input (``lsh_candidate_pairs_wide``) and the storable
    *index* format for incremental dedup (``incremental_lsh_matches``)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{b * LSH_BAND_ROWS + r}").cast("string")
                        for r in range(LSH_BAND_ROWS)
                    ],
                ).alias("band_sig"),
            )
            for b in range(NUM_HASHES // LSH_BAND_ROWS)
        ]
    )
    return signatures_wide.select(
        F.col("doc_id"), F.explode(band_structs).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))


def incremental_lsh_matches(
    batch_wide: DataFrame, corpus_wide: DataFrame
) -> DataFrame:
    """Incremental dedup: distinct (batch_id, corpus_id) LSH collisions
    of a NEW batch against an EXISTING corpus signature index — the
    production shape of continuous crawl ingestion, where the corpus
    index is precomputed and stored (``band_signatures`` is the storable
    layout) and only the new batch is signed per run.

    The collision check is a plain equi-join on (band, band_sig): the
    corpus side shuffles (or is bucket-pruned when the index is written
    bucketed by band_sig), the batch side is typically orders of
    magnitude smaller. No self-join, no signature recompute over the
    corpus — cost per run is O(|batch|) signing + one key join, vs the
    full self-join's O(|corpus|) recompute. Candidate blowup on hot
    band buckets (boilerplate) is bounded the same way as
    ``jaccard_pairs``'s document-frequency cap — drop band_sig buckets
    above a corpus-frequency threshold before the join at real scale.
    """
    bb = band_signatures(batch_wide).select(
        F.col("doc_id").alias("batch_id"), "band", "band_sig"
    )
    cb = band_signatures(corpus_wide).select(
        F.col("doc_id").alias("corpus_id"), "band", "band_sig"
    )
    return (
        bb.join(cb, ["band", "band_sig"])
        .select("batch_id", "corpus_id")
        .distinct()
    )


def simhash(df: DataFrame) -> DataFrame:
    """Occurrence-weighted SimHash fingerprint per document.

    Each token occurrence votes +1/-1 on every bit of its 60-bit hash;
    the fingerprint sets the bits with a positive sum. All 60 vote
    sums are parallel aggregates in ONE pass over the tokens (wide rows
    through the shuffle, not a bits-fold row blowup); the fingerprint is
    folded map-side after the aggregate. Bit extraction
    ``(h div 2^j) % 2`` uses only integer ops both engines evaluate
    identically.

    60 bits: wide enough for the 6 x 10-bit block ladder, and the
    widest multiple of the band layout that keeps the fingerprint a
    positive BIGINT on both engines (2^60 < 2^63).
    """
    return _threshold_fold(_simhash_votes(df), None, None)


def simhash_centered(df: DataFrame) -> DataFrame:
    """CENTERED SimHash fingerprint: fixes the measured bit skew AT THE
    SOURCE. q294 shows per-bit set shares of 0.01-0.99 on this corpus —
    a template-collapse signature with a twist: the vocabulary is tiny
    and near-ubiquitous (every token in ~78% of documents), so the
    classic IDF reweighting is inert (every weight rounds to zero) and
    the skew lives in the MEAN of each bit's vote distribution, not in
    which tokens vote. The standard fix from learning-to-hash
    (threshold each projection at its corpus-central value, as
    ITQ/spectral-hashing do) applies directly: set bit j iff the
    document's vote sum exceeds the CORPUS MEAN vote for bit j,
    instead of zero.

    The comparison is exact integer — ``vote_j * n > S_j`` with S_j
    the per-bit vote total — so both engines evaluate it identically
    (no float mean). Balance follows by construction: votes above the
    mean vs below split every bit near 50/50 regardless of how
    template-skewed the raw votes are (measured: mean |share-0.5|
    drops 0.27 -> 0.03 on this corpus, q305; the band-collision floor
    follows, q306). Locality is preserved: a per-bit monotone
    threshold maps near-equal vote vectors to near-equal fingerprints,
    same as the zero threshold.

    Operational contract: the thresholds are CORPUS STATISTICS, so
    like the band rung they are an index-build parameter — a stored
    index pins (S_j, n) in its manifest meta and every later batch
    fingerprints against the PINNED thresholds
    (:func:`simhash_centered_pinned`; re-deriving them per batch would
    silently fork the fingerprint space). This operator derives them
    in-plan from the frame it fingerprints, the one-shot form.

    Scale shape: the same single wide vote aggregate as
    :func:`simhash`, plus one 1-row (61-column) aggregate over the
    vote frame broadcast back — the vote frame is materialized once
    (a lazy local checkpoint) and consumed by both. Never a
    driver-side count.
    """
    votes = _simhash_votes(df).localCheckpoint(eager=False)
    base = votes.crossJoin(F.broadcast(_vote_totals(votes)))
    return _threshold_fold(
        base, F.col("__n"), [F.col(f"s{j}") for j in range(SIMHASH_BITS)]
    )


def _simhash_votes(df: DataFrame) -> DataFrame:
    """Per-document bit-vote sums (doc, b0..b59) — the shared first
    stage of every SimHash fingerprint."""
    toks = spread(df).select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("token")
    ).withColumn("bh", base_hash60(F.col("token")))
    return toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(bh div {1 << j}) % 2") == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )


def _vote_totals(votes: DataFrame) -> DataFrame:
    """(__n, s0..s59): the document count and per-bit vote totals of a
    vote frame, one 61-column aggregate row — the centered thresholds."""
    return votes.agg(
        F.count("*").alias("__n"),
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(SIMHASH_BITS)],
    )


def _threshold_fold(
    votes: DataFrame, n: Column | None, s: list[Column] | None
) -> DataFrame:
    """(doc_id, simhash) from a vote frame: bit j is set iff
    ``vote_j * n > s[j]``, or iff ``vote_j > 0`` when ``n`` is None
    (the zero threshold). 60 integer terms folded map-side."""
    fingerprint = None
    for j in range(SIMHASH_BITS):
        above = (
            F.col(f"b{j}") > 0 if n is None else F.col(f"b{j}") * n > s[j]
        )
        term = F.when(above, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select(
        F.col("doc_id"), fingerprint.cast("long").alias("simhash")
    )


def measure_center_thresholds(df: DataFrame) -> dict:
    """Measure the centered-SimHash thresholds over a corpus: the
    per-bit vote totals and the document count — the CORPUS STATISTICS
    an index build pins in its manifest meta
    (``simhash_center_s``/``simhash_center_n``) so every later batch
    fingerprints against the SAME thresholds (re-measuring per batch
    would silently fork the fingerprint space — the same failure mode
    as re-picking the band rung per batch). One aggregate; the
    collected row is 61 integers — metadata-sized."""
    row = _vote_totals(_simhash_votes(df)).first()
    if not row["__n"]:
        raise ValueError("cannot measure thresholds on an empty corpus")
    return {
        "s": [int(row[f"s{j}"]) for j in range(SIMHASH_BITS)],
        "n": int(row["__n"]),
    }


def simhash_centered_pinned(df: DataFrame, thresholds: dict) -> DataFrame:
    """Centered SimHash fingerprints under PINNED thresholds (from
    :func:`measure_center_thresholds`): bit j set iff
    ``vote_j * n_pinned > s_j_pinned`` — exact integer, identical on
    both engines. This is the batch-side operator of a centered index:
    the thresholds come from the index manifest, not from the batch,
    so fingerprints from any batch live in one consistent space. Same
    single vote aggregate as :func:`simhash`, plus 60 literal
    comparisons folded map-side."""
    s, n = thresholds["s"], int(thresholds["n"])
    if len(s) != SIMHASH_BITS:
        raise ValueError(f"need {SIMHASH_BITS} thresholds, got {len(s)}")
    return _threshold_fold(
        _simhash_votes(df), F.lit(n), [F.lit(int(x)) for x in s]
    )


def bit_census(fp: DataFrame) -> DataFrame:
    """(bit_idx, n_set, n), all BIGINT: per fingerprint bit, how many
    rows of ``fp`` set it, and the row count. ONE wide aggregate (61
    parallel integer sums over the ``simhash`` column) exploded to 60
    rows in-plan — never an n x 60 explode. Bit extraction is the
    integer ``(simhash div 2^j) % 2`` both engines evaluate alike."""
    row = fp.agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.expr(f"(simhash div {1 << j}) % 2")).alias(f"c{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    bits = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("bit_idx"),
                F.col(f"c{j}").alias("n_set"),
            )
            for j in range(SIMHASH_BITS)
        ]
    )
    return row.select(F.explode(bits).alias("b"), "n").select(
        "b.bit_idx", "b.n_set", "n"
    )


def band_bucket_pairs(bands: DataFrame, out: str, *stats: Column) -> DataFrame:
    """(rung, *stats, out): per rung, the banded candidate-pair count
    ``sum C(sz, 2)`` over the rung's (band_idx, band_val) buckets,
    named ``out``. ``stats`` are further aggregates over the bucket
    sizes ``sz``. ``bands`` carries ``rung``, ``band_idx`` and
    ``band_val`` (:func:`simhash_band_rows_all_rungs`, or stored index
    rows)."""
    return (
        bands.groupBy("rung", "band_idx", "band_val")
        .agg(F.count("*").alias("sz"))
        .groupBy("rung")
        .agg(
            *stats,
            F.sum(F.expr("(sz * (sz - 1)) div 2")).cast("long").alias(out),
        )
    )


# --- SimHash band ladder (round 9, VERDICT r8 #1) -------------------------
# The 60-bit fingerprint splits into 6 ten-bit blocks; a band is the
# concatenation of m distinct blocks and the ladder enumerates ALL
# C(6, m) combinations, with m chosen from the corpus size so band
# buckets never saturate:
#
#   rung m=1:  6 bands x 10 bits (2^10 values)  while n <= 8 * 2^10
#   rung m=2: 15 bands x 20 bits (2^20 values)  while n <= 8 * 2^20
#   rung m=3: 20 bands x 30 bits (2^30 values)  beyond
#
# Pigeonhole per rung: h differing bits touch at most h blocks, so a
# pair is guaranteed caught whenever some m untouched blocks exist —
# i.e. Hamming <= 6-m always collides in >= 1 band. Rung 1 therefore
# catches EVERY Hamming<=5 pair (the verify bar: banding is exact
# there); rung 2 guarantees <=4; rung 3 guarantees <=3 — the same
# floor the retired fixed 4x15 layout had, but with a 2^30 band space
# (32768x larger), so the random-collision floor ~#bands*n^2/2^(10m)
# stays under ~(occupancy target)*#bands*n at every rung instead of
# turning quadratic past ~2^15 docs (the r8 100x probe measured ~15M
# collision-floor candidates at 500k docs; rung 2 predicts ~1.8M, all
# verification-bound). This is Manku/Jain/Sarma WWW'07's table scheme
# (their C(6,3)-style block unions) made size-adaptive.
_SIMHASH_BLOCKS = 6
_SIMHASH_BLOCK_BITS = 10
_SIMHASH_RUNG_TARGET = 8  # band-bucket occupancy target between rungs


def snake_block_of_rank(rank: int) -> int:
    """Serpentine (snake) block for the 0-based balance rank: rounds of
    6 bits alternate direction (0..5, 5..0, ...), the standard greedy
    that balances per-block sums of a sorted sequence. ONE definition;
    q304's DuckDB oracle renders the same integer arithmetic."""
    rnd, pos = divmod(rank, _SIMHASH_BLOCKS)
    return pos if rnd % 2 == 0 else _SIMHASH_BLOCKS - 1 - pos


def balanced_bit_blocks(set_counts: list[int], n_docs: int) -> list[int]:
    """Entropy-balanced bit→position assignment: given the measured
    per-bit set counts (:func:`bit_census`, q294's table), permute
    the fingerprint bits so each 10-bit block carries an even share of
    the corpus's bit skew, instead of whatever ``bit_idx div 10``
    happens to concentrate.

    Why it works: a band's random-collision probability is
    ``prod_{bits j in band} (p_j^2 + (1-p_j)^2)`` — monotone in each
    bit's imbalance ``|2*n_set_j - n|`` — and for a fixed multiset of
    per-bit factors the ladder's total expected collisions (an
    elementary symmetric sum of the per-block products) is MINIMIZED
    when the block products are equal. Sorting bits by imbalance
    descending and snake-assigning them across the 6 blocks is the
    classic greedy for that balance. Because the result is a pure bit
    PERMUTATION into 6 disjoint blocks, every ladder guarantee
    survives verbatim: h differing bits still touch at most h blocks
    (pigeonhole: Hamming <= 6-m always collides at rung m), and
    Hamming distance itself is permutation-invariant, so the exact
    verify bar is untouched — only the random-collision floor drops.

    Determinism is pure-integer: bits rank by (|2*n_set - n| DESC,
    bit_idx ASC); rank r goes to block ``snake(r)`` at slot ``r div
    6``; the new position is ``block*10 + slot``. q304's DuckDB oracle
    renders the same arithmetic as a window rank and a CASE, so both
    derivations are bit-identical on the same counts.

    Returns ``positions``: ``positions[bit_idx]`` = the permuted bit
    position (block * 10 + slot). Always a permutation of 0..59.
    """
    if len(set_counts) != SIMHASH_BITS:
        raise ValueError(
            f"need {SIMHASH_BITS} per-bit counts, got {len(set_counts)}"
        )
    order = sorted(
        range(SIMHASH_BITS),
        key=lambda j: (-abs(2 * set_counts[j] - n_docs), j),
    )
    positions = [0] * SIMHASH_BITS
    for rank, j in enumerate(order):
        block = snake_block_of_rank(rank)
        slot = rank // _SIMHASH_BLOCKS
        positions[j] = block * _SIMHASH_BLOCK_BITS + slot
    return positions


def measure_balanced_bit_blocks(fp: DataFrame) -> list[int]:
    """Measure per-bit set counts over a ``simhash`` column and return
    the :func:`balanced_bit_blocks` assignment — the index-build /
    migration entry point. One :func:`bit_census` pass; the collected
    60 rows are constant-size metadata, the same licence as an IVF
    codebook."""
    rows = sorted(bit_census(fp).collect(), key=lambda r: r["bit_idx"])
    n = rows[0]["n"]
    if not n:
        raise ValueError("cannot measure bit balance of an empty frame")
    return balanced_bit_blocks([int(r["n_set"]) for r in rows], int(n))


def permute_fingerprint(hash_col: str, positions: list[int]) -> Column:
    """Bit-permuted fingerprint: bit j of column ``hash_col`` moves to
    ``positions[j]``. 60 integer shift-free terms, all in codegen —
    the same arithmetic family as the fingerprint fold in
    :func:`simhash`, identical on both engines."""
    if sorted(positions) != list(range(len(positions))):
        raise ValueError("positions must be a permutation of 0..bits-1")
    out = None
    for j, p in enumerate(positions):
        term = F.expr(f"({hash_col} div {1 << j}) % 2") * F.lit(1 << p)
        out = term if out is None else out + term
    return out.cast("long")


def simhash_band_combos() -> list[tuple[int, int, tuple[int, ...]]]:
    """(rung m, GLOBAL band_idx, block indices) for every combination
    the ladder can use — m in {1, 2, 3}, combinations in lexicographic
    order. ONE deterministic table shared verbatim by the Spark plan
    and the rendered oracle SQL (plans/dedup.py), so the two engines
    can never disagree on band layout.

    band_idx is GLOBAL across rungs (rung 1 -> 0-5, rung 2 -> 6-20,
    rung 3 -> 21-40), which makes "band rows from different rungs never
    join" literally true by key inequality — with per-rung indices, a
    rung-2 band whose high block is 0 would produce a band_val < 2^10
    on a shared band_idx and rarely equi-join rung-1 rows. Within one
    rung the global index is a bijection of the per-rung one, so every
    published pair set / bucket statistic is unchanged."""
    import itertools

    out: list[tuple[int, int, tuple[int, ...]]] = []
    idx = 0
    for m in (1, 2, 3):
        for combo in itertools.combinations(range(_SIMHASH_BLOCKS), m):
            out.append((m, idx, combo))
            idx += 1
    return out


def simhash_rung_thresholds() -> tuple[int, int]:
    """(max n for rung 1, max n for rung 2) — fingerprint-count
    breakpoints, occupancy-target * band-value-space, exact integers
    identical in the oracle's CASE."""
    return (
        _SIMHASH_RUNG_TARGET * (1 << _SIMHASH_BLOCK_BITS),
        _SIMHASH_RUNG_TARGET * (1 << (2 * _SIMHASH_BLOCK_BITS)),
    )


def simhash_band_rows(
    sh: DataFrame,
    rung: int | None = None,
    bit_blocks: list[int] | None = None,
) -> DataFrame:
    """(doc_id, simhash, band_idx, band_val) — one row per ladder band
    per document; the storable SimHash index layout AND the candidate
    join key of :func:`simhash_hamming_pairs`.

    ``bit_blocks`` (round 11, VERDICT r10 #1) applies an entropy-
    balanced bit permutation (:func:`balanced_bit_blocks`) BEFORE
    banding: band values come from the permuted fingerprint while the
    emitted ``simhash`` stays the ORIGINAL fingerprint (Hamming is
    permutation-invariant, so exact verification is unchanged). Like
    the rung, the assignment is part of a stored index's layout — rows
    banded under different assignments never join meaningfully.
    ``None`` = identity layout (bit_idx div 10), bit-for-bit the
    pre-round-11 band rows.

    ``rung=None`` picks the rung from the in-plan fingerprint count
    (self-join use). An INDEX is built at an explicit rung — band rows
    created under different rungs never join (band_idx is globally
    unique per rung, see :func:`simhash_band_combos`), so a gate that
    bands each arriving batch by the batch's own size would silently
    stop matching its stored index. The index manifest records the
    rung and assignment, and every gate writer bands each batch under
    the recorded layout (operators/index_lifecycle.simhash_index).
    """
    t1, t2 = simhash_rung_thresholds()
    if rung is None:
        # The in-plan count and the band explode both consume ``sh``;
        # Spark does not share the subtree across the crossJoin (the
        # count side is column-pruned, so the two exchanges differ and
        # ReuseExchange never fires — ADVICE r9), which evaluated the
        # fingerprint aggregation twice. Materializing it ONCE lets
        # both branches (and the downstream pair self-join) read the
        # cached partitions (a lazy local checkpoint: executor-local,
        # so it dies with its executor).
        sh = sh.localCheckpoint(eager=False)
        n1 = sh.agg(F.count("*").alias("__n_fp"))
        rung_col = (
            F.when(F.col("__n_fp") <= t1, 1)
            .when(F.col("__n_fp") <= t2, 2)
            .otherwise(3)
        )
        base = sh.crossJoin(F.broadcast(n1)).withColumn("__rung", rung_col)
    else:
        base = sh.withColumn("__rung", F.lit(int(rung)))
    band_src = "simhash"
    if bit_blocks is not None:
        base = base.withColumn(
            "__permfp", permute_fingerprint("simhash", bit_blocks)
        )
        band_src = "__permfp"
    return (
        _band_explode(base, band_src)
        .filter(F.col("rung") == F.col("__rung"))
        .select("doc_id", "simhash", "band_idx", "band_val")
    )


def _band_explode(frame: DataFrame, hash_col: str) -> DataFrame:
    """THE one compiled form of the combo table: explode every ladder
    band over ``frame`` -> (.., rung, band_idx, band_val). Both public
    band-row builders compose this, so the layout q290 prices is BY
    CONSTRUCTION the layout simhash_hamming_pairs joins on (the oracle
    twin is factored the same way in plans/dedup.py)."""
    bb, nb = _SIMHASH_BLOCK_BITS, _SIMHASH_BLOCKS
    blks = F.array(
        *[
            F.expr(f"({hash_col} div {1 << (bb * j)}) % {1 << bb}")
            for j in range(nb)
        ]
    )
    combos = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.lit(i).alias("band_idx"),
                F.lit(c[0]).alias("j1"),
                F.lit(c[1] if len(c) > 1 else -1).alias("j2"),
                F.lit(c[2] if len(c) > 2 else -1).alias("j3"),
            )
            for (m, i, c) in simhash_band_combos()
        ]
    )
    keep = [c for c in frame.columns if c != "__blks"]
    return frame.select(
        *keep,
        blks.alias("__blks"),
        F.explode(combos).alias("cb"),
    ).select(
        *keep,
        F.col("cb.m").alias("rung"),
        F.col("cb.band_idx").alias("band_idx"),
        (
            F.expr("element_at(__blks, cb.j1 + 1)")
            + F.when(
                F.col("cb.j2") >= 0,
                F.expr("element_at(__blks, cb.j2 + 1)") * F.lit(1 << bb),
            ).otherwise(F.lit(0))
            + F.when(
                F.col("cb.j3") >= 0,
                F.expr("element_at(__blks, cb.j3 + 1)")
                * F.lit(1 << (2 * bb)),
            ).otherwise(F.lit(0))
        ).alias("band_val"),
    )


def simhash_band_rows_all_rungs(sh: DataFrame) -> DataFrame:
    """Band rows for EVERY ladder rung at once — (doc_id, simhash,
    rung m, band_idx, band_val), 41 rows per document — so a rung
    planner (q290) can price all three candidate-generation layouts
    over the real corpus in ONE pass instead of three. Shares
    :func:`_band_explode` with :func:`simhash_band_rows`, so the two
    can never diverge."""
    return _band_explode(sh.select("doc_id", "simhash"), "simhash").select(
        "doc_id", "simhash", "rung", "band_idx", "band_val"
    )


def simhash_hamming_pairs(
    sh: DataFrame,
    rung: int | None = None,
    bit_blocks: list[int] | None = None,
) -> DataFrame:
    """Near-duplicate pairs from SimHash fingerprints: size-adaptive
    banded candidate generation + exact Hamming verification.
    ``bit_blocks`` applies the entropy-balanced band permutation to
    candidate GENERATION only — the verify bar is the exact popcount
    of the ORIGINAL fingerprints, which a bit permutation cannot
    change, so every guaranteed pair (Hamming <= 6-rung) survives
    identically and only the random-collision floor moves.

    Candidates come from the block-combination band ladder (module
    comment above): the fingerprint count n — aggregated IN-PLAN and
    broadcast, never a driver-side count (the q285 discipline) — picks
    rung m, every C(6, m) block combination becomes one band, and two
    documents are candidates iff they agree on at least one band.
    Candidates are verified with the exact popcount of the XOR and kept
    when ``hamming <= 5``.

    Round-9 migration (VERDICT r8 #1): the fixed 4 x 15-bit layout's
    2^15-value band space made the random-collision floor grow
    ~n^2/2^15 (measured ~15M banded candidates at 500k docs); the
    ladder keeps expected collisions under ~8 per doc per band at any
    corpus size by widening bands as n grows, while rung 1 — active at
    every driver SF — is EXACT for the Hamming<=5 bar (pigeonhole over
    6 blocks), so the published pair sets got strictly more faithful.
    ``rung`` forces a specific rung for tests/audits; leave None in
    production plans.

    Scale: the shuffle key is the (band_idx, band_val) pair — #bands
    rows per document (6/15/20 by rung), never a cross join. A
    degenerate band value shared by many documents is the skew risk
    (same as LSH buckets); AQE skew-join splits it. Verification is
    integer XOR+popcount inside codegen — no Python, no second shuffle
    (the fingerprints travel with the band rows).
    """
    band_rows = simhash_band_rows(sh, rung=rung, bit_blocks=bit_blocks)
    a, b = band_rows.alias("a"), band_rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
        .filter(F.col("hamming") <= 5)
        .select("doc_a", "doc_b", "hamming")
    )


def _ceil_ratio_mul(num: int, den: int, s: Column) -> Column:
    """Exact ``ceil(num/den * s)`` for a non-negative integer column,
    computed as ``(num*s + den - 1) div den`` in integer arithmetic —
    no float product, so boundary values (num/den * s an exact integer)
    can never round the ceiling up a step. The double division inside
    ``F.floor`` is exact at these magnitudes (operands < 2^53, quotient
    ~|s|, ulp << 1/den)."""
    return F.floor((F.lit(num) * s + F.lit(den - 1)) / F.lit(den)).cast(
        "long"
    )


def ppjoin_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (PPJoin
    family: Chaudhuri et al. SSJoin 2006; Bayardo et al. All-Pairs
    2007; Xiao et al. PPJoin 2008): all document pairs whose shingle-set
    Jaccard is ≥ ``threshold`` — NO candidate loss, unlike the
    document-frequency cap in :func:`jaccard_pairs`.

    The filter: order every document's shingle set by a single global
    total order — document frequency ascending, shingle string as the
    tie-break — and keep only each document's *prefix*, the first
    ``|s| - ceil(t*|s|) + 1`` shingles. Any pair with Jaccard ≥ t must
    share at least ``ceil(t*|s|)`` elements with the other set, so by
    pigeonhole at least one shared shingle falls inside BOTH prefixes;
    generating candidates from prefix buckets alone is therefore
    lossless. Because the global order is df-ascending, prefixes
    concentrate on the RAREST shingles — bucket sizes shrink instead of
    exploding, which is what makes this the exact-answer scale path
    when a df cap (lossy) is not acceptable.

    Plan shape: one groupBy(shingle) for document frequencies, one
    per-document window (partitioned by ``doc_id`` — bounded by tokens
    per document, never by corpus size) for the prefix ranks, one
    groupBy(shingle) on the prefix entries building sorted
    (doc, pos, size) bucket arrays with map-side pair generation (same
    codegen shape as LSH banding) under PPJoin's two additional
    LOSSLESS prunes — the length filter ``min(|A|,|B|) >=
    ceil(t*max(|A|,|B|))`` and the positional filter (overlap upper
    bound from the matching prefix positions vs the required
    ``ceil(t/(1+t)*(|A|+|B|))``) — then verification against
    per-document sorted shingle arrays with ``array_intersect`` —
    exact intersection counts, JVM-side, no Python. Candidates are
    deliberately NOT distinct'd before verification (see inline note);
    measured together the in-bucket prunes + late dedup halve the
    query at sf0.1 (12.3s → 6.3s). Worst case remains quadratic per
    prefix bucket, as in every exact algorithm; the df-ascending
    prefix order is the published mitigation and the reason the
    textbook algorithm scales.
    """
    from fractions import Fraction

    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    # Every pruning bound below is a ceiling of (rational * integer).
    # Computing them as F.ceil(double product) risks float rounding
    # flipping the ceil at exact-integer boundaries (e.g. t=0.5,
    # |s|=10: 0.5*10 could evaluate 5.000000000000001 → ceil 6), which
    # would shorten the prefix below the lossless minimum and silently
    # drop candidates. Instead express t as an exact rational num/den
    # (from its decimal literal) and compute each ceiling in integer
    # arithmetic: ceil(num*s/den) = (num*s + den - 1) div den. The
    # double division inside F.floor is exact for these magnitudes
    # (operands < 2^53, quotient ~|s|, ulp << 1/den).
    t_frac = Fraction(str(threshold)).limit_denominator(1_000_000)
    t_num, t_den = t_frac.numerator, t_frac.denominator

    def _ceil_t_times(s: Column) -> Column:
        """Exact ceil(threshold * s) for a non-negative integer column."""
        return _ceil_ratio_mul(t_num, t_den, s)

    def _ceil_alpha(total: Column) -> Column:
        """Exact ceil(t/(1+t) * total): t/(1+t) = num/(num+den)."""
        return _ceil_ratio_mul(t_num, t_num + t_den, total)

    # Bucket entries carry (doc, pos, set_size) so the pair generator
    # can apply PPJoin's two LOSSLESS in-bucket prunes before anything
    # shuffles:
    #  - length filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|);
    #  - positional filter (PPJoin Lemma 1): the overlap reachable from
    #    a common prefix token at positions (pa, pb) is at most
    #    1 + min(|A| - pa, |B| - pb), and J >= t requires overlap
    #    >= ceil(t/(1+t) * (|A|+|B|)).
    # Both are arithmetic on bucket-local struct fields — evaluated in
    # codegen during map-side pair generation, so pruned pairs never
    # reach the distinct's exchange (the dominant cost on fat-headed
    # shingle distributions where the prefix filter alone is weak).
    def _maybe_pair(x: Column, y: Column) -> Column:
        alpha = _ceil_alpha(x["sz"] + y["sz"])
        ubound = F.lit(1) + F.least(x["sz"] - x["pos"], y["sz"] - y["pos"])
        len_ok = F.least(x["sz"], y["sz"]) >= _ceil_t_times(
            F.greatest(x["sz"], y["sz"])
        )
        return F.when(
            len_ok & (ubound >= alpha),
            F.struct(x["doc"].alias("doc_a"), y["doc"].alias("doc_b")),
        ).otherwise(F.lit(None))

    pair_array = F.filter(
        array_pairs(F.col("ids"), _maybe_pair), lambda p: p.isNotNull()
    )

    # Three consumers (document frequencies, prefix ranking, the
    # verification arrays) read the shingle frame; cache it or each
    # re-runs the scan+regex+explode subtree (same rationale as
    # jaccard_pairs' bucket persist — measured ~2x on the whole query).
    # Counted on entry: sh feeds the df-rank join on both sides AND the
    # verification arrays — cold-cache leaves race and re-shingle.
    # Both caches are released on the way out, also on an exception.
    with cached(doc_shingles(df), level=StorageLevel.MEMORY_AND_DISK) as sh:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("sh_df"))
        per_doc = Window.partitionBy("doc_id")
        ranked = (
            sh.join(dfreq, "shingle")
            .select(
                "doc_id",
                "shingle",
                F.row_number()
                .over(per_doc.orderBy("sh_df", "shingle"))
                .alias("pos"),
                F.count("*").over(per_doc).alias("set_size"),
            )
        )
        prefix_len = (
            F.col("set_size")
            - _ceil_t_times(F.col("set_size"))
            + F.lit(1)
        )
        prefix = ranked.filter(F.col("pos") <= prefix_len)

        cand = (
            prefix.groupBy("shingle")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("doc_id").alias("doc"),
                            F.col("pos").alias("pos"),
                            F.col("set_size").alias("sz"),
                        )
                    )
                ).alias("ids")
            )
            .filter(F.size("ids") > 1)
            .select(F.explode(pair_array).alias("p"))
            .select(
                F.col("p.doc_a").alias("doc_a"),
                F.col("p.doc_b").alias("doc_b"),
            )
        )
        # NOT distinct'd here: a pair surviving the filters appears once
        # per shared prefix shingle (small multiplicity), and deduping
        # now would shuffle the full candidate stream. The verify join
        # processes the duplicates (identical rows → identical jaccard)
        # and the final distinct runs on the thresholded survivors —
        # orders of magnitude fewer rows than the candidate stream.

        # both verify dims (arr_a and arr_b) consume the verification
        # arrays on DIFFERENT join keys, so the exchanges cannot be
        # reused and the collect_list+sort aggregate would run twice
        # from the cached shingle frame; cached it is built once, and
        # counted on entry because the single verify action scans it
        # at two leaves (doc_a and doc_b dims).
        arrs = sh.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("shingle")).alias("arr"),
            F.count("*").alias("sz"),
        )
        with cached(arrs, level=StorageLevel.MEMORY_AND_DISK) as arrs:
            verified = (
                cand.join(
                    arrs.select(
                        F.col("doc_id").alias("doc_a"),
                        F.col("arr").alias("arr_a"),
                        F.col("sz").alias("sz_a"),
                    ),
                    "doc_a",
                )
                .join(
                    arrs.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("arr").alias("arr_b"),
                        F.col("sz").alias("sz_b"),
                    ),
                    "doc_b",
                )
                .withColumn(
                    "n_common", F.size(F.array_intersect("arr_a", "arr_b"))
                )
                .withColumn(
                    "jaccard",
                    F.col("n_common")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                )
                .filter(F.col("jaccard") >= F.lit(threshold))
            )
            # The thresholded survivor set is orders of magnitude
            # smaller than the candidate stream: materialize it eagerly
            # (executor-local checkpoint — nothing moves through the
            # driver) so the shingle and verification-array caches can
            # be released; a long-lived session no longer accumulates
            # MEMORY_AND_DISK blocks per call.
            return (
                verified.select("doc_a", "doc_b", "jaccard")
                .distinct()
                .localCheckpoint(eager=True)
            )


def containment_pairs(df: DataFrame) -> DataFrame:
    """DIRECTIONAL near-duplicate pairs by word 3-gram shingle-set
    containment ``|A∩B| / |A|`` ≥ 0.8 — the asymmetric complement to
    :func:`jaccard_pairs`. Jaccard misses subset duplication by
    construction (a paragraph quoted inside a 100x larger document has
    Jaccard ≈ 0.01 but containment 1.0); containment is the signal for
    quote/excerpt/boilerplate-inclusion detection in corpus curation.

    Same single bucket-shuffle shape as ``jaccard_pairs`` (per-shingle
    sorted id arrays, map-side pair generation, the
    ``JACCARD_MAX_SHINGLE_DF`` stop-shingle document-frequency cap):
    the shared-shingle count per unordered
    pair is computed once, then projected into BOTH directions and
    thresholded against each source's own set size. Emits
    (src_doc, dst_doc, containment) — src's shingles are covered by
    dst to the stated fraction.
    """
    from pyspark import StorageLevel

    buckets = (
        doc_shingles(df)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= JACCARD_MAX_SHINGLE_DF)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = (
        buckets.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
    )
    pair_array = array_pairs(
        F.col("ids"), lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    common = (
        buckets.filter(F.size("ids") > 1)
        .select(F.explode(pair_array).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    # same rule as jaccard_pairs: pair frames never broadcast
    both = common.join(sa.hint("SHUFFLE_HASH"), "doc_a").join(
        sb.hint("SHUFFLE_HASH"), "doc_b"
    )
    # Both directions are emitted map-side from ONE evaluation of the
    # pair+size join (guide §2.4): the old fwd/rev unionAll inlined the
    # whole common+joins subtree twice — the pair generation and both
    # size joins ran again for the reverse direction. An inline
    # 2-element explode keeps the same rows at half the work.
    directions = F.array(
        F.struct(
            F.col("doc_a").alias("src_doc"),
            F.col("doc_b").alias("dst_doc"),
            (F.col("n_common") / F.col("size_a")).alias("containment"),
        ),
        F.struct(
            F.col("doc_b").alias("src_doc"),
            F.col("doc_a").alias("dst_doc"),
            (F.col("n_common") / F.col("size_b")).alias("containment"),
        ),
    )
    return (
        both.select(F.explode(directions).alias("e"))
        .select("e.*")
        .filter(F.col("containment") >= F.lit(0.8))
    )
