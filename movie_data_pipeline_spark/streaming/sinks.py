"""Streaming sinks beyond the built-ins: incremental upsert into a
parquet key-value table via ``foreachBatch``.

Structured Streaming's file sink is append-only; maintaining a *keyed*
table (latest aggregate per key, latest row per entity) needs MERGE.
On a lakehouse that is Delta/Iceberg ``MERGE INTO`` inside
``foreachBatch``; without a table format the same row semantics come
from :func:`operators.merge.upsert` — each micro-batch's rows replace
key-matched rows and insert the rest.

Scale/consistency notes:

- ``foreachBatch`` gives at-least-once batch delivery; the upsert is
  idempotent per (key, value) so replays converge — the standard
  recipe for exactly-once *effects* on a keyed sink.
- The merged frame is materialized (``localCheckpoint``) BEFORE the
  overwrite: the plan reads the same files the write replaces, and
  overwriting a lazily-read input is the classic self-overwrite
  corruption. A table format does this with snapshot isolation; a real
  deployment at 100 TB should also partition the table and use
  dynamic-partition overwrite so each batch rewrites only touched
  partitions (see operators/merge.py).
- With an update-mode aggregation upstream, each batch carries only
  keys whose aggregate changed — the write is proportional to churn,
  not table size (modulo the no-format full-file rewrite above).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from movie_data_pipeline_spark.operators.dedup import (
    band_signatures,
    lsh_candidate_pairs_wide,
    measure_balanced_bit_blocks,
    measure_center_thresholds,
    minhash_signatures_wide,
    simhash_centered_pinned,
    simhash_hamming_pairs,
)
from movie_data_pipeline_spark.operators.index_lifecycle import (
    bucket_layout,
    bucketed,
    simhash_fingerprints,
    simhash_index,
    simhash_layout,
    stored_simhash_layout,
)
from movie_data_pipeline_spark.operators.merge import upsert
from movie_data_pipeline_spark.operators.util import cached
from movie_data_pipeline_spark.sources.versioned import VersionedTable


def _start_available_now(
    df: DataFrame,
    writer: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Run ``writer`` on every micro-batch of the streaming ``df`` until
    the input available at start is consumed (``availableNow``), with
    progress checkpointed at ``checkpoint``."""
    return (
        df.writeStream.foreachBatch(writer)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def upsert_batch_writer(
    path: str, keys: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """The per-micro-batch MERGE: returns the function ``foreachBatch``
    invokes with (batch_df, batch_id). Exposed separately so tests can
    drive it with hand-built batches."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            existing = spark.read.parquet(path)
        except AnalysisException:  # first batch: table does not exist yet
            existing = None
        merged = (
            batch_df
            if existing is None
            else upsert(existing, batch_df, keys)
        )
        # Materialize before overwriting the files the plan reads.
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)

    return _apply


def start_upsert_stream(
    updates: DataFrame,
    path: str,
    checkpoint: str,
    keys: Sequence[str],
) -> StreamingQuery:
    """Continuously maintain a keyed parquet table from a streaming
    update-mode DataFrame (e.g. a watermarked aggregation)."""
    return _start_available_now(
        updates, upsert_batch_writer(path, keys), checkpoint, "update"
    )


def versioned_append_writer(
    table_path: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer that lands every micro-batch as an APPEND
    commit on a :class:`sources.versioned.VersionedTable` — streaming
    ingestion with snapshot isolation and time travel, no table format.

    Semantics: readers only ever see manifest-committed snapshots, so a
    crash mid-batch leaves at worst an orphan data dir (cleaned by
    vacuum), never a torn table. foreachBatch is at-least-once; a
    replayed batch appends twice, so exactly-once EFFECTS need either
    the keyed upsert sink above or a batch_id high-water mark stored in
    the manifest — both documented trade-offs of real lakehouse sinks.
    A CommitConflict (concurrent writer) is re-raised: the streaming
    query fails fast rather than silently dropping a batch; restart
    resumes from the checkpoint and retries on the new head.
    """
    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        VersionedTable(table_path).commit(batch_df, mode="append")

    return _apply


def start_versioned_append_stream(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Stream → versioned table: each micro-batch is one append commit."""
    return _start_available_now(
        df, versioned_append_writer(table_path), checkpoint
    )


def _gate_writer(
    accepted_path: str,
    index_path: str,
    stored_layout: Callable[[VersionedTable, int], dict],
    fresh_layout: Callable[[DataFrame], dict],
    sign: Callable[[DataFrame, dict], DataFrame],
    batch_pairs: Callable[[DataFrame, dict], DataFrame],
    band_rows: Callable[[DataFrame, dict], DataFrame],
    corpus_hits: Callable[[DataFrame, DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """The near-duplicate ingest gate both fingerprint families share;
    a family supplies only its own functions:

    - ``stored_layout(index, version)`` → the layout the index
      manifest records at ``version``;
    - ``fresh_layout(batch_df)`` → the layout of an index that has no
      committed version yet, recorded by its first commit;
    - ``sign(batch_df, layout)`` → the fingerprint frame;
    - ``batch_pairs(fp, layout)`` → within-batch colliding pairs
      (doc_a < doc_b); the higher id of each pair is dropped
      (keep-first);
    - ``band_rows(fp, layout)`` → the index rows of the batch, with
      ``pbucket`` on a bucketed layout;
    - ``corpus_hits(bands, index_df)`` → doc_ids matching the index.

    Per batch: empty-batch guard; one manifest read, whose layout every
    later step uses, so a batch is banded only under the layout of the
    head snapshot it is checked against; signing into a cache;
    within-batch keep-first; the corpus-hit anti-join against that
    snapshot; the survivor count (zero survivors commit nothing); the
    replay-idempotency anti-join against the accepted ``doc_id``s; the
    documents commit; then the index commit of the survivors' band
    rows, REBALANCEd by ``pbucket`` on a bucketed index.

    Commit ordering is documents-first: a crash between the two
    commits can leave accepted docs unindexed (a later duplicate may
    slip through — benign under at-least-once), never the reverse
    (index-first would permanently reject content that was never
    stored). A replay after such a crash finds the index unchanged, so
    survivors are also anti-joined against the accepted table's
    ``doc_id`` set: landed documents never append twice, and the
    replay's index commit back-fills their missing band rows. Every
    cache is released on the way out, also when a commit raises.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        index = VersionedTable(index_path)
        head = index.current_version()
        layout = (
            fresh_layout(batch_df)
            if head is None
            else stored_layout(index, head)
        )
        # Counted on entry: the within-batch pair self-join and the
        # corpus check scan the fingerprints at several plan leaves of
        # one job, which on a cold cache would each recompute them.
        with cached(sign(batch_df, layout)) as fp:
            bands = band_rows(fp, layout)
            batch_dupes = (
                batch_pairs(fp, layout)
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
            )
            survivors = batch_df.join(batch_dupes, "doc_id", "left_anti")
            if head is not None:
                survivors = survivors.join(
                    corpus_hits(bands, index.read(spark, version=head)),
                    "doc_id",
                    "left_anti",
                )
            # count() rather than isEmpty(): the emptiness guard is
            # needed either way, and a full count fills the whole
            # cache, so the anti-join, the commit and the index
            # semi-join below read blocks.
            with cached(survivors, count=False) as survivors:
                if survivors.count() == 0:
                    return
                accepted = VersionedTable(accepted_path)
                new_docs = survivors
                if accepted.current_version() is not None:
                    landed_ids = accepted.read(spark).select("doc_id")
                    new_docs = survivors.join(
                        landed_ids, "doc_id", "left_anti"
                    )
                # cached across the emptiness probe and the commit,
                # which would each re-read the accepted doc_ids
                with cached(new_docs, count=False) as new_docs:
                    if not new_docs.isEmpty():
                        accepted.commit(new_docs, mode="append")
                idx_rows = bands.join(
                    survivors.select("doc_id"), "doc_id", "left_semi"
                )
                if "pbucket" in idx_rows.columns:
                    # The bucket-keyed REBALANCE keeps each append at
                    # one file per bucket while AQE sizes the exchange
                    # — a tiny batch coalesces to few tasks instead of
                    # k near-empty ones, and at scale an oversized
                    # bucket splits into advisory-sized files.
                    idx_rows = idx_rows.hint("rebalance", "pbucket")
                # a fresh index records its layout with its first
                # commit; later commits inherit it
                index.commit(
                    idx_rows,
                    mode="append",
                    meta=layout if head is None else None,
                )

    return _apply


def dedup_gate_batch_writer(
    accepted_path: str,
    index_path: str,
    index_bucket_k: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer implementing a streaming NEAR-DUPLICATE
    INGEST GATE — the continuous-crawl front door of an LLM data
    pipeline: every micro-batch of documents is MinHash-signed, checked
    against the accumulated corpus LSH index, and only novel documents
    are committed; the index grows by exactly the accepted documents'
    band signatures.

    Per batch (all relational — one signing pass over the batch, one
    (band, band_sig) equi-join against the stored index; the corpus is
    never re-signed):

    1. ``minhash_signatures_wide`` over the batch (16 hashes, one pass);
    2. within-batch keep-first: ``lsh_candidate_pairs_wide`` pairs drop
       the higher doc_id of each colliding pair (greedy min-
       representative — deterministic, and transitively safe because
       the kept minimum itself is checked against the corpus);
    3. corpus check: batch band signatures ⋈ index on (band, band_sig)
       — the same storable-index join as
       ``operators.dedup.incremental_lsh_matches``;
    4. survivors are committed append-mode to ``accepted_path``, then
       their band signatures to ``index_path``.

    The commit order, replay idempotency and cache lifecycle are the
    shared gate skeleton's (:func:`_gate_writer`): documents-first, and
    survivors anti-joined against the accepted table's ``doc_id`` set
    so a replay after a crash between the two commits never appends a
    document twice and back-fills the index. (The accepted-side check
    reads only the ``doc_id`` column — column-pruned at the parquet
    scan; at corpus scale the same check is a bloom-filter or
    key-manifest lookup.) ``index_bucket_k`` chooses the bucket layout
    of a fresh index (operators/index_lifecycle.bucket_layout); an
    existing index keeps the layout its manifest records.
    """
    def corpus_hits(bands: DataFrame, index_df: DataFrame) -> DataFrame:
        return (
            bands.join(
                index_df.select("band", "band_sig"), ["band", "band_sig"]
            )
            .select("doc_id")
            .distinct()
        )

    return _gate_writer(
        accepted_path,
        index_path,
        stored_layout=lambda index, v: index.manifest(v).get("meta") or {},
        fresh_layout=lambda batch_df: bucket_layout(index_bucket_k),
        sign=lambda batch_df, layout: minhash_signatures_wide(batch_df),
        batch_pairs=lambda fp, layout: lsh_candidate_pairs_wide(fp),
        band_rows=lambda fp, layout: bucketed(band_signatures(fp), layout),
        corpus_hits=corpus_hits,
    )


def start_dedup_gate_stream(
    docs: DataFrame, accepted_path: str, index_path: str, checkpoint: str
) -> StreamingQuery:
    """Document stream → near-dup-gated versioned corpus + unbucketed
    LSH index."""
    return _start_available_now(
        docs, dedup_gate_batch_writer(accepted_path, index_path), checkpoint
    )


def mix_drift_batch_writer(
    baseline: DataFrame,
    out_path: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer scoring every micro-batch's event-type mix
    against a precomputed baseline distribution with a chi-square
    goodness-of-fit statistic — q157's drift monitor moved onto the
    stream, where it belongs operationally (you want the alarm DURING
    ingestion, not at the next batch audit).

    ``baseline`` is a static (event_type, share) frame (shares sum to
    1) computed once from history; it is collected to a plain dict at
    writer-construction time (|types| rows — metadata, same licence as
    the IVF codebook) so each micro-batch pays one aggregate and zero
    joins. Per batch: observed counts, expected = share * n_batch,
    chi2 = sum (obs-exp)^2 / exp over baseline types (types unseen in
    the baseline contribute their own alarm column instead of a
    division by zero). One (batch_id, n_events, chi2, n_novel_types)
    row appends to ``out_path`` — the monitoring log a dashboard tails.
    """
    rows = baseline.select("event_type", "share").collect()
    shares = {r["event_type"]: float(r["share"]) for r in rows}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        counts = {
            r["event_type"]: r["cnt"]
            for r in batch_df.groupBy("event_type")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        n = sum(counts.values())
        chi2 = 0.0
        # sorted: a fixed summation order makes chi2 bit-deterministic
        # across runs (dict order follows collect order otherwise)
        for t, share in sorted(shares.items()):
            exp = share * n
            if exp > 0:
                obs = counts.get(t, 0)
                chi2 += (obs - exp) * (obs - exp) / exp
        n_novel = sum(1 for t in counts if t not in shares)
        spark.createDataFrame(
            [(batch_id, n, chi2, n_novel)],
            "batch_id LONG, n_events LONG, chi2 DOUBLE, n_novel_types LONG",
        ).coalesce(1).write.mode("append").parquet(out_path)

    return _apply


def start_mix_drift_stream(
    events: DataFrame,
    baseline: DataFrame,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Event stream → per-micro-batch chi-square drift log."""
    return _start_available_now(
        events, mix_drift_batch_writer(baseline, out_path), checkpoint
    )


def _simhash_gate(
    accepted_path: str,
    index_path: str,
    fresh_layout: Callable[[DataFrame], dict],
) -> Callable[[DataFrame, int], None]:
    """The SimHash family of the gate skeleton: every step runs under
    the layout of the index (operators/index_lifecycle.simhash_layout),
    and ``fresh_layout`` chooses it for an index with no commits."""
    def corpus_hits(bands: DataFrame, index_df: DataFrame) -> DataFrame:
        corpus_bands = index_df.select(
            "band_idx", "band_val", F.col("simhash").alias("idx_simhash")
        )
        return (
            bands.join(corpus_bands, ["band_idx", "band_val"])
            .filter(
                F.expr(
                    "CAST(bit_count(simhash ^ idx_simhash)"
                    " AS BIGINT) <= 5"
                )
            )
            .select("doc_id")
            .distinct()
        )

    def batch_pairs(fp: DataFrame, layout: dict) -> DataFrame:
        return simhash_hamming_pairs(
            fp,
            rung=layout["simhash_rung"],
            bit_blocks=layout.get("simhash_bit_blocks"),
        )

    return _gate_writer(
        accepted_path,
        index_path,
        stored_layout=stored_simhash_layout,
        fresh_layout=fresh_layout,
        sign=simhash_fingerprints,
        batch_pairs=batch_pairs,
        band_rows=simhash_index,
        corpus_hits=corpus_hits,
    )


def simhash_gate_batch_writer(
    accepted_path: str,
    index_path: str,
    rung: int = 1,
    bit_blocks: list[int] | None = None,
    index_bucket_k: int | None = None,
    centered: bool = False,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: streaming near-dup ingest gate over the
    60-bit SimHash family — the MinHash gate's contract re-run on the
    OTHER fingerprint index: 1 BIGINT per doc instead of a 16-hash
    signature, with exact Hamming verification at the index join.

    Per batch (one fingerprint pass over the batch, one
    (band_idx, band_val) equi-join against the stored index; the
    corpus is never re-fingerprinted):

    1. ``simhash`` over the batch (one 60-bit fingerprint per doc);
    2. within-batch keep-first: ``simhash_hamming_pairs`` at the
       index's rung — drop the higher doc_id of each Hamming <= 5 pair
       (greedy min-representative, same transitive-safety argument as
       the MinHash gate);
    3. corpus check: the batch's band rows ⋈ stored index rows on
       (band_idx, band_val), then exact XOR-popcount <= 5
       against the indexed fingerprint — banding only generates
       candidates, the verify bar is exact;
    4. survivors commit docs-first, then their (doc_id, simhash,
       band_idx, band_val, rung) rows into the index.

    The index LAYOUT — rung, banding permutation, bucket layout and
    fingerprint space — is recorded in the index manifest by its first
    commit (operators/index_lifecycle.simhash_layout), and every batch
    runs under the layout of the snapshot it is checked against: band
    rows built under another rung or permutation would never join the
    stored ones (band_idx is globally unique per rung —
    operators/dedup.simhash_band_combos), so a batch is never banded
    any other way. The arguments therefore choose the layout of a
    FRESH index only; on an existing index they are ignored, and a
    writer built before a migration
    (:func:`operators.index_lifecycle.migrate_simhash_index`,
    :func:`operators.index_lifecycle.recenter_simhash_index`) gates
    under the migrated layout from its next batch on.

    - ``rung``: the ladder rung. Size it for the TARGET corpus (rung 3
      carries ~10^9 docs at ~8 collisions/band), or migrate the index
      later by re-banding its stored fingerprints — a map-only
      rewrite, no text re-hash.
    - ``bit_blocks``: the entropy-balanced banding permutation
      (operators/dedup.balanced_bit_blocks). Exact Hamming
      verification uses the ORIGINAL fingerprints
      (permutation-invariant), so the accept/reject bar is unchanged —
      only the band-collision floor drops.
    - ``index_bucket_k``: bucket the index by doc_id mod k, so erasure
      scrubs rewrite only touched buckets.
    - ``centered``: fingerprint with the CENTERED operator family
      instead of the zero threshold. The first batch measures the
      per-bit thresholds (operators/dedup.measure_center_thresholds)
      and the index pins them; every later batch fingerprints against
      the pinned thresholds, so all fingerprints live in one space.
      The centered space keeps the band floor near uniform on template
      corpora (q305/q306: skew_inflation ~1x vs 404x), at the cost
      that the thresholds are corpus statistics frozen at build —
      re-center with a text re-hash (``recenter_simhash_index``).

    Crash/replay discipline is the shared gate skeleton's
    (:func:`_gate_writer`), the same as the MinHash gate's: commits
    are docs-first (a crash between commits may let a later duplicate
    through — benign under at-least-once — never permanently rejects
    unstored content); replays anti-join survivors against the
    accepted table's doc_ids so nothing lands twice, and the replay's
    index commit back-fills missing band rows.
    """
    def fresh_layout(batch_df: DataFrame) -> dict:
        thresholds = measure_center_thresholds(batch_df) if centered else None
        return simhash_layout(rung, bit_blocks, index_bucket_k, thresholds)

    return _simhash_gate(accepted_path, index_path, fresh_layout)


RECOMMENDED_INDEX_BUCKET_K = 64


def recommended_simhash_gate_batch_writer(
    accepted_path: str, index_path: str
) -> Callable[[DataFrame, int], None]:
    """The DEFAULT build path for a NEW SimHash gate index: every scale
    mitigation is applied with zero tuning arguments, so a fresh
    deployment gets the mitigated collision floor and pruned
    maintenance.

    On a FRESH index (no committed version) the first batch measures
    and records the full recommended layout:

    - **centered fingerprints** (``simhash_center_s/n`` pinned in the
      manifest; q306: band-collision skew inflation ~1x vs 404x raw);
    - **entropy-balanced banding** (``simhash_bit_blocks`` measured
      over the first batch's centered fingerprints — insurance against
      template-burst skew the centering can't see, q304);
    - **bucketed partition layout** (``bucket_k`` =
      ``RECOMMENDED_INDEX_BUCKET_K`` — erasure scrubs and deletes prune
      to touched buckets, q308: 115x less write volume).

    A fresh index is banded at rung 1 and verified at Hamming <= 5.
    An existing index is gated under the layout its manifest records,
    as by every gate writer (:func:`simhash_gate_batch_writer`).

    Measurement cost: one extra 61-sum aggregate + one fingerprint
    pass on the first batch only; every later batch pays exactly what
    the explicit writer pays (one manifest JSON read).
    """
    def fresh_layout(batch_df: DataFrame) -> dict:
        thresholds = measure_center_thresholds(batch_df)
        blocks = measure_balanced_bit_blocks(
            simhash_centered_pinned(batch_df, thresholds)
        )
        return simhash_layout(
            1, blocks, RECOMMENDED_INDEX_BUCKET_K, thresholds
        )

    return _simhash_gate(accepted_path, index_path, fresh_layout)


def start_recommended_simhash_gate_stream(
    docs: DataFrame,
    accepted_path: str,
    index_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Document stream → SimHash-gated corpus + index under the
    recommended scale-safe layout, zero tuning arguments."""
    return _start_available_now(
        docs,
        recommended_simhash_gate_batch_writer(accepted_path, index_path),
        checkpoint,
    )


def start_simhash_gate_stream(
    docs: DataFrame,
    accepted_path: str,
    index_path: str,
    checkpoint: str,
    index_bucket_k: int | None = None,
    centered: bool = False,
) -> StreamingQuery:
    """Document stream → SimHash-gated versioned corpus + rung-1 band
    index; the layout arguments choose a fresh index's layout."""
    return _start_available_now(
        docs,
        simhash_gate_batch_writer(
            accepted_path, index_path,
            index_bucket_k=index_bucket_k, centered=centered,
        ),
        checkpoint,
    )
