"""Streaming SimHash ingest gate: novelty, within-batch keep-first,
cross-batch index growth, replay convergence incl. a crash planted
between the two commits, the stored-layout discipline (every writer
adopts the layout its index records), and the end-to-end availableNow
stream."""

from __future__ import annotations

import os

import pytest

from movie_data_pipeline_spark.operators.dedup import simhash
from movie_data_pipeline_spark.operators.index_lifecycle import (
    migrate_simhash_index,
    recenter_simhash_index,
    simhash_index,
    simhash_layout,
)
from movie_data_pipeline_spark.sources.versioned import VersionedTable
from movie_data_pipeline_spark.streaming import (
    dedup_gate_batch_writer,
    simhash_gate_batch_writer,
    start_simhash_gate_stream,
)

pytestmark = pytest.mark.usefixtures("_scoped")

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill near the garden gate"
)
NEAR = BASE.replace("lazy", "sleepy")
OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution pipelines"
)
THIRD = (
    "yet another unrelated document describing streaming watermarks "
    "state stores and exactly once sinks in great detail today"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _accepted_ids(spark, path):
    return {r.doc_id for r in VersionedTable(path).read(spark).collect()}


def test_gate_accepts_novel_drops_batch_dups(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = simhash_gate_batch_writer(acc, idx)
    # doc 1 is an exact dup of doc 0 (Hamming 0) -> keep-first
    writer(_docs(spark, [(0, BASE), (1, BASE), (2, OTHER)]), 0)
    assert _accepted_ids(spark, acc) == {0, 2}
    idx_rows = VersionedTable(idx).read(spark).collect()
    # index holds exactly the accepted docs' band rows: 6 per doc (rung 1)
    assert {r.doc_id for r in idx_rows} == {0, 2}
    assert len(idx_rows) == 12
    assert {r.band_idx for r in idx_rows} == set(range(6))


def test_gate_rejects_cross_batch_near_dup(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = simhash_gate_batch_writer(acc, idx)
    writer(_docs(spark, [(0, BASE)]), 0)
    # NEAR is within Hamming<=5 of BASE (one-word substitution on a
    # 20-word doc); THIRD is novel
    writer(_docs(spark, [(10, NEAR), (11, THIRD)]), 1)
    assert _accepted_ids(spark, acc) == {0, 11}


def test_gate_replay_converges(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = simhash_gate_batch_writer(acc, idx)
    batch = _docs(spark, [(0, BASE), (1, OTHER)])
    writer(batch, 0)
    writer(batch, 0)  # at-least-once replay
    assert _accepted_ids(spark, acc) == {0, 1}
    assert len(VersionedTable(acc).versions()) == 1


def test_gate_replay_after_crash_between_commits(spark, tmp_path):
    """Crash AFTER the accepted-docs commit but BEFORE the index commit,
    then an at-least-once replay: the accepted-table anti-join must
    prevent a double append, and the replay must back-fill the missing
    band rows into the index."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = simhash_gate_batch_writer(acc, idx)
    batch = _docs(spark, [(0, BASE), (1, OTHER)])

    writer(batch, 0)
    index = VersionedTable(idx)
    for v in index.versions():
        os.unlink(index._manifest_path(v))

    writer(batch, 0)  # replay across the crash boundary
    rows = VersionedTable(acc).read(spark).collect()
    assert sorted(r.doc_id for r in rows) == [0, 1]
    assert len(VersionedTable(acc).versions()) == 1
    assert {
        r.doc_id for r in VersionedTable(idx).read(spark).collect()
    } == {0, 1}


def test_gate_rung_is_pinned_not_batch_sized(spark, tmp_path):
    """A rung-3 gate must store 20 band rows per accepted doc even for
    a 2-doc batch — banding is an index-build parameter, never the
    batch's own size (band rows from different rungs never join)."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = simhash_gate_batch_writer(acc, idx, rung=3)
    writer(_docs(spark, [(0, BASE), (1, OTHER)]), 0)
    idx_rows = VersionedTable(idx).read(spark).collect()
    assert len(idx_rows) == 40  # 2 docs x C(6,3) bands
    # global band_idx: rung 3 occupies 21-40
    assert {r.band_idx for r in idx_rows} == set(range(21, 41))
    assert {r.rung for r in idx_rows} == {3}
    # and the rung-3 gate still rejects a cross-batch near-dup
    # (Hamming<=3 guaranteed; this pair is typically <=5 with errors
    # clustered, caught via the exact verify on banded candidates)
    writer(_docs(spark, [(10, BASE)]), 1)  # exact dup -> always caught
    assert _accepted_ids(spark, acc) == {0, 1}


def test_gate_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    _docs(
        spark, [(0, BASE), (1, BASE), (2, OTHER), (3, NEAR), (4, THIRD)]
    ).repartition(1).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_simhash_gate_stream(
        stream,
        str(tmp_path / "acc"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = _accepted_ids(spark, str(tmp_path / "acc"))
    # 1 dups 0; 3 near-dups 0; exactly one of {0,1,3} survives + 2, 4
    assert 2 in got and 4 in got
    assert len(got & {0, 1, 3}) == 1


# band_idx range of each ladder rung (operators/dedup.simhash_band_combos)
RUNG_BANDS = {1: set(range(0, 6)), 2: set(range(6, 21)), 3: set(range(21, 41))}


@pytest.mark.parametrize(
    "family, stored, later, migrate_to",
    [
        ("simhash", {"rung": 1}, {"rung": 3}, None),
        ("simhash", {"bit_blocks": list(range(59, -1, -1))}, {}, None),
        ("simhash", {"index_bucket_k": 4}, {}, None),
        ("simhash", {"centered": True}, {}, None),
        ("simhash", {}, {"centered": True}, None),
        ("minhash", {}, {"index_bucket_k": 4}, None),
        ("simhash", {"rung": 1}, {"rung": 1}, 2),
    ],
    ids=[
        "rung",
        "bit_blocks",
        "bucket_k",
        "centered",
        "uncentered",
        "minhash_bucket_k",
        "built_before_migration",
    ],
)
def test_writer_adopts_the_stored_layout(
    spark, tmp_path, family, stored, later, migrate_to
):
    """A writer whose layout arguments differ from its index's still
    gates under the stored layout: an exact duplicate of an indexed
    doc is rejected, the appended rows carry the stored bands and
    buckets, and the recorded layout is unchanged."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    make = (
        dedup_gate_batch_writer
        if family == "minhash"
        else simhash_gate_batch_writer
    )
    writer = make(acc, idx, **later)  # built before the index exists
    make(acc, idx, **stored)(_docs(spark, [(0, BASE), (1, OTHER)]), 0)
    if migrate_to is not None:
        migrate_simhash_index(spark, idx, migrate_to)
    index = VersionedTable(idx)
    meta = index.manifest()["meta"]

    writer(_docs(spark, [(10, BASE), (11, THIRD)]), 1)

    assert _accepted_ids(spark, acc) == {0, 1, 11}
    assert index.manifest()["meta"] == meta
    new = index.read(spark).filter("doc_id = 11")
    rows = new.collect()
    if family == "minhash":
        assert {r.band for r in rows} == set(range(4))
    else:
        assert {r.band_idx for r in rows} == RUNG_BANDS[meta["simhash_rung"]]
    k = meta.get("bucket_k")
    assert ("pbucket" in new.columns) == (k is not None)
    if k is not None:
        assert {r.pbucket for r in rows} == {11 % k}


@pytest.mark.parametrize("op", ["writer", "migrate", "recenter"])
def test_pre_meta_simhash_index_is_refused(spark, tmp_path, op):
    """An index whose manifest records no layout (committed before
    manifests carried table properties) has nothing to adopt."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    docs = _docs(spark, [(0, BASE)])
    VersionedTable(acc).commit(docs)
    layout = simhash_layout(1, None, None, None)
    VersionedTable(idx).commit(simhash_index(simhash(docs), layout), meta={})
    run = {
        "writer": lambda: simhash_gate_batch_writer(acc, idx)(
            _docs(spark, [(1, OTHER)]), 1
        ),
        "migrate": lambda: migrate_simhash_index(spark, idx, 2),
        "recenter": lambda: recenter_simhash_index(spark, idx, acc),
    }[op]
    with pytest.raises(ValueError, match="pre-meta index"):
        run()


# --- round 12: recommended (default scale-safe) gate -----------------------


@pytest.mark.slow
def test_recommended_gate_pins_full_scale_safe_layout(spark, tmp_path):
    """VERDICT r11 #1: a default-constructed gate must land EVERY
    round-11 mitigation — centered thresholds, balanced banding,
    bucketed layout — pinned in the manifest with zero tuning args."""
    from movie_data_pipeline_spark.streaming.sinks import (
        RECOMMENDED_INDEX_BUCKET_K,
        recommended_simhash_gate_batch_writer,
    )

    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = recommended_simhash_gate_batch_writer(acc, idx)
    writer(_docs(spark, [(0, BASE), (1, OTHER), (2, BASE)]), 0)
    meta = VersionedTable(idx).manifest()["meta"]
    assert "simhash_center_s" in meta and "simhash_center_n" in meta
    assert sorted(meta["simhash_bit_blocks"]) == list(range(60))
    assert meta["bucket_k"] == RECOMMENDED_INDEX_BUCKET_K
    assert meta["partition_by"] == "pbucket"
    assert meta["simhash_rung"] == 1
    # doc 2 is an exact within-batch duplicate of BASE (identical
    # votes -> identical centered fingerprint, Hamming 0) -> dropped
    assert _accepted_ids(spark, acc) == {0, 1}

    # a restarted recommended writer adopts the stored config wholesale
    # (no re-measurement: thresholds and blocks unchanged) and keeps
    # gating against the stored index
    writer2 = recommended_simhash_gate_batch_writer(acc, idx)
    writer2(_docs(spark, [(5, BASE), (6, THIRD)]), 1)
    meta2 = VersionedTable(idx).manifest()["meta"]
    assert meta2["simhash_center_s"] == meta["simhash_center_s"]
    assert meta2["simhash_bit_blocks"] == meta["simhash_bit_blocks"]
    assert _accepted_ids(spark, acc) == {0, 1, 6}


@pytest.mark.slow
def test_recommended_gate_erasure_scrub_prunes(spark, tmp_path):
    """The q308 bar with zero tuning: an erasure on a recommended-built
    index must go down the PRUNED overwrite_partitions path."""
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        count_phantom_index_rows,
        erase_documents,
    )
    from movie_data_pipeline_spark.streaming.sinks import (
        recommended_simhash_gate_batch_writer,
    )

    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = recommended_simhash_gate_batch_writer(acc, idx)
    writer(_docs(spark, [(0, BASE), (1, OTHER), (2, THIRD)]), 0)
    erase_documents(spark, acc, [idx], "doc_id = 1")
    assert count_phantom_index_rows(spark, idx, acc) == 0
    assert VersionedTable(idx).manifest()["mode"] == "overwrite_partitions"
    assert _accepted_ids(spark, acc) == {0, 2}
