"""Streaming near-duplicate ingest gate: batch-writer semantics
(novelty, within-batch keep-first, cross-batch index growth, replay
convergence) and the end-to-end availableNow stream."""

from __future__ import annotations

import os

import pytest

from movie_data_pipeline_spark.sources.versioned import VersionedTable
from movie_data_pipeline_spark.streaming import (
    dedup_gate_batch_writer,
    simhash_gate_batch_writer,
    start_dedup_gate_stream,
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
    t = VersionedTable(path)
    return {r.doc_id for r in t.read(spark).collect()}


def test_gate_accepts_novel_drops_batch_dups(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = dedup_gate_batch_writer(acc, idx)
    # doc 1 is an exact dup of doc 0 within the same batch → keep-first
    writer(_docs(spark, [(0, BASE), (1, BASE), (2, OTHER)]), 0)
    assert _accepted_ids(spark, acc) == {0, 2}
    # index holds exactly the accepted docs' bands
    assert {
        r.doc_id for r in VersionedTable(idx).read(spark).collect()
    } == {0, 2}


def test_gate_rejects_cross_batch_near_dup(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = dedup_gate_batch_writer(acc, idx)
    writer(_docs(spark, [(0, BASE)]), 0)
    # NEAR collides with BASE in at least one LSH band; THIRD is novel
    writer(_docs(spark, [(10, NEAR), (11, THIRD)]), 1)
    assert _accepted_ids(spark, acc) == {0, 11}


def test_gate_replay_converges(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = dedup_gate_batch_writer(acc, idx)
    batch = _docs(spark, [(0, BASE), (1, OTHER)])
    writer(batch, 0)
    # at-least-once replay: both docs now collide with the index their
    # first attempt grew → second attempt accepts nothing new
    writer(batch, 0)
    assert _accepted_ids(spark, acc) == {0, 1}
    acc_versions = VersionedTable(acc).versions()
    assert len(acc_versions) == 1  # replay committed no second version


def test_gate_replay_after_crash_between_commits(spark, tmp_path):
    """Crash AFTER the accepted-docs commit but BEFORE the index commit,
    then an at-least-once replay: the index never grew, so the index
    check alone cannot reject the replayed docs — the accepted-table
    anti-join must prevent a double append, and the replay must
    back-fill the missing band signatures into the index."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = dedup_gate_batch_writer(acc, idx)
    batch = _docs(spark, [(0, BASE), (1, OTHER)])

    # Simulate the partial failure: run the writer, then roll the index
    # back to its pre-batch state (empty) while keeping the accepted
    # commit — byte-identical to a crash between the two commits.
    writer(batch, 0)
    index = VersionedTable(idx)
    for v in index.versions():
        os.unlink(index._manifest_path(v))

    writer(batch, 0)  # at-least-once replay
    # no duplicate doc_ids in the accepted corpus
    rows = VersionedTable(acc).read(spark).collect()
    assert sorted(r.doc_id for r in rows) == [0, 1]
    assert len(VersionedTable(acc).versions()) == 1
    # the replay back-filled the index: both docs' bands present
    assert {
        r.doc_id for r in VersionedTable(idx).read(spark).collect()
    } == {0, 1}


@pytest.mark.parametrize(
    "make_writer",
    [dedup_gate_batch_writer, simhash_gate_batch_writer],
    ids=["minhash", "simhash"],
)
def test_gate_index_commit_fault_then_replay(
    spark, tmp_path, monkeypatch, make_writer
):
    """The index commit RAISES inside the writer, after the accepted
    commit landed: the error propagates, every cache the batch took is
    released, and an unpatched at-least-once replay of the same batch
    converges to the tables of a run that never faulted."""
    batch = _docs(spark, [(0, BASE), (1, OTHER), (2, OTHER), (3, THIRD)])
    jsc = spark.sparkContext._jsc

    def run(root, fault):
        acc, idx = str(root / "acc"), str(root / "idx")
        writer = make_writer(acc, idx)
        if fault:
            real_commit = VersionedTable.commit

            def commit(self, df, *args, **kwargs):
                if self.path == idx:
                    raise OSError("injected index commit failure")
                return real_commit(self, df, *args, **kwargs)

            before = jsc.getPersistentRDDs().size()
            with monkeypatch.context() as m:
                m.setattr(VersionedTable, "commit", commit)
                with pytest.raises(OSError, match="injected"):
                    writer(batch, 0)
            assert jsc.getPersistentRDDs().size() == before
            assert len(VersionedTable(acc).versions()) == 1  # docs landed
            assert not VersionedTable(idx).versions()  # the index did not
        writer(batch, 0)
        tables = [VersionedTable(acc), VersionedTable(idx)]
        return [
            (len(t.versions()), sorted(map(tuple, t.read(spark).collect())))
            for t in tables
        ]

    assert run(tmp_path / "fault", True) == run(tmp_path / "clean", False)


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
    q = start_dedup_gate_stream(
        stream,
        str(tmp_path / "acc"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = _accepted_ids(spark, str(tmp_path / "acc"))
    # 1 dups 0; 3 near-dups 0; exactly one of {0,1} survives plus 2, 4
    assert 2 in got and 4 in got
    assert len(got & {0, 1, 3}) == 1
