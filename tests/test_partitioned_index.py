"""Round-11 partitioned index layout (VERDICT r10 #2): Hive-partitioned
VersionedTable commits, partial-overwrite commits that inherit untouched
partitions by reference, partition-aware vacuum, the pruned erasure
scrub, and the gates' bucketed index option."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.sources.versioned import VersionedTable
from tests.conftest import TESTDATA_SF_DIR

pytestmark = pytest.mark.usefixtures("_scoped")


def _bucketed(spark, lo, hi, k=4):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.expr(f"CAST(pmod(id, {k}) AS INT)").alias("pbucket"),
    )


def test_partitioned_commit_and_read_roundtrip(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_bucketed(spark, 0, 100), meta={"partition_by": "pbucket"})
    r = t.read(spark)
    assert r.count() == 100
    assert set(r.columns) == {"id", "pbucket"}
    # the data dir is physically Hive-partitioned
    m = t.manifest()
    root = os.path.join(str(tmp_path / "t"), "data", m["data_dirs"][0])
    assert sorted(
        d for d in os.listdir(root) if d.startswith("pbucket=")
    ) == [f"pbucket={b}" for b in range(4)]
    # appends inherit the layout from the table property automatically
    t.commit(_bucketed(spark, 100, 120), mode="append")
    assert t.read(spark).count() == 120


def test_overwrite_partitions_inherits_by_reference(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_bucketed(spark, 0, 100), meta={"partition_by": "pbucket"})
    t.commit(_bucketed(spark, 100, 120), mode="append")
    surv = t.read(spark).filter("pbucket in (1,3) and id % 4 = 1")
    t.overwrite_partitions(surv, [1, 3])
    r = t.read(spark)
    # bucket 1 rewritten to its survivors, bucket 3 vanished entirely,
    # buckets 0/2 untouched
    assert r.filter("pbucket = 1").count() == 30
    assert r.filter("pbucket = 3").count() == 0
    assert r.filter("pbucket = 0").count() == 30
    # untouched partitions are PARENT-dir references, not copies
    entries = t.manifest()["data_dirs"]
    partials = [e for e in entries if isinstance(e, dict)]
    assert len(partials) == 2
    assert all(
        e["parts"] == ["pbucket=0", "pbucket=2"] for e in partials
    )
    # time travel to the pre-overwrite snapshot still works
    assert t.read(spark, version=1).count() == 120
    # partition filters reach the scan (file pruning)
    plan = (
        r.filter("pbucket = 0")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(pbucket" in plan


def test_overwrite_partitions_rejects_stray_rows(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_bucketed(spark, 0, 40), meta={"partition_by": "pbucket"})
    with pytest.raises(ValueError, match="outside the declared"):
        t.overwrite_partitions(t.read(spark).filter("pbucket in (0,2)"), [0])
    # the failed attempt must not have committed anything
    assert t.current_version() == 0


def test_overwrite_partitions_requires_partitioned_table(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(spark.range(10))
    with pytest.raises(ValueError, match="partition_by"):
        t.overwrite_partitions(spark.range(0), [1])


def test_vacuum_retires_superseded_partition_files(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_bucketed(spark, 0, 100), meta={"partition_by": "pbucket"})
    v0_dir = t.manifest()["data_dirs"][0]
    surv = t.read(spark).filter("pbucket = 1 and id < 50")
    t.overwrite_partitions(surv, [1])
    deleted = t.vacuum(keep_last=1)
    # v0's superseded pbucket=1 subdir is physically gone; the dir
    # itself survives (still referenced for buckets 0/2/3)
    assert f"{v0_dir}/pbucket=1" in deleted
    root = os.path.join(str(tmp_path / "t"), "data", v0_dir)
    assert not os.path.exists(os.path.join(root, "pbucket=1"))
    assert os.path.exists(os.path.join(root, "pbucket=0"))
    assert t.read(spark).count() == 100 - 25 + 13  # 75 untouched + survivors
    # exact: ids pbucket=1 are 1,5,...,97 (25); survivors id<50 -> 13
    r = t.read(spark)
    assert r.filter("pbucket = 1").count() == 13


def test_scrub_prunes_to_touched_buckets(spark, tmp_path):
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        count_phantom_index_rows,
        scrub_index_to_corpus,
    )

    corpus_p = str(tmp_path / "corpus")
    index_p = str(tmp_path / "index")
    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    VersionedTable(corpus_p).commit(docs)
    idx_rows = docs.select(
        "doc_id",
        F.expr("CAST(pmod(doc_id, 8) AS INT)").alias("pbucket"),
    )
    VersionedTable(index_p).commit(
        idx_rows, meta={"partition_by": "pbucket", "bucket_k": 8}
    )
    # erase ids = 3 mod 16 -> all in bucket 3
    VersionedTable(corpus_p).delete_where(spark, "doc_id % 16 = 3")
    v, n = scrub_index_to_corpus(spark, index_p, corpus_p)
    assert n == 13  # ids 3,19,...,195
    assert count_phantom_index_rows(spark, index_p, corpus_p) == 0
    entries = VersionedTable(index_p).manifest()["data_dirs"]
    # parent dir inherited for the 7 untouched buckets + one new dir
    partials = [e for e in entries if isinstance(e, dict)]
    assert len(partials) == 1 and len(partials[0]["parts"]) == 7
    assert "pbucket=3" not in partials[0]["parts"]
    # no-op scrub skips the commit even on the partitioned path
    v2, n2 = scrub_index_to_corpus(spark, index_p, corpus_p)
    assert (v2, n2) == (v, 0)


@pytest.mark.slow
def test_simhash_gate_bucketed_index_lifecycle(spark, tmp_path):
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        count_phantom_index_rows,
        erase_documents,
    )
    from movie_data_pipeline_spark.sources.registry import load_table
    from movie_data_pipeline_spark.streaming.sinks import (
        simhash_gate_batch_writer,
    )

    docs = load_table(spark, TESTDATA_SF_DIR, "documents")
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    simhash_gate_batch_writer(acc, idx, rung=1, index_bucket_k=8)(
        docs.limit(60), 0
    )
    idx_t = VersionedTable(idx)
    meta = idx_t.manifest()["meta"]
    assert meta["partition_by"] == "pbucket" and meta["bucket_k"] == 8
    # second batch appends under the same layout
    simhash_gate_batch_writer(acc, idx, rung=1, index_bucket_k=8)(
        docs.limit(80), 1
    )
    # erasure scrubs prune and leave zero phantoms
    erase_documents(spark, acc, [idx], "doc_id % 16 = 3")
    assert count_phantom_index_rows(spark, idx, acc) == 0
    # re-submission of erased docs is accepted again
    acc_t = VersionedTable(acc)
    erased = (
        acc_t.read(spark, version=0)
        .filter("doc_id % 16 = 3")
        .localCheckpoint(eager=True)
    )
    if not erased.isEmpty():
        before = acc_t.read(spark).count()
        simhash_gate_batch_writer(acc, idx, rung=1, index_bucket_k=8)(
            erased, 3
        )
        assert acc_t.read(spark).count() == before + erased.count()


def test_minhash_gate_bucketed_index(spark, tmp_path):
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        count_phantom_index_rows,
        erase_documents,
    )
    from movie_data_pipeline_spark.sources.registry import load_table
    from movie_data_pipeline_spark.streaming.sinks import (
        dedup_gate_batch_writer,
    )

    docs = load_table(spark, TESTDATA_SF_DIR, "documents")
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    dedup_gate_batch_writer(acc, idx, index_bucket_k=4)(docs.limit(60), 0)
    meta = VersionedTable(idx).manifest()["meta"]
    assert meta == {"partition_by": "pbucket", "bucket_k": 4}
    erase_documents(spark, acc, [idx], "doc_id % 8 = 1")
    assert count_phantom_index_rows(spark, idx, acc) == 0


def test_delete_where_prunes_on_partitioned_table(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_bucketed(spark, 0, 200, k=8), meta={"partition_by": "pbucket"})
    # ids = 3 mod 16 all live in bucket 3
    v, n = t.delete_where(spark, "id % 16 = 3")
    assert (v, n) == (1, 13)
    entries = t.manifest()["data_dirs"]
    partials = [e for e in entries if isinstance(e, dict)]
    assert len(partials) == 1 and len(partials[0]["parts"]) == 7
    assert t.read(spark).count() == 187
    assert t.read(spark).filter("id % 16 = 3").count() == 0
    # zero-match delete skips the commit entirely
    v2, n2 = t.delete_where(spark, "id > 10000")
    assert (v2, n2) == (1, 0)
    # three-valued logic retained on the pruned path: NULL-evaluating
    # rows survive (ids = 5 mod 16 split by id mod 32: 5,37,.. TRUE and
    # 21,53,.. NULL — both non-empty, same bucket 5)
    v3, n3 = t.delete_where(
        spark, "CASE WHEN id % 32 >= 16 THEN NULL ELSE id % 16 = 5 END"
    )
    assert n3 == t.read(spark, version=1).filter("id % 32 = 5").count()
    assert t.read(spark).filter("id % 32 = 5").count() == 0
    assert t.read(spark).filter("id % 32 = 21").count() > 0


# --- round 12 (ADVICE r11 fixes) -------------------------------------------


def test_commit_refuses_frame_missing_partition_column(spark, tmp_path):
    """ADVICE r11: silently writing unpartitioned data into a
    partitioned table creates a dir a later pruned rewrite would drop
    without error — the commit must refuse instead."""
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_bucketed(spark, 0, 20), meta={"partition_by": "pbucket"})
    flat = spark.range(20, 30).select("id")  # no pbucket column
    with pytest.raises(ValueError, match="lacks that column"):
        t.commit(flat, mode="append")
    with pytest.raises(ValueError, match="lacks that column"):
        t.commit(flat, mode="overwrite")
    # explicit partition_by arg is validated the same way
    t2 = VersionedTable(str(tmp_path / "t2"))
    with pytest.raises(ValueError, match="lacks that column"):
        t2.commit(flat, partition_by="pbucket")


def test_overwrite_all_partitions_dropped_stays_readable(spark, tmp_path):
    """ADVICE r11: dropping EVERY partition used to publish a manifest
    with no data dirs — read() raised forever and the next gate batch
    crashed. The all-dropped overwrite now publishes a readable empty
    snapshot with the parent schema."""
    t = VersionedTable(str(tmp_path / "t"))
    df = _bucketed(spark, 0, 40)
    t.commit(df, meta={"partition_by": "pbucket"})
    v = t.overwrite_partitions(df.limit(0), [0, 1, 2, 3])
    assert v == 1
    r = t.read(spark)
    assert r.count() == 0
    assert set(r.columns) == {"id", "pbucket"}
    # the table keeps working: appends land on the empty head
    t.commit(_bucketed(spark, 50, 60), mode="append")
    assert t.read(spark).count() == 10
    # and the property survived
    assert t.manifest()["meta"]["partition_by"] == "pbucket"


def test_full_corpus_erasure_on_bucketed_index_stays_readable(
    spark, tmp_path
):
    """The ADVICE r11 reproduction: a full-corpus erasure on a BUCKETED
    index must leave a readable empty index, and the gate must keep
    operating (the unpartitioned path already did)."""
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        count_phantom_index_rows,
        scrub_index_to_corpus,
    )
    from movie_data_pipeline_spark.streaming import (
        simhash_gate_batch_writer,
    )

    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = simhash_gate_batch_writer(acc, idx, rung=1, index_bucket_k=4)
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "completely different text about columnar engines"),
        ],
        "doc_id LONG, text STRING",
    )
    writer(docs, 0)
    VersionedTable(acc).delete_where(spark, "TRUE")
    v, n = scrub_index_to_corpus(spark, idx, acc)
    assert n == 12  # 6 rung-1 band rows per doc
    assert VersionedTable(idx).read(spark).count() == 0
    assert count_phantom_index_rows(spark, idx, acc) == 0
    # the gate keeps operating on the scrubbed-empty bucketed index
    writer(docs, 1)
    assert VersionedTable(acc).read(spark).count() == 2
    assert VersionedTable(idx).read(spark).count() == 12


def test_compact_prunes_to_fragmented_partitions(spark, tmp_path):
    """VERDICT r11 #5: compaction on a partitioned table rewrites ONLY
    partitions whose file count exceeds the target; single-file
    partitions are inherited by reference, and an already-compact
    table is a no-op (no commit)."""

    def batch(ids):
        return spark.createDataFrame(
            [(i, f"pmod-{i % 4}") for i in ids], "id LONG, txt STRING"
        ).withColumn("pbucket", F.expr("CAST(pmod(id, 4) AS INT)"))

    t = VersionedTable(str(tmp_path / "t"))
    # bucket 0: 3 files; bucket 1: 2 files; bucket 2: 1 file; 3: empty
    t.commit(batch([0, 1]), meta={"partition_by": "pbucket"})
    t.commit(batch([4, 5, 2]), mode="append")
    t.commit(batch([8]), mode="append")
    before = {(r.id, r.pbucket) for r in t.read(spark).collect()}

    def files_per_bucket():
        m = t.manifest()
        out: dict[str, list[str]] = {}
        for e in m["data_dirs"]:
            d = e if isinstance(e, str) else e["dir"]
            root = os.path.join(str(tmp_path / "t"), "data", d)
            parts = (
                e["parts"]
                if isinstance(e, dict)
                else [p for p in os.listdir(root) if p.startswith("pbucket=")]
            )
            for p in parts:
                out.setdefault(p, []).extend(
                    os.path.join(d, p, f)
                    for f in os.listdir(os.path.join(root, p))
                    if f.endswith(".parquet")
                )
        return out

    pre = files_per_bucket()
    assert len(pre["pbucket=0"]) == 3
    assert len(pre["pbucket=1"]) == 2
    assert len(pre["pbucket=2"]) == 1

    v = t.compact(spark)
    assert v == 3
    assert t.manifest()["mode"] == "overwrite_partitions"
    post = files_per_bucket()
    assert all(len(fs) == 1 for fs in post.values()), post
    # the single-file bucket kept its EXACT physical file (by reference)
    assert post["pbucket=2"] == pre["pbucket=2"]
    assert {(r.id, r.pbucket) for r in t.read(spark).collect()} == before

    # already compact -> no-op, no version bump
    assert t.compact(spark) == 3
    assert t.current_version() == 3


def test_compact_unpartitioned_unchanged(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(spark.range(10))
    t.commit(spark.range(10, 20), mode="append")
    v = t.compact(spark, target_files=1)
    assert v == 2
    assert len(t.manifest()["data_dirs"]) == 1
    assert t.read(spark).count() == 20


def test_gate_bucketed_append_writes_one_file_per_bucket(spark, tmp_path):
    """Round 12 optimized write: a bucketed gate batch must land ONE
    file per touched bucket, not one per (task, bucket) — the
    small-file generator pruned compaction exists to clean up."""
    from movie_data_pipeline_spark.streaming import (
        simhash_gate_batch_writer,
    )

    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("unique document body number "),
            F.col("id").cast("string"),
            F.lit(" with sufficiently many distinct filler tokens"),
        ).alias("text"),
    ).repartition(16)  # many tasks on purpose
    simhash_gate_batch_writer(acc, idx, rung=1, index_bucket_k=8)(docs, 0)

    t = VersionedTable(str(tmp_path / "idx"))
    m = t.manifest()
    root = os.path.join(idx, "data", m["data_dirs"][0])
    for p in os.listdir(root):
        if not p.startswith("pbucket="):
            continue
        files = [
            f
            for f in os.listdir(os.path.join(root, p))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (p, files)
