"""Dedup-index lifecycle (round 10, VERDICT r9 #1): right-to-erasure
scrub of the stored MinHash and SimHash band indexes, phantom-hit
behavior before vs after the scrub, manifest-property preservation,
and SimHash rung migration across an index's life."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.index_lifecycle import (
    count_phantom_index_rows,
    erase_documents,
    migrate_simhash_index,
    scrub_index_to_corpus,
    simhash_index,
    simhash_layout,
)
from movie_data_pipeline_spark.sources.versioned import VersionedTable
from movie_data_pipeline_spark.streaming import (
    dedup_gate_batch_writer,
    simhash_gate_batch_writer,
)

pytestmark = pytest.mark.usefixtures("_scoped")

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill near the garden gate"
)
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


def _ids(spark, path):
    return {r.doc_id for r in VersionedTable(path).read(spark).collect()}


# --- erasure scrub: SimHash index ------------------------------------------


def test_simhash_scrub_removes_phantom_rows(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = simhash_gate_batch_writer(acc, idx, rung=1)
    writer(_docs(spark, [(0, BASE), (1, OTHER), (2, THIRD)]), 0)
    assert _ids(spark, acc) == {0, 1, 2}

    VersionedTable(acc).delete_where(spark, "doc_id = 1")
    assert count_phantom_index_rows(spark, idx, acc) == 6  # rung-1 bands

    v, n = scrub_index_to_corpus(spark, idx, acc)
    assert n == 6
    assert count_phantom_index_rows(spark, idx, acc) == 0
    assert _ids(spark, idx) == {0, 2}
    # the pinned rung survives the overwrite (table-level property)
    assert VersionedTable(idx).manifest().get("meta", {}).get(
        "simhash_rung"
    ) == 1


@pytest.mark.slow
def test_simhash_resubmission_accepted_only_after_scrub(spark, tmp_path):
    """The phantom-suppression bug the scrub exists to fix: an erased
    document's band rows keep rejecting re-submissions of its content
    until the index is scrubbed."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = simhash_gate_batch_writer(acc, idx, rung=1)
    writer(_docs(spark, [(0, BASE), (1, OTHER)]), 0)

    VersionedTable(acc).delete_where(spark, "doc_id = 0")
    # Phantom index rows still suppress the re-submitted content...
    writer(_docs(spark, [(10, BASE)]), 1)
    assert 10 not in _ids(spark, acc)

    scrub_index_to_corpus(spark, idx, acc)
    # ...and after the scrub the same content is accepted again.
    writer(_docs(spark, [(11, BASE)]), 2)
    assert 11 in _ids(spark, acc)
    # its band rows re-entered the index
    assert 11 in _ids(spark, idx)


# --- erasure scrub: MinHash index ------------------------------------------


def test_minhash_scrub_and_resubmission(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = dedup_gate_batch_writer(acc, idx)
    writer(_docs(spark, [(0, BASE), (1, OTHER)]), 0)
    assert _ids(spark, acc) == {0, 1}

    VersionedTable(acc).delete_where(spark, "doc_id = 0")
    assert count_phantom_index_rows(spark, idx, acc) > 0
    # phantom suppression on the MinHash side too
    writer(_docs(spark, [(10, BASE)]), 1)
    assert 10 not in _ids(spark, acc)

    v, n = scrub_index_to_corpus(spark, idx, acc)
    assert n > 0
    assert count_phantom_index_rows(spark, idx, acc) == 0
    writer(_docs(spark, [(11, BASE)]), 2)
    assert 11 in _ids(spark, acc)


# --- erase_documents: one-call cadence --------------------------------------


def test_erase_documents_scrubs_all_indexes_and_vacuums(spark, tmp_path):
    acc = str(tmp_path / "acc")
    mh_idx, sh_idx = str(tmp_path / "mh"), str(tmp_path / "sh")
    dedup_gate_batch_writer(acc, mh_idx)(
        _docs(spark, [(0, BASE), (1, OTHER)]), 0
    )
    simhash_gate_batch_writer(acc, sh_idx, rung=1)(
        _docs(spark, [(2, THIRD)]), 1
    )

    stats = erase_documents(
        spark, acc, [mh_idx, sh_idx], "doc_id IN (0, 2)",
        vacuum_keep_last=1,
    )
    assert stats["n_docs_deleted"] == 2
    assert _ids(spark, acc) == {1}
    assert count_phantom_index_rows(spark, mh_idx, acc) == 0
    assert count_phantom_index_rows(spark, sh_idx, acc) == 0
    # vacuum(1): only the post-erasure snapshot remains anywhere
    for p in (acc, mh_idx, sh_idx):
        assert len(VersionedTable(p).versions()) == 1


def test_erase_documents_null_condition_retains(spark, tmp_path):
    """Three-valued logic: rows where the condition is NULL survive."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    simhash_gate_batch_writer(acc, idx, rung=1)(
        spark.createDataFrame(
            [(0, BASE, None), (1, OTHER, "cc")],
            "doc_id LONG, text STRING, source STRING",
        ),
        0,
    )
    stats = erase_documents(spark, acc, [idx], "source = 'cc'")
    assert stats["n_docs_deleted"] == 1
    assert _ids(spark, acc) == {0}


def test_scrub_empty_corpus_drops_everything(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    simhash_gate_batch_writer(acc, idx, rung=1)(
        _docs(spark, [(0, BASE)]), 0
    )
    VersionedTable(acc).delete_where(spark, "TRUE")
    v, n = scrub_index_to_corpus(spark, idx, acc)
    assert n == 6
    assert VersionedTable(idx).read(spark).count() == 0


# --- rung migration ----------------------------------------------------------


@pytest.mark.slow
def test_migrate_simhash_index_rebands_and_updates_meta(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer1 = simhash_gate_batch_writer(acc, idx, rung=1)
    writer1(_docs(spark, [(0, BASE), (1, OTHER)]), 0)
    before = VersionedTable(idx).read(spark).collect()
    assert len(before) == 12  # 6 bands/doc at rung 1

    migrate_simhash_index(spark, idx, 2)
    rows = VersionedTable(idx).read(spark).collect()
    assert len(rows) == 30  # 15 bands/doc at rung 2
    assert {r.rung for r in rows} == {2}
    # global band_idx space: rung 2 occupies 6-20
    assert {r.band_idx for r in rows} == set(range(6, 21))
    assert VersionedTable(idx).manifest()["meta"]["simhash_rung"] == 2
    # fingerprints preserved exactly (no re-hash)
    assert {(r.doc_id, r.simhash) for r in rows} == {
        (r.doc_id, r.simhash) for r in before
    }

    # the writer built before the migration keeps gating correctly
    # across the boundary, under the migrated rung
    writer1(_docs(spark, [(6, BASE), (7, THIRD)]), 1)
    assert _ids(spark, acc) == {0, 1, 7}  # 6 is a dup of migrated 0
    new = VersionedTable(idx).read(spark).filter("doc_id = 7").collect()
    assert {r.band_idx for r in new} == set(range(6, 21))


def test_migrate_rejects_noop_and_bad_rung(spark, tmp_path):
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    simhash_gate_batch_writer(acc, idx, rung=1)(
        _docs(spark, [(0, BASE)]), 0
    )
    with pytest.raises(ValueError, match="already at rung"):
        migrate_simhash_index(spark, idx, 1)
    with pytest.raises(ValueError, match="must be 1, 2 or 3"):
        migrate_simhash_index(spark, idx, 4)


def test_migration_preserved_by_scrub(spark, tmp_path):
    """Scrub after migration must keep the migrated rung property —
    the inheritance rule VersionedTable.commit documents."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    simhash_gate_batch_writer(acc, idx, rung=1)(
        _docs(spark, [(0, BASE), (1, OTHER)]), 0
    )
    migrate_simhash_index(spark, idx, 2)
    VersionedTable(acc).delete_where(spark, "doc_id = 1")
    scrub_index_to_corpus(spark, idx, acc)
    assert VersionedTable(idx).manifest()["meta"]["simhash_rung"] == 2
    assert _ids(spark, idx) == {0}


def test_migrate_ivf_index_refuses_phantoms(spark, tmp_path):
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        migrate_ivf_index,
    )
    from movie_data_pipeline_spark.sources.versioned import VersionedTable
    from pyspark.sql import functions as F

    corpus_p, idx_p = str(tmp_path / "vec"), str(tmp_path / "ivf")
    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.col("id") * (i + 1) % 7).cast("float") for i in range(4)
        ]).alias("embedding"),
    )
    VersionedTable(corpus_p).commit(vecs)
    VersionedTable(idx_p).commit(
        vecs.select("vec_id", (F.col("vec_id") % 3).cast("int").alias("cell"))
    )
    # corpus loses rows but the index is NOT scrubbed -> phantoms
    VersionedTable(corpus_p).delete_where(spark, "vec_id % 5 = 0")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="scrub before migrating"):
        migrate_ivf_index(spark, idx_p, corpus_p)


def test_migrate_ivf_index_retrains_and_reassigns(spark, tmp_path):
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        erase_documents,
        migrate_ivf_index,
    )
    from movie_data_pipeline_spark.operators.similarity import ivf_assign
    from movie_data_pipeline_spark.sources.registry import load_table
    from movie_data_pipeline_spark.sources.versioned import VersionedTable
    from tests.conftest import TESTDATA_SF_DIR
    from pyspark.sql import functions as F

    emb = load_table(spark, TESTDATA_SF_DIR, "embeddings")
    corpus_p, idx_p = str(tmp_path / "vec"), str(tmp_path / "ivf")
    VersionedTable(corpus_p).commit(emb)
    idx_t = VersionedTable(idx_p)
    idx_t.commit(
        ivf_assign(emb, n_cells=4).select("vec_id", "cell"),
        meta={"n_cells": 4},
    )
    erase_documents(
        spark, corpus_p, [idx_p], "vec_id % 3 = 1", id_col="vec_id"
    )
    v = migrate_ivf_index(spark, idx_p, corpus_p)
    assert v == 2
    meta = idx_t.manifest()["meta"]
    assert set(meta) >= {"n_cells", "ivf_centroids"}
    surv = VersionedTable(corpus_p).read(spark)
    new_idx = idx_t.read(spark)
    # exactly the surviving vectors, each assigned once
    assert new_idx.count() == surv.count()
    assert new_idx.join(surv, "vec_id", "left_anti").count() == 0
    assert (
        new_idx.groupBy("vec_id").count().filter("count > 1").count() == 0
    )
    # every assigned cell has a codebook entry
    cells = {int(c) for c in meta["ivf_centroids"]}
    got = {r["cell"] for r in new_idx.select("cell").distinct().collect()}
    assert got <= cells
    # centroids have the right dimensionality
    dim = len(emb.first()["embedding"])
    assert all(len(v) == dim for v in meta["ivf_centroids"].values())


def test_audit_shard_manifest_flags_stale_shards(spark, tmp_path):
    from movie_data_pipeline_spark.functions.text import base_hash32
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        audit_shard_manifest,
        erase_documents,
    )
    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
    )
    from movie_data_pipeline_spark.sources.versioned import VersionedTable
    from pyspark.sql import functions as F

    corpus_p = str(tmp_path / "corpus")
    man_p = str(tmp_path / "manifest")
    docs = spark.range(64).select(F.col("id").alias("doc_id"))
    VersionedTable(corpus_p).commit(docs)
    h = docs.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":s"))).alias(
            "hk"
        ),
    )
    ranked, _ = attach_global_row_number(h, ["hk", "doc_id"], out="rnk")
    dig = base_hash32(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"),
            F.col("rnk").cast("string"),
        )
    )
    manifest = (
        ranked.withColumn("shard", F.expr("(rnk - 1) div 16"))
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum(dig).alias("content_digest"))
    )
    VersionedTable(man_p).commit(
        manifest,
        meta={
            "order_seed": ":s",
            "n_shards": 4,
            "built_at_corpus_version": 0,
        },
    )
    # no erasure yet: nothing stale, digests match
    a0 = audit_shard_manifest(spark, man_p, corpus_p)
    assert a0.filter("stale = 1").count() == 0
    assert a0.filter("published_digest != surviving_digest").count() == 0

    stats = erase_documents(
        spark, corpus_p, [], "doc_id = 7", manifest_paths=[man_p]
    )
    a1 = audit_shard_manifest(spark, man_p, corpus_p)
    stale = a1.filter("stale = 1")
    assert stale.count() == 1  # exactly one shard lost doc 7
    r = stale.first()
    assert r["n_missing"] == 1
    assert r["published_digest"] != r["surviving_digest"]
    assert stats["manifests"][man_p] == {
        "n_stale_shards": 1,
        "n_missing_docs": 1,
    }


def test_audit_shard_manifest_requires_pinned_meta(spark, tmp_path):
    import pytest as _pytest

    from movie_data_pipeline_spark.operators.index_lifecycle import (
        audit_shard_manifest,
    )
    from movie_data_pipeline_spark.sources.versioned import VersionedTable
    from pyspark.sql import functions as F

    corpus_p, man_p = str(tmp_path / "c"), str(tmp_path / "m")
    VersionedTable(corpus_p).commit(
        spark.range(4).select(F.col("id").alias("doc_id"))
    )
    VersionedTable(man_p).commit(
        spark.createDataFrame(
            [(0, 4, 1)], "shard LONG, n_docs LONG, content_digest LONG"
        )
    )
    with _pytest.raises(ValueError, match="order_seed"):
        audit_shard_manifest(spark, man_p, corpus_p)


# --- round 12 (ADVICE r11 fixes) -------------------------------------------


@pytest.mark.slow
def test_migrate_simhash_index_preserves_bucketed_layout(spark, tmp_path):
    """ADVICE r11: the migration commit used to REPLACE the manifest
    meta with only the banding properties — flattening a bucketed
    layout (scrubs lose pruning, a k-pinned gate writer fails every
    later batch). Meta must merge, and rebanded rows must re-derive
    the partition column."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer1 = simhash_gate_batch_writer(acc, idx, rung=1, index_bucket_k=4)
    writer1(_docs(spark, [(0, BASE), (1, OTHER), (2, THIRD)]), 0)

    migrate_simhash_index(spark, idx, 2)
    meta = VersionedTable(idx).manifest()["meta"]
    assert meta["simhash_rung"] == 2
    assert meta["partition_by"] == "pbucket"
    assert meta["bucket_k"] == 4
    rows = VersionedTable(idx).read(spark)
    assert "pbucket" in rows.columns
    assert rows.filter(
        F.expr("pbucket <> CAST(pmod(doc_id, 4) AS INT)")
    ).count() == 0

    # a k-pinned rung-2 writer keeps working across the migration...
    writer2 = simhash_gate_batch_writer(acc, idx, rung=2, index_bucket_k=4)
    writer2(_docs(spark, [(6, BASE), (7, "novel words entirely here")]), 1)
    assert 7 in _ids(spark, acc) and 6 not in _ids(spark, acc)
    # ...and the pruned scrub still sees a partitioned layout
    VersionedTable(acc).delete_where(spark, "doc_id = 7")
    v, n = scrub_index_to_corpus(spark, idx, acc)
    assert n == 15  # rung-2 band rows of doc 7
    assert count_phantom_index_rows(spark, idx, acc) == 0


@pytest.mark.slow
def test_migrate_simhash_index_preserves_centered_thresholds(
    spark, tmp_path
):
    """Meta-merge must also carry the pinned centered thresholds
    through a banding/rung migration — dropping them would turn a
    centered index back into an (invalid) zero-threshold one."""
    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    writer = simhash_gate_batch_writer(acc, idx, rung=1, centered=True)
    writer(_docs(spark, [(0, BASE), (1, OTHER)]), 0)
    before = VersionedTable(idx).manifest()["meta"]
    assert "simhash_center_s" in before

    migrate_simhash_index(spark, idx, 2)
    after = VersionedTable(idx).manifest()["meta"]
    assert after["simhash_rung"] == 2
    assert after["simhash_center_s"] == before["simhash_center_s"]
    assert after["simhash_center_n"] == before["simhash_center_n"]
    # a centered rung-2 writer validates cleanly against the migrated
    # index and still rejects a duplicate of indexed content
    writer2 = simhash_gate_batch_writer(acc, idx, rung=2, centered=True)
    writer2(_docs(spark, [(5, BASE)]), 1)
    assert 5 not in _ids(spark, acc)


def test_migrate_ivf_index_keeps_subset_membership(spark, tmp_path):
    """ADVICE r11: migration used to re-assign the whole corpus head,
    silently expanding an index that intentionally covers a subset.
    Membership must be preserved exactly."""
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        migrate_ivf_index,
    )
    from pyspark.sql import functions as F

    corpus_p, idx_p = str(tmp_path / "vec"), str(tmp_path / "ivf")
    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            ((F.col("id") * (i + 3)) % 11).cast("float") for i in range(4)
        ]).alias("embedding"),
    )
    VersionedTable(corpus_p).commit(vecs)
    # index covers only even vec_ids — a deliberate subset
    members = vecs.filter("vec_id % 2 = 0")
    VersionedTable(idx_p).commit(
        members.select(
            "vec_id", (F.col("vec_id") % 3).cast("int").alias("cell")
        ),
        meta={"n_cells": 3},
    )
    migrate_ivf_index(spark, idx_p, corpus_p)
    new_idx = VersionedTable(idx_p).read(spark)
    assert new_idx.count() == 20
    assert new_idx.filter("vec_id % 2 = 1").count() == 0


def test_republish_manifest_closes_staleness_loop(spark, tmp_path):
    """VERDICT r11 #2 at unit scale: erase -> stale -> republish ->
    re-audit clean, rows equal a fresh build."""
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        audit_shard_manifest,
        build_order_manifest,
        republish_manifest,
    )

    corpus_p, man_p = str(tmp_path / "corpus"), str(tmp_path / "man")
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    VersionedTable(corpus_p).commit(docs)
    VersionedTable(man_p).commit(
        build_order_manifest(
            VersionedTable(corpus_p).read(spark, version=0), ":s:", 4
        ),
        meta={
            "order_seed": ":s:",
            "n_shards": 4,
            "built_at_corpus_version": 0,
        },
    )
    VersionedTable(corpus_p).delete_where(spark, "doc_id % 10 = 0")
    audit = audit_shard_manifest(spark, man_p, corpus_p)
    assert audit.agg(F.sum("stale")).first()[0] > 0

    v = republish_manifest(spark, man_p, corpus_p)
    assert v == 1
    meta = VersionedTable(man_p).manifest()["meta"]
    assert meta["built_at_corpus_version"] == 1
    re_audit = audit_shard_manifest(spark, man_p, corpus_p)
    assert re_audit.agg(F.sum("stale")).first()[0] == 0
    fresh = build_order_manifest(
        VersionedTable(corpus_p).read(spark), ":s:", 4
    )
    assert VersionedTable(man_p).read(spark).exceptAll(fresh).isEmpty()


def test_republish_requires_pinned_derivation(spark, tmp_path):
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        republish_manifest,
    )

    corpus_p, man_p = str(tmp_path / "corpus"), str(tmp_path / "man")
    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    VersionedTable(corpus_p).commit(docs)
    VersionedTable(man_p).commit(
        docs.groupBy().count(), meta={"n_shards": 2}
    )
    with pytest.raises(ValueError, match="order_seed"):
        republish_manifest(spark, man_p, corpus_p)


@pytest.mark.slow
def test_audit_center_thresholds_and_recenter(spark, tmp_path):
    """VERDICT r11 #3 at unit scale: the audit reads the pinned space's
    balance over the current corpus; recenter re-pins and re-bands in
    one commit, preserving layout and membership."""
    from movie_data_pipeline_spark.operators.dedup import (
        measure_center_thresholds,
        simhash_band_rows,
        simhash_centered_pinned,
    )
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        audit_center_thresholds,
        recenter_simhash_index,
    )

    corpus_p, idx_p = str(tmp_path / "corpus"), str(tmp_path / "idx")
    docs = _docs(
        spark, [(0, BASE), (1, OTHER), (2, THIRD), (3, BASE + " extra")]
    )
    VersionedTable(corpus_p).commit(docs)
    # thresholds pinned from doc 0 alone — a maximally stale sample
    th0 = measure_center_thresholds(docs.filter("doc_id = 0"))
    layout = simhash_layout(1, None, None, th0)
    VersionedTable(idx_p).commit(
        simhash_index(simhash_centered_pinned(docs, th0), layout),
        meta=layout,
    )
    before = audit_center_thresholds(spark, idx_p, corpus_p)
    assert before.count() == 60
    assert before.agg(F.max("n_docs")).first()[0] == 4

    v = recenter_simhash_index(spark, idx_p, corpus_p)
    assert v == 1
    meta = VersionedTable(idx_p).manifest()["meta"]
    assert meta["simhash_center_n"] == 4  # re-measured over members
    assert meta["simhash_bit_blocks"] is None  # naive banding kept
    # rows equal a fresh centered build over the members
    th = measure_center_thresholds(docs)
    fresh = simhash_band_rows(
        simhash_centered_pinned(docs, th), rung=1
    ).withColumn("rung", F.lit(1))
    stored = VersionedTable(idx_p).read(spark)
    assert stored.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(stored).isEmpty()


def test_audit_center_requires_centered_index(spark, tmp_path):
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        audit_center_thresholds,
    )

    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    simhash_gate_batch_writer(acc, idx, rung=1)(_docs(spark, [(0, BASE)]), 0)
    with pytest.raises(ValueError, match="no pinned centered"):
        audit_center_thresholds(spark, idx, acc)


@pytest.mark.slow
def test_recenter_refuses_phantoms_and_rescues_zero_threshold(
    spark, tmp_path
):
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        recenter_simhash_index,
        scrub_index_to_corpus,
    )

    acc, idx = str(tmp_path / "acc"), str(tmp_path / "idx")
    simhash_gate_batch_writer(acc, idx, rung=1)(
        _docs(spark, [(0, BASE), (1, OTHER)]), 0
    )
    VersionedTable(acc).delete_where(spark, "doc_id = 1")
    with pytest.raises(ValueError, match="scrub before re-centering"):
        recenter_simhash_index(spark, idx, acc)
    scrub_index_to_corpus(spark, idx, acc)
    # rescue path: a zero-threshold index becomes centered
    v = recenter_simhash_index(spark, idx, acc)
    meta = VersionedTable(idx).manifest()["meta"]
    assert "simhash_center_s" in meta and meta["simhash_center_n"] == 1
    # and the recommended writer now adopts it cleanly
    from movie_data_pipeline_spark.streaming.sinks import (
        recommended_simhash_gate_batch_writer,
    )

    recommended_simhash_gate_batch_writer(acc, idx)(
        _docs(spark, [(5, BASE), (6, THIRD)]), 1
    )
    assert _ids(spark, acc) == {0, 6}  # 5 is a Hamming-0 dup of 0


def test_migrate_ivf_index_splits_to_target(spark, tmp_path):
    """VERDICT r11 #4 at unit scale: heavy erasure empties cells; a
    migration with target_cells restores the codebook width by
    splitting the largest survivors deterministically."""
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        erase_documents,
        migrate_ivf_index,
    )
    from movie_data_pipeline_spark.operators.similarity import ivf_assign

    corpus_p, idx_p = str(tmp_path / "vec"), str(tmp_path / "ivf")
    vecs = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            ((F.col("id") * (i + 2)) % 13).cast("float") + 0.5
            for i in range(4)
        ]).alias("embedding"),
    )
    VersionedTable(corpus_p).commit(vecs)
    idx_t = VersionedTable(idx_p)
    idx_t.commit(
        ivf_assign(vecs, n_cells=6).select("vec_id", "cell"),
        meta={"n_cells": 6},
    )
    # keep only ~15% of vectors — some cells almost surely empty
    erase_documents(
        spark, corpus_p, [idx_p], "vec_id % 7 != 3", id_col="vec_id"
    )
    surviving_cells = (
        idx_t.read(spark).select("cell").distinct().count()
    )
    assert surviving_cells < 6

    v = migrate_ivf_index(
        spark, idx_p, corpus_p, target_cells=6
    )
    meta = idx_t.manifest()["meta"]
    assert meta["n_cells"] == 6
    assert len(meta["ivf_centroids"]) == 6
    # membership unchanged, each member assigned exactly once
    surv = VersionedTable(corpus_p).read(spark)
    rows = idx_t.read(spark)
    assert rows.count() == surv.count()
    assert rows.join(surv, "vec_id", "left_anti").count() == 0
    # a target below the surviving count is refused
    with pytest.raises(ValueError, match="below the"):
        migrate_ivf_index(spark, idx_p, corpus_p, target_cells=1)
    # a target needing >1 split per cell is refused
    with pytest.raises(ValueError, match="one split per cell"):
        migrate_ivf_index(spark, idx_p, corpus_p, target_cells=13)


@pytest.mark.slow
def test_plan_maintenance_signals(spark, tmp_path):
    """The planner recommends exactly the actions whose signals fire."""
    from movie_data_pipeline_spark.operators.dedup import (
        measure_center_thresholds,
        simhash_centered_pinned,
    )
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        plan_maintenance,
        scrub_index_to_corpus,
    )

    corpus_p, sh_p = str(tmp_path / "c"), str(tmp_path / "sh")
    docs = _docs(spark, [(i, f"{BASE} tail{i}") for i in range(8)])
    VersionedTable(corpus_p).commit(docs)
    th = measure_center_thresholds(docs)
    layout = simhash_layout(1, None, None, th)
    VersionedTable(sh_p).commit(
        simhash_index(simhash_centered_pinned(docs, th), layout),
        meta=layout,
    )
    VersionedTable(corpus_p).delete_where(spark, "doc_id >= 6")
    plan = plan_maintenance(
        spark, corpus_p, simhash_indexes={"sh": sh_p}
    )
    rec = {(r["target"], r["action"]): r for r in plan.collect()}
    assert rec[("sh", "scrub")]["recommended"] == 1
    assert rec[("sh", "scrub")]["metric"] == 12.0  # 2 docs x 6 bands
    assert rec[("sh", "migrate_rung")]["recommended"] == 0
    # after the scrub the signal clears
    scrub_index_to_corpus(spark, sh_p, corpus_p)
    plan2 = plan_maintenance(
        spark, corpus_p, simhash_indexes={"sh": sh_p}
    )
    rec2 = {(r["target"], r["action"]): r for r in plan2.collect()}
    assert rec2[("sh", "scrub")]["recommended"] == 0
