"""Versioned-table semantics: commit/append/time-travel/vacuum and the
optimistic-concurrency commit protocol (sources/versioned.py)."""

from __future__ import annotations

import os

import pytest

from movie_data_pipeline_spark.sources.versioned import (
    CommitConflict,
    VersionedTable,
)


@pytest.fixture()
def table(spark, tmp_path):
    return VersionedTable(str(tmp_path / "tbl"))


def _rows(t, spark, version=None):
    return sorted(
        (r.id, r.v) for r in t.read(spark, version).collect()
    )


def test_overwrite_append_and_time_travel(spark, table):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    assert table.commit(df1) == 0
    df2 = spark.createDataFrame([(3, "c")], "id INT, v STRING")
    assert table.commit(df2, mode="append") == 1
    df3 = spark.createDataFrame([(9, "z")], "id INT, v STRING")
    assert table.commit(df3, mode="overwrite") == 2

    assert _rows(table, spark, 0) == [(1, "a"), (2, "b")]
    assert _rows(table, spark, 1) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(table, spark, 2) == [(9, "z")]
    assert _rows(table, spark) == [(9, "z")]  # head
    assert table.versions() == [0, 1, 2]
    m = table.manifest(1)
    assert m["parent"] == 0 and m["mode"] == "append"


def test_commit_conflict_put_if_absent(spark, table):
    """Two writers racing for the same next version: the loser's
    manifest link must fail, its data dir must be cleaned up, and the
    winner's snapshot must be untouched."""
    df = spark.createDataFrame([(1, "a")], "id INT, v STRING")
    table.commit(df)
    # simulate the race: a second handle reads head=0, then the first
    # handle commits version 1 before it does
    racer = VersionedTable(table.path)
    head_seen = racer.current_version()
    assert head_seen == 0
    table.commit(spark.createDataFrame([(2, "b")], "id INT, v STRING"))

    # racer still believes next=1; force its commit path to collide by
    # monkeypatching current_version to the stale head
    racer.current_version = lambda: head_seen  # type: ignore[method-assign]
    with pytest.raises(CommitConflict):
        racer.commit(spark.createDataFrame([(3, "x")], "id INT, v STRING"))
    # winner's (overwrite) snapshot intact; loser's orphan dir removed
    assert _rows(table, spark) == [(2, "b")]
    assert _rows(table, spark, 0) == [(1, "a")]
    live = {d for v in table.versions() for d in table.manifest(v)["data_dirs"]}
    on_disk = set(os.listdir(os.path.join(table.path, "data")))
    assert on_disk == live


def test_vacuum_keeps_window_and_deletes_orphans(spark, table):
    for i in range(4):
        table.commit(
            spark.createDataFrame([(i, str(i))], "id INT, v STRING"),
            mode="overwrite",
        )
    deleted = table.vacuum(keep_last=2)
    assert table.versions() == [2, 3]
    assert len(deleted) == 2  # v0 and v1 data dirs gone
    assert _rows(table, spark, 2) == [(2, "2")]
    assert _rows(table, spark, 3) == [(3, "3")]
    with pytest.raises(FileNotFoundError):
        table.manifest(0)


def test_vacuum_append_chain_retains_shared_dirs(spark, table):
    """Appends share data dirs across versions — vacuum must keep any
    dir a RETAINED manifest still references, even if it was written
    by a dropped version."""
    table.commit(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    for i in range(2, 5):
        table.commit(
            spark.createDataFrame([(i, "x")], "id INT, v STRING"),
            mode="append",
        )
    table.vacuum(keep_last=1)
    # head (v3) references all four dirs incl. v0's — all must survive
    assert _rows(table, spark) == [(1, "a"), (2, "x"), (3, "x"), (4, "x")]


def test_streaming_append_commits_per_batch(spark, tmp_path):
    """availableNow stream over multi-batch input → one append commit
    per non-empty micro-batch; the head snapshot equals the full batch
    input and intermediate versions time-travel."""
    import json as _json
    import os as _os
    import time as _time

    from movie_data_pipeline_spark.streaming import (
        start_versioned_append_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    batches = [[(1, "a"), (2, "b")], [(3, "c")], [(4, "d")]]
    for i, rows in enumerate(batches):
        p = src / f"b{i}.json"
        p.write_text("\n".join(_json.dumps({"id": k, "v": v}) for k, v in rows))
        ts = _time.time() + i
        _os.utime(p, (ts, ts))
    stream = (
        spark.readStream.schema("id INT, v STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    tbl_path = str(tmp_path / "vt")
    q = start_versioned_append_stream(
        stream, tbl_path, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    t = VersionedTable(tbl_path)
    assert t.versions() == [0, 1, 2]
    assert _rows(t, spark) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert _rows(t, spark, 0) == [(1, "a"), (2, "b")]


def test_cdc_round_trip_through_versioned_table(spark, tmp_path):
    """The full change-data loop: commit v0 → apply a change batch
    (MERGE upserts + delete anti-join) → commit v1 → snapshot_diff of
    the two STORED versions recovers exactly the applied change set.
    Ties together versioned storage, the MERGE operator, and the diff
    operator — if any leg drifts, the recovered CDC won't match."""
    from movie_data_pipeline_spark.operators.merge import snapshot_diff, upsert

    t = VersionedTable(str(tmp_path / "cdc"))
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "id INT, name STRING, bal DOUBLE",
    )
    t.commit(v0)

    ups = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", 33.0), (5, "e", 50.0)],  # 2 updates + insert
        "id INT, name STRING, bal DOUBLE",
    )
    deletes = spark.createDataFrame([(4,)], "id INT")
    base = t.read(spark)
    v1 = upsert(base, ups, ["id"]).join(deletes, "id", "left_anti")
    t.commit(v1, mode="overwrite")

    got = {
        (r.id, r.op)
        for r in snapshot_diff(
            t.read(spark, 0), t.read(spark, 1), ["id"]
        ).collect()
    }
    assert got == {(2, "update"), (3, "update"), (5, "insert"), (4, "delete")}
    # id 1 untouched → absent; null→value transition (id 3) is an update


def test_snapshot_diff_null_safety(spark):
    from movie_data_pipeline_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1, None), (2, "x")], "id INT, v STRING")
    new = spark.createDataFrame([(1, None), (2, None)], "id INT, v STRING")
    got = {(r.id, r.op) for r in snapshot_diff(old, new, ["id"]).collect()}
    # null == null must NOT diff; value -> null must
    assert got == {(2, "update")}


def test_delete_where_produces_clean_snapshot(spark, tmp_path):
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b"), (3, "b")], ["k", "v"]))
    v, n = t.delete_where(spark, "v = 'b'")
    assert n == 2
    assert {r.k for r in t.read(spark).collect()} == {1}
    # pre-delete snapshot still time-travelable...
    assert t.read(spark, version=0).count() == 3
    # ...until vacuum retires it (the compliance pair)
    t.vacuum(keep_last=1)
    assert t.versions() == [v]
    assert t.read(spark).count() == 1


def test_delete_where_retains_null_condition_rows(spark, tmp_path):
    """Delta DELETE three-valued logic: rows where the predicate
    evaluates to SQL NULL (here: NULL in the filter column) must be
    RETAINED, not swept up by NOT(condition)."""
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None)], "k INT, v STRING"
        )
    )
    v, n = t.delete_where(spark, "v = 'b'")
    assert n == 1  # only the TRUE row deleted
    assert {r.k for r in t.read(spark).collect()} == {1, 3}


def test_delete_where_without_match_commits_nothing(spark, tmp_path):
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    assert t.delete_where(spark, "k = 999") == (0, 0)
    assert t.versions() == [0]
    assert t.delete_where(spark, "k = 2") == (1, 1)
    assert t.versions() == [0, 1]


def test_compact_rewrites_small_files(spark, tmp_path):
    import glob

    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    for i in range(3):  # 3 append commits → 3 data dirs
        t.commit(
            spark.createDataFrame([(i, i * 10)], ["k", "v"]).repartition(4),
            mode="append" if i else "overwrite",
        )
    before = t.read(spark)
    rows_before = {tuple(r) for r in before.collect()}
    v = t.compact(spark, target_files=1)
    m = t.manifest(v)
    assert len(m["data_dirs"]) == 1
    files = glob.glob(
        str(tmp_path / "t" / "data" / m["data_dirs"][0] / "*.parquet")
    )
    assert len(files) == 1
    assert {tuple(r) for r in t.read(spark).collect()} == rows_before


def test_manifest_meta_table_properties(spark, tmp_path):
    """Table-level properties in the manifest — set on
    commit, inherited by append AND overwrite when meta is None
    (a delete_where/compact/scrub must never drop the pinned rung),
    replaced only by an explicit dict, cleared by an explicit {}."""
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    t.commit(df, meta={"simhash_rung": 2, "owner": "gate"})
    assert t.manifest()["meta"] == {"simhash_rung": 2, "owner": "gate"}

    t.commit(df, mode="append")  # meta=None → inherit
    assert t.manifest()["meta"] == {"simhash_rung": 2, "owner": "gate"}

    t.commit(df, mode="overwrite")  # still inherit on overwrite
    assert t.manifest()["meta"] == {"simhash_rung": 2, "owner": "gate"}

    v_del, _ = t.delete_where(spark, "k = 1")  # rewrite path inherits too
    assert v_del == t.current_version()
    assert t.manifest()["meta"] == {"simhash_rung": 2, "owner": "gate"}

    t.commit(df, meta={"simhash_rung": 3})  # explicit replace
    assert t.manifest()["meta"] == {"simhash_rung": 3}

    t.commit(df, meta={})  # explicit clear
    assert t.manifest()["meta"] == {}
    # pre-meta manifests: absent key reads as {} via .get default
    assert t.manifest(0).get("meta", {}) == {
        "simhash_rung": 2, "owner": "gate"
    }
