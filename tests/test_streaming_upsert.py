"""foreachBatch incremental-upsert sink: per-batch MERGE semantics and
the end-to-end streaming run against the batch twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.streaming import (
    hourly_event_stats_stream,
    start_upsert_stream,
    stream_events,
    upsert_batch_writer,
)
from tests.conftest import TESTDATA_SF_DIR

pytestmark = pytest.mark.usefixtures("_scoped")


def _read_table(spark, path):
    return {
        tuple(r[k] for k in ("k",)) + (r["v"],)
        for r in spark.read.parquet(path).collect()
    }


def test_batch_writer_creates_then_merges(spark, tmp_path):
    path = str(tmp_path / "tbl")
    writer = upsert_batch_writer(path, keys=["k"])

    writer(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), 0)
    assert _read_table(spark, path) == {(1, "a"), (2, "b")}

    # batch 1 updates key 2, inserts key 3; key 1 must survive untouched
    writer(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]), 1)
    assert _read_table(spark, path) == {(1, "a"), (2, "B"), (3, "c")}

    # replaying the same batch is a no-op (idempotent effects)
    writer(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]), 1)
    assert _read_table(spark, path) == {(1, "a"), (2, "B"), (3, "c")}


def test_upsert_stream_maintains_hourly_table(spark, tmp_path):
    path = str(tmp_path / "hourly_tbl")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_events(spark, TESTDATA_SF_DIR)
    agg = hourly_event_stats_stream(stream)
    q = start_upsert_stream(agg, path, ckpt, keys=["ts_hour"])
    q.awaitTermination(120)

    got = {
        r["ts_hour"]: r["n_events"]
        for r in spark.read.parquet(path).collect()
    }
    # Batch twin: same aggregate over the batch loader.
    from movie_data_pipeline_spark.plans import REGISTRY

    want = {
        r["ts_hour"]: r["n_events"]
        for r in REGISTRY["q13_hourly_event_stats"]
        .build(spark, TESTDATA_SF_DIR)
        .collect()
    }
    assert got == want
