"""Distributed prefix-sum / global-rank operator vs single-partition
window references (the semantics it exists to replace at scale)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.prefix import (
    attach_global_row_number,
    attach_running_sums,
    ntile_from_row_number,
)
from movie_data_pipeline_spark.operators.util import query_scope

pytestmark = pytest.mark.usefixtures("_scoped")


@pytest.fixture(scope="module")
def frame(spark):
    rng = random.Random(7)
    rows = [
        (i, rng.randint(0, 50), rng.random() * 10)
        for i in rng.sample(range(100_000), 2_000)
    ]
    with query_scope():
        yield (
            spark.createDataFrame(rows, "id long, grp long, val double")
            .repartition(13)
            .localCheckpoint(eager=True)
        )


def test_running_sums_match_global_window(frame):
    res, n = attach_running_sums(
        frame,
        ["id"],
        {"cum_val": F.col("val"), "cum_n": F.lit(1).cast("long")},
        partitions=8,
    )
    assert n == 2_000
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    ref = frame.select(
        "id",
        F.sum("val").over(w).alias("cum_val"),
        F.count("*").over(w).alias("cum_n"),
    )
    got = {r["id"]: (r["cum_val"], r["cum_n"]) for r in res.collect()}
    for r in ref.collect():
        assert got[r["id"]][0] == pytest.approx(r["cum_val"], abs=1e-9)
        assert got[r["id"]][1] == r["cum_n"]


def test_running_sums_keeps_all_columns(frame):
    res, _ = attach_running_sums(frame, ["id"], {"c": F.col("val")})
    assert set(res.columns) == {"id", "grp", "val", "c"}


def test_empty_frame(spark):
    empty = spark.createDataFrame([], "id long, val double")
    res, n = attach_running_sums(empty, ["id"], {"c": F.col("val")})
    assert n == 0
    assert res.count() == 0


@pytest.mark.parametrize("k", [1, 4, 5, 7, 1_999, 2_000, 3_000])
def test_ntile_matches_builtin(frame, k):
    # Descending first key + tie-break, the q93 shape.
    ranked, n = attach_global_row_number(
        frame, [F.col("grp").desc(), "id"], "rn", partitions=8
    )
    mine = {
        r["id"]: r["b"]
        for r in ranked.select(
            "id", ntile_from_row_number(F.col("rn"), n, k).alias("b")
        ).collect()
    }
    w = Window.orderBy(F.col("grp").desc(), "id")
    ref = frame.select("id", F.ntile(k).over(w).alias("b"))
    for r in ref.collect():
        assert mine[r["id"]] == r["b"], (k, r["id"])


def test_row_number_is_dense_and_unique(frame):
    ranked, n = attach_global_row_number(frame, ["id"], "rn", partitions=8)
    rns = sorted(r["rn"] for r in ranked.select("rn").collect())
    assert rns == list(range(1, n + 1))


def test_running_sum_null_semantics_match_sql_window(spark):
    """SQL running-SUM nullability: NULL only while the whole inclusive
    prefix is null; a null value AFTER non-null carries must yield the
    carry (this is exactly the partition-head case the offset join must
    get right)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.prefix import attach_running_sums

    rows = [(1, None), (2, None), (3, 5.0), (4, None), (5, 2.0), (6, None)]
    df = spark.createDataFrame(rows, "k INT, v DOUBLE")
    got, n = attach_running_sums(df, ["k"], {"rs": F.col("v")}, partitions=3)
    assert n == 6
    want = {
        r.k: r.rs
        for r in df.withColumn(
            "rs",
            F.sum("v").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).collect()
    }
    assert {r.k: r.rs for r in got.collect()} == want
    assert want[1] is None and want[4] == 5.0  # the two tricky cases


def test_randomized_prefix_equivalence_vs_global_window(spark):
    """Randomized cross-check: on arbitrary frames (duplicate order
    keys broken by a tiebreak, nulls, negatives, floats), the
    distributed running sum and global row number must equal the
    single-partition window spelling exactly."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.prefix import (
        attach_global_row_number,
        attach_running_sums,
    )

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        rows = [
            (
                i,
                rng.randint(0, 5),  # heavy duplicate order keys
                None if rng.random() < 0.3 else rng.uniform(-10, 10),
            )
            for i in range(rng.randint(40, 120))
        ]
        df = spark.createDataFrame(rows, "id INT, k INT, v DOUBLE")
        order = [F.col("k"), F.col("id")]
        got_rs, n = attach_running_sums(
            df, order, {"rs": F.col("v")}, partitions=5
        )
        got_rn, _ = attach_global_row_number(df, order, "rn", partitions=5)
        w = Window.orderBy("k", "id")
        want = df.select(
            "id",
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("rs"),
            F.row_number().over(w).cast("long").alias("rn"),
        ).collect()
        want_rs = {r.id: r.rs for r in want}
        want_rn = {r.id: r.rn for r in want}
        assert n == len(rows)
        # doubles: the distributed form adds (local + carried offset) —
        # a different association than the sequential fold, so last-ulp
        # drift is expected and allowed; NULL positions must agree
        # exactly. Bit-stable running sums require exact types (longs /
        # decimals — what every catalog query feeds through here).
        got = {r.id: r.rs for r in got_rs.collect()}
        assert got.keys() == want_rs.keys()
        for i, w_v in want_rs.items():
            g_v = got[i]
            if w_v is None or g_v is None:
                assert g_v == w_v, f"seed {seed} id {i}"
            else:
                assert abs(g_v - w_v) <= 1e-9 * max(1.0, abs(w_v)), (
                    f"seed {seed} id {i}"
                )
        assert {r.id: r.rn for r in got_rn.collect()} == want_rn, f"seed {seed}"
        # exact types ARE bit-stable: same frames with v cast to long
        got_l, _ = attach_running_sums(
            df.withColumn("v", (F.col("v") * 100).cast("long")),
            order,
            {"rs": F.col("v")},
            partitions=5,
        )
        want_l = {
            r.id: r.rs
            for r in df.withColumn("v", (F.col("v") * 100).cast("long"))
            .select(
                "id",
                F.sum("v")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .alias("rs"),
            )
            .collect()
        }
        assert {r.id: r.rs for r in got_l.collect()} == want_l, f"seed {seed}"
