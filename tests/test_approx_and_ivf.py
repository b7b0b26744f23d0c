"""Error-bound tests for the approximate operators: sketches are not
hash-comparable across engines, so the contract asserted here is the
estimator's guarantee versus the exact answer on the same data."""

from __future__ import annotations

import decimal
import struct

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.approx import (
    approx_distinct,
    approx_quantiles,
    frequent_items,
)
from movie_data_pipeline_spark.functions.numeric import round4
from movie_data_pipeline_spark.operators.index_lifecycle import (
    ivf_layout,
    stored_ivf_codebook,
)
from movie_data_pipeline_spark.operators.similarity import (
    _assign_cells,
    _sql_double,
    assign_to_centroids,
    cell_centroids,
    cosine,
    cosine_topk,
    cosine_topk_ivf,
    ivf_assign,
    mean_vectors,
    nearest_cells,
)
from movie_data_pipeline_spark.operators.util import query_scope
from movie_data_pipeline_spark.sources.registry import load_table
from movie_data_pipeline_spark.sources.versioned import VersionedTable
from tests.conftest import TESTDATA_SF_DIR

pytestmark = pytest.mark.usefixtures("_scoped")


def test_approx_distinct_within_bounds(spark):
    orders = load_table(spark, TESTDATA_SF_DIR, "orders")
    approx = {
        r.o_orderstatus: r.approx_distinct
        for r in approx_distinct(orders, ["o_orderstatus"], "o_custkey").collect()
    }
    exact = {
        r.o_orderstatus: r.n
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k, n in exact.items():
        # rsd=5% → 6 sigma margin; HLL++ is far tighter in practice
        assert abs(approx[k] - n) <= max(3, 0.30 * n), (k, approx[k], n)


def test_approx_quantiles_rank_error(spark):
    lineitem = load_table(spark, TESTDATA_SF_DIR, "lineitem")
    probs = [0.25, 0.5, 0.75]
    got = approx_quantiles(lineitem, "l_extendedprice", probs, accuracy=10_000)
    n = lineitem.count()
    vals = [r.l_extendedprice for r in lineitem.select("l_extendedprice").collect()]
    vals.sort()
    for p, g in zip(probs, got):
        # value must sit within +-2*n/accuracy ranks of the true quantile
        import bisect

        rank = bisect.bisect_left(vals, g)
        assert abs(rank - p * n) <= max(2, 2 * n / 10_000 + 1), (p, g, rank)


def test_frequent_items_finds_planted_hot_key(spark):
    lineitem = load_table(spark, TESTDATA_SF_DIR, "lineitem")
    # l_returnflag has ~3 values; all are heavy hitters at 1% support
    out = frequent_items(lineitem, ["l_returnflag"], support=0.25).collect()[0]
    freq = set(out[0])
    exact_top = {
        r.l_returnflag
        for r in lineitem.groupBy("l_returnflag").count().orderBy(F.desc("count")).limit(1).collect()
    }
    assert exact_top <= freq  # no false negatives above support


def _planted_clusters(spark, n_centers=8, per_center=40, dim=16):
    """Deterministic clustered vectors: md5-derived centers, tight
    md5-derived noise — real geometric structure, no RNG state."""
    import hashlib

    def unit(tag):
        vals = []
        for j in range(dim):
            h = hashlib.md5(f"{tag}:{j}".encode()).hexdigest()
            vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
        n = sum(v * v for v in vals) ** 0.5
        return [v / n for v in vals]

    rows = []
    vid = 0
    for c in range(n_centers):
        center = unit(f"center:{c}")
        for i in range(per_center):
            noise = unit(f"noise:{c}:{i}")
            vec = [cv + 0.15 * nv for cv, nv in zip(center, noise)]
            rows.append((vid, vec, c))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding", "true_cluster"])


def test_ivf_cell_centroids_match_direct_means(spark):
    emb = _planted_clusters(spark)
    assigned = ivf_assign(emb, n_cells=8)
    cents = {r.cell: r.centroid for r in cell_centroids(assigned).collect()}
    want = {
        r.cell: r.m
        for r in assigned.select(
            "cell", F.col("embedding").getItem(0).cast("double").alias("v0")
        )
        .groupBy("cell")
        .agg(F.avg("v0").alias("m"))
        .collect()
    }
    for cell, m in want.items():
        assert abs(cents[cell][0] - m) < 1e-9


def test_ivf_assign_is_total_and_deterministic(spark):
    emb = _planted_clusters(spark)
    a1 = ivf_assign(emb, n_cells=8)
    assert a1.count() == emb.count()  # every vector lands in exactly one cell
    m1 = {r.vec_id: r.cell for r in a1.collect()}
    m2 = {r.vec_id: r.cell for r in ivf_assign(emb, n_cells=8).collect()}
    assert m1 == m2


def test_ivf_recall_on_clustered_data(spark):
    emb = _planted_clusters(spark)
    queries = emb.orderBy("vec_id").limit(8)
    exact_pairs = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    ivf_pairs = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(emb, queries, k=5, n_cells=8, nprobe=2).collect()
    }
    recall = len(exact_pairs & ivf_pairs) / len(exact_pairs)
    # noise is 0.15 vs unit centers: clusters are tight, so 2 of 8
    # Voronoi cells must recover nearly all true neighbors
    assert recall >= 0.9, recall
    assert all(q != n for q, n in ivf_pairs)


def test_ivf_nprobe_all_cells_is_exact(spark):
    emb = load_table(spark, TESTDATA_SF_DIR, "embeddings")
    queries = emb.orderBy("vec_id").limit(4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(
            emb, queries, k=5, n_cells=6, nprobe=6
        ).collect()
    }
    assert full == exact


def _subtrees(plan: str, marker: str) -> list[str]:
    """The text of every subtree whose root line contains ``marker``."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if marker in line:
            sub = [line]
            for below in lines[i + 1:]:
                if depth(below) <= depth(line):
                    break
                sub.append(below)
            out.append("\n".join(sub))
    return out


def _final_plan(adaptive) -> str:
    """Tree string of the final plan of an executed AdaptiveSparkPlanExec."""
    assert adaptive.toString().startswith("AdaptiveSparkPlan isFinalPlan=true")
    return adaptive.executedPlan().toString()


def _cached_relations(df) -> list:
    """The ``InMemoryRelation`` leaves of ``df``'s plan, one per reader
    of a persisted frame."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    leaves = [leaves.apply(i) for i in range(leaves.length())]
    return [r for r in leaves if r.getClass().getSimpleName() == "InMemoryRelation"]


def test_ivf_argmax_runs_above_the_spread_exchange(spark, tmp_path):
    # one parquet file arrives as one partition, so spread() repartitions
    # it round-robin; the per-vector argmax must run above that exchange
    # (parallel), never in the single-partition scan, and once per call:
    # both readers of the assignment read one cached materialization
    path = str(tmp_path / "emb")
    _planted_clusters(spark).coalesce(1).write.parquet(path)
    emb = spark.read.parquet(path)
    assert emb.rdd.getNumPartitions() == 1
    out = cosine_topk_ivf(emb, emb.orderBy("vec_id").limit(8), k=5)
    out.collect()
    readers = _cached_relations(out)
    assert len(readers) == 2, readers
    builders = {r.cacheBuilder().cachedColumnBuffers().id() for r in readers}
    assert len(builders) == 1, builders
    cached = _final_plan(readers[0].cacheBuilder().cachedPlan())
    assert cached.count("array_max") == 1, cached
    below = _subtrees(cached, "RoundRobinPartitioning")
    assert below, cached
    assert not any("array_max" in sub for sub in below), cached
    outer = _final_plan(out._jdf.queryExecution().executedPlan())
    for sub in _subtrees(outer, "InMemoryRelation"):
        outer = outer.replace(sub, "")
    assert "InMemoryTableScan" in outer and "array_max" not in outer, outer
    assigned = ivf_assign(emb)
    assert assigned.schema["cell"].nullable is False
    assert assigned.columns == emb.columns + ["cell"]


def test_ivf_topk_cache_ends_with_the_query_scope(spark):
    emb = _planted_clusters(spark)
    jsc = spark.sparkContext._jsc
    entry = set(jsc.getPersistentRDDs().keySet().toArray())
    with query_scope():
        cosine_topk_ivf(emb, emb.orderBy("vec_id").limit(4), k=5).collect()
        assert set(jsc.getPersistentRDDs().keySet().toArray()) - entry
    assert set(jsc.getPersistentRDDs().keySet().toArray()) == entry
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _reference_cells(df, codebook, quantize):
    """vec_id -> cell from the inline per-seed argmax: one
    ``cosine(embedding, seed)`` fold per codebook vector."""
    candidates = []
    for i, cvec in enumerate(codebook):
        lit = F.array(*[F.lit(float(v)) for v in cvec])
        sim = cosine(F.col("embedding"), lit)
        sim = round4(sim) if quantize else sim
        candidates.append(F.struct(sim.alias("s"), F.lit(-i).alias("ni")))
    best = (-F.array_max(F.array(*candidates)).getField("ni")).cast("int")
    return {r.vec_id: r.cell for r in df.select("vec_id", best.alias("cell")).collect()}


def test_ivf_cells_match_the_inline_cosine_argmax(spark):
    for emb in (
        _planted_clusters(spark),
        load_table(spark, TESTDATA_SF_DIR, "embeddings"),
    ):
        seeds = [
            r.embedding
            for r in emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(8)
            .collect()
        ]
        got = {r.vec_id: r.cell for r in ivf_assign(emb, n_cells=8).collect()}
        assert got == _reference_cells(emb, seeds, quantize=False)
        cents = [
            r.centroid
            for r in cell_centroids(ivf_assign(emb, n_cells=8))
            .orderBy("cell")
            .collect()
        ]
        got = {r.vec_id: r.cell for r in assign_to_centroids(emb, cents).collect()}
        assert got == _reference_cells(emb, cents, quantize=True)


def test_sql_double_literals_round_trip(spark):
    vals = [1e-05, -0.0, 0.1, 5e-324, 1.7976931348623157e308, -2.5e-300]
    vals += [float("inf"), float("-inf"), float("nan")]
    row = spark.sql(
        "SELECT " + ", ".join(f"{_sql_double(v)} AS c{i}" for i, v in enumerate(vals))
    ).first()
    for v, got in zip(vals, row):
        assert struct.pack(">d", got) == struct.pack(">d", v), (v, got)


def test_compiled_argmax_matches_reference_on_extreme_codebooks(spark):
    emb = _planted_clusters(spark)
    seeds = [
        [float(v) for v in r.embedding]
        for r in emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(6)
        .collect()
    ]
    seeds[0][0], seeds[0][1] = -0.0, 1e-05
    seeds[1] = [v * 1e150 for v in seeds[1]]
    seeds[2] = [v * 1e-160 for v in seeds[2]]  # subnormal squared norm
    seeds[3] = [v * 1e200 for v in seeds[3]]  # squared norm overflows to inf
    seeds[4] = [1e-05] * len(seeds[4])
    for quantize in (False, True):
        got = {
            r.vec_id: r.cell
            for r in _assign_cells(emb, seeds, quantize).select("vec_id", "cell").collect()
        }
        assert got == _reference_cells(emb, seeds, quantize)
        assert len(set(got.values())) > 1


@pytest.mark.parametrize("keys", [["g"], ["g", "h"]])
@pytest.mark.parametrize("dec", ["decimal(30,6)", "decimal(38,18)"])
def test_mean_vectors_are_exact_decimal_means(spark, keys, dec):
    # 1.5e-7 and 2.5e-7 sit on the decimal(30,6) rounding boundary;
    # thirds carry more digits than either scale keeps
    rows = [
        (0, 0, [0.1234567, -1.5e-07, 1.0 / 3.0]),
        (0, 1, [2.5e-07, 7.0, -2.0 / 3.0]),
        (0, 1, [1e-18, 0.3, 5.5]),
        (1, 0, [-4.25, 1.0 / 7.0, 1e6 + 0.1]),
    ]
    df = spark.createDataFrame(rows, "g INT, h INT, vec ARRAY<DOUBLE>")
    scale = int(dec.rstrip(")").split(",")[1])
    quantum = decimal.Decimal(1).scaleb(-scale)
    groups: dict[tuple, list] = {}
    for g, h, vec in rows:
        groups.setdefault((g, h)[: len(keys)], []).append(vec)
    with decimal.localcontext() as ctx:
        ctx.prec = 60
        want = {
            key: [
                float(
                    sum(
                        decimal.Decimal(repr(v[d])).quantize(
                            quantum, rounding=decimal.ROUND_HALF_UP
                        )
                        for v in vecs
                    )
                )
                / len(vecs)
                for d in range(3)
            ]
            for key, vecs in groups.items()
        }
    got = {
        tuple(r[k] for k in keys): list(r.centroid)
        for r in mean_vectors(df, keys, "vec", dec).collect()
    }
    assert got == want


def test_nearest_cells_ties_go_to_the_lower_cell(spark):
    # cell 7's raw cosine (1.0) beats cell 3's (0.9999995), but both
    # quantize to 1.0, so the lower cell ranks first
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0], 1.0)], "query_id INT, qv ARRAY<DOUBLE>, qn DOUBLE"
    )
    book = spark.createDataFrame(
        [(7, [1.0, 0.0]), (3, [1.0, 0.001]), (1, [0.0, 1.0])],
        "cell INT, centroid ARRAY<DOUBLE>",
    )

    def ranks(nprobe):
        return {
            r.cell: r.cell_rank
            for r in nearest_cells(queries, book, nprobe).collect()
        }

    assert ranks(1) == {3: 1}
    assert ranks(2) == {3: 1, 7: 2}
    assert nearest_cells(queries, book, 1).columns == [
        "query_id", "qv", "qn", "cell", "cell_rank"
    ]


def test_ivf_codebook_meta_round_trips(spark, tmp_path):
    # 12 sorts after 5 as a cell, before it as a string key
    codebook = {5: [0.5, -1.25], 0: [1.0, 2.0], 12: [3.0, 0.1]}
    index = VersionedTable(str(tmp_path / "ivf"))
    index.commit(
        spark.createDataFrame([(1, 0)], "vec_id LONG, cell INT"),
        meta=ivf_layout(codebook),
    )
    assert index.manifest(0)["meta"]["n_cells"] == 3
    frame = stored_ivf_codebook(spark, index, 0)
    assert frame.schema.simpleString() == "struct<cell:int,centroid:array<double>>"
    assert [(r.cell, list(r.centroid)) for r in frame.collect()] == sorted(
        codebook.items()
    )
