"""The benchmark workloads and the traced probes.

Each workload is a closed loop with one client: one process, one
SparkSession, each call issued only after the previous one returned.
``steps()`` is the workload's call sequence; it yields ``(kind,
seconds)`` after each timed step (``build`` and ``query`` for the
workloads), and the runner pulls steps for the warm-up and the measured
window. Every call goes through ``Ctx.call`` so it is counted
(``attempted``/``failed``) and, when the tracer is on, wrapped in a span.
Output checks run after the window, outside timing.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import pyarrow.parquet as pq

import checks
import gen
from tracing import StatusStore, Tracer, median

from movie_data_pipeline_spark.operators import dedup as dedup_ops
from movie_data_pipeline_spark.operators import similarity as sim_ops
from movie_data_pipeline_spark.pipeline.enrichment import enrich_movies
from movie_data_pipeline_spark.pipeline.movies_etl import (
    WAREHOUSE_TABLES,
    build_warehouse,
    transform_movies,
    write_warehouse,
)
from movie_data_pipeline_spark.pipeline.queries import (
    WAREHOUSE_ORACLE_SQL,
    WAREHOUSE_QUERY_NAMES,
    run_warehouse_query,
)
from movie_data_pipeline_spark.plans import REGISTRY
from movie_data_pipeline_spark.sources import movielens
from movie_data_pipeline_spark.sources.versioned import VersionedTable
from movie_data_pipeline_spark.streaming.sinks import dedup_gate_batch_writer

LSH_BANDS = dedup_ops.NUM_HASHES // dedup_ops.LSH_BAND_ROWS
GATE_BUCKETS = 8
CATALOG_SAMPLE = (
    "q16_pricing_summary",
    "q108_trailing_distinct_users",
    "q103_pagerank_trade_graph",
    "q268_repeated_passages",
    "q254_kmv_overlap_estimates",
)


class CallFailed(RuntimeError):
    """A layer call raised; the run is abandoned."""


class Ctx:
    """Run state shared by a workload: session, scratch dir, counters."""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.max_persistent_rdds = 0

    def call(self, name: str, fn, *args, **kwargs):
        """Run one layer call, then ``clearCache()`` as a long-lived session
        would between calls. In the traced run, the RDDs still persisted
        after that ``clearCache()`` are the call's leaks."""
        self.attempted += 1
        with self.tracer.span(name):
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:  # noqa: BLE001 - counted and reported
                self.failed += 1
                self.failures.append(f"{name}: {exc!r}"[:300])
                traceback.print_exc(file=sys.stderr)
                raise CallFailed(name) from exc
        self.spark.catalog.clearCache()
        if self.traced:
            with self.tracer.bookkeeping():
                n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            self.max_persistent_rdds = max(self.max_persistent_rdds, n)
        return out

    def check(self, name: str, problem: str | None) -> None:
        """Record one output check; ``problem`` is None when it passed."""
        if problem is not None:
            self.failed += 1
            self.failures.append(f"check {name}: {problem}"[:300])

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# warehouse_etl
# ---------------------------------------------------------------------------
class WarehouseEtl:
    """Full-refresh load of the 4-table warehouse (build), then one pass of
    the 7 documented queries over the loaded parquet (query), repeated."""

    name = "warehouse_etl"
    # The paper's dataset, MovieLens ml-latest-small: 9742 movies, 100836
    # ratings by 610 users.
    sizes = {"n_movies": 9742, "n_ratings": 100836, "n_users": 610}
    cycle = {"build": 1, "query": 1}  # the steps of one cycle
    # Steps run before any measurement: the first, cold cycle (class
    # loading, code generation) costs about twice a warm one.
    warmup = {"build": 1, "query": 1}

    def __init__(self, ctx: Ctx, sizes: dict | None = None) -> None:
        self.ctx = ctx
        self.inp = os.path.join(ctx.work, "input")
        self.out = os.path.join(ctx.work, "warehouse")
        self.sizes = sizes or self.sizes
        self.results: dict = {}  # the last query pass, checked after the window
        self.query_ms: dict[str, list[float]] = {q: [] for q in WAREHOUSE_QUERY_NAMES}
        self.query_pass: list[dict[str, float]] = []
        self.write_files: list[float] = []

    def generate(self) -> None:
        self.truth = gen.gen_warehouse(self.inp, self.ctx.seed, **self.sizes)
        self.input_bytes = checks.dir_bytes(self.inp)

    def _sources(self):
        spark = self.ctx.spark
        return (
            movielens.read_movies(spark, self.inp),
            movielens.read_ratings(spark, self.inp),
            movielens.read_links(spark, self.inp),
            spark.read.parquet(os.path.join(self.inp, "enrichment.parquet")),
        )

    def load(self) -> None:
        movies, ratings, links, enrichment = self._sources()
        wh, _missing = build_warehouse(self.ctx.spark, movies, ratings, links, enrichment=enrichment)
        write_warehouse(wh, self.out)

    def steps(self):
        ctx, spark = self.ctx, self.ctx.spark
        while True:
            t0 = time.perf_counter()
            ctx.call("pipeline.movies_etl.write_warehouse", self.load)
            yield "build", time.perf_counter() - t0
            if ctx.traced:
                self.write_files.append(len(checks.parquet_files(self.out)))
            t1, t1_ms = time.perf_counter(), time.time() * 1000.0
            self._register_views()
            planning_ms = 0.0
            for q in WAREHOUSE_QUERY_NAMES:
                tq = time.perf_counter()
                df = run_warehouse_query(spark, q)
                self.results[q] = ctx.call(f"pipeline.queries.{q}", df.toPandas)
                if ctx.traced:
                    self.query_ms[q].append((time.perf_counter() - tq) * 1000.0)
                    with ctx.tracer.bookkeeping():
                        planning_ms += _planning_ms(spark, df)
            elapsed = time.perf_counter() - t1
            if ctx.traced:
                self.query_pass.append({"planning_ms": planning_ms, "start_ms": t1_ms, "end_ms": time.time() * 1000.0})
            yield "query", elapsed

    def _register_views(self) -> None:
        for t in WAREHOUSE_TABLES:
            self.ctx.spark.read.parquet(os.path.join(self.out, t)).createOrReplaceTempView(t)

    def check(self) -> None:
        """Row counts against the generator and the last query pass against
        DuckDB over the written parquet (every load writes the same data)."""
        ctx = self.ctx
        views = {t: os.path.join(self.out, t) for t in WAREHOUSE_TABLES}
        con = checks.duck_views(views)
        for t in WAREHOUSE_TABLES:
            n = con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
            ctx.check(f"rows.{t}", None if n == self.truth[t] else f"{n} rows, generator says {self.truth[t]}")
        for q in WAREHOUSE_QUERY_NAMES:
            ctx.check(f"duckdb.{q}", checks.same_result(self.results[q], con.execute(WAREHOUSE_ORACLE_SQL[q]).df()))
        matched = con.execute("SELECT COUNT(*) FROM movies WHERE imdb_id IS NOT NULL").fetchone()[0]
        ctx.check("enrichment.matched", None if matched == self.truth["matched"] else f"{matched} != {self.truth['matched']}")
        self.matched = matched
        self.stored_bytes = checks.dir_bytes(self.out)
        con.close()

    def probes(self, store_fn) -> dict[str, float]:
        """Force each public stage through a ``noop`` sink; self time of a
        stage is its time minus the stages it reads."""
        ctx = self.ctx

        def timed(name, df_fn):
            t = time.perf_counter()
            ctx.call(f"probe.{name}", lambda: ctx.noop(df_fn()))
            return time.perf_counter() - t

        movies, ratings, links, enrichment = self._sources()
        t_movies = timed("read_movies", lambda: movies)
        t_ratings = timed("read_ratings", lambda: ratings)
        t_links = timed("read_links", lambda: links)
        t_enrich_in = timed("read_enrichment", lambda: enrichment)
        t_transform = timed("transform_movies", lambda: transform_movies(movies))
        t_enriched = timed("enrich_movies", lambda: enrich_movies(transform_movies(movies), links, enrichment)[0])
        store = store_fn()
        reads = [s for n in ("read_movies", "read_ratings", "read_links") for s in ctx.tracer.named(f"probe.{n}")]
        read_stats = [store.stats(s.start_ms, s.end_ms) for s in reads]
        return {
            "sources.movielens.read.wall_s": t_movies + t_ratings + t_links,
            "sources.movielens.read.jobs": sum(r["jobs"] for r in read_stats),
            "sources.movielens.read.task_cpu_s": sum(r["task_cpu_s"] for r in read_stats),
            "pipeline.movies_etl.transform_movies.self_s": t_transform - t_movies,
            "pipeline.enrichment.enrich_movies.self_s": t_enriched - t_transform - t_links - t_enrich_in,
            "pipeline.enrichment.match_ratio": self.matched / self.truth["api_budget"],
        }

    def layers(self, store: StatusStore) -> dict[str, float]:
        tr = self.ctx.tracer
        out = {}
        w = store.span_stats(tr.named("pipeline.movies_etl.write_warehouse"))
        for k in ("wall_s", "jobs", "job_busy_s", "no_job_s", "task_cpu_s", "shuffle_mb"):
            out[f"pipeline.movies_etl.write_warehouse.{k}"] = w[k]
        out["pipeline.movies_etl.write_warehouse.files_written"] = median(self.write_files)
        out["pipeline.movies_etl.write_warehouse.bytes_written_mb"] = self.stored_bytes / 1e6
        out["pipeline.movies_etl.stored_bytes_per_input_byte"] = self.stored_bytes / self.input_bytes
        for q, ms in self.query_ms.items():
            out[f"pipeline.queries.{q}.wall_ms"] = median(ms)
        per_pass = []
        for qp in self.query_pass:
            st = store.stats(qp["start_ms"], qp["end_ms"])
            per_pass.append((st["jobs"], st["no_job_s"], qp["planning_ms"]))
        out["pipeline.queries.jobs"] = median([p[0] for p in per_pass])
        out["pipeline.queries.no_job_s"] = median([p[1] for p in per_pass])
        out["pipeline.queries.planning_ms"] = median([p[2] for p in per_pass])
        return out


def _planning_ms(spark, df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    phases = conv.asJava(df._jdf.queryExecution().tracker().phases())
    return float(sum(phases.get(k).durationMs() for k in phases.keySet()))


# ---------------------------------------------------------------------------
# ingest_gate
# ---------------------------------------------------------------------------
class IngestGate:
    """Micro-batches through the bucketed near-duplicate gate into one
    growing pair of VersionedTables. A cycle: one batch (write); a
    snapshot read of the accepted table (read); a redelivery of the batch
    under its batch id, an at-least-once replay that must commit nothing
    (replay); compaction, vacuum and a time-travel read of the
    pre-compaction version (maint).

    It runs as a probe of every traced run rather than as a workload: its
    cold first batch alone costs more than a whole warehouse cycle, and
    repeated batches vary too much between runs to bound."""

    name = "ingest_gate"
    sizes = {"n_batches": 2, "batch_size": 200}
    # The steps a traced run takes: one cycle, then the second batch, the
    # first to meet a non-empty index (the corpus-check join) and planted
    # cross-batch duplicates.
    probe = {"write": 2, "read": 1, "replay": 1, "maint": 1}

    def __init__(self, ctx: Ctx, sizes: dict | None = None) -> None:
        self.ctx = ctx
        self.inp = os.path.join(ctx.work, "batches")
        self.acc_path = os.path.join(ctx.work, "gate", "accepted")
        self.idx_path = os.path.join(ctx.work, "gate", "index")
        self.sizes = sizes or self.sizes
        self.ingested = 0
        self.batch_counts: list[dict[str, float]] = []
        self.head_dirs: list[float] = []
        self.maint: list[dict[str, float]] = []

    def generate(self) -> None:
        self.truth = gen.gen_gate_batches(self.inp, self.ctx.seed, **self.sizes)

    def steps(self):
        ctx, spark = self.ctx, self.ctx.spark
        acc, idx = VersionedTable(self.acc_path), VersionedTable(self.idx_path)
        writer = dedup_gate_batch_writer(self.acc_path, self.idx_path, index_bucket_k=GATE_BUCKETS)
        for b, path in enumerate(self.truth["batches"]):
            before = _heads(acc, idx)
            t = time.perf_counter()
            df = spark.read.parquet(path)
            ctx.call("streaming.sinks.dedup_gate.batch", writer, df, b)
            elapsed = time.perf_counter() - t
            self.ingested = b + 1
            yield "write", elapsed
            self.batch_counts.append(_commit_counts(acc, idx, before, self.truth["batch_rows"][b]))
            t = time.perf_counter()
            ctx.call("sources.versioned.head_read", lambda: acc.read(spark).count())
            yield "read", time.perf_counter() - t
            before = _heads(acc, idx)
            t = time.perf_counter()
            ctx.call("streaming.sinks.dedup_gate.replay", writer, df, b)
            elapsed = time.perf_counter() - t
            after = _heads(acc, idx)
            ctx.check(f"replay.{b}.commits_nothing", None if after == before else "replay published a new version")
            yield "replay", elapsed
            yield "maint", self._maintain(acc, idx)
        print(f"perfbench: ingest_gate ran out of its {self.ingested} generated batches", file=sys.stderr)

    def _maintain(self, acc: VersionedTable, idx: VersionedTable) -> float:
        """compact + vacuum + a time-travel read of the pre-compaction head;
        returns the seconds of those three calls."""
        ctx, spark = self.ctx, self.ctx.spark
        pre_version = acc.current_version()
        pre_dirs = {p: set(_dirs(tab)) for p, tab in (("acc", acc), ("idx", idx))}
        self.head_dirs.append(float(len(idx.manifest()["data_dirs"])))
        t = time.perf_counter()
        ctx.call("sources.versioned.compact", lambda: (acc.compact(spark), idx.compact(spark)))
        t_c = time.perf_counter()
        removed = ctx.call("sources.versioned.vacuum", lambda: acc.vacuum(2) + idx.vacuum(2))
        t_v = time.perf_counter()
        tt_rows = ctx.call("sources.versioned.read", lambda: acc.read(spark, pre_version).count())
        t_r = time.perf_counter()
        head_rows = acc.read(spark).count()
        ctx.check("time_travel.rows", None if tt_rows == head_rows else f"{tt_rows} rows at v{pre_version} != {head_rows} at head")
        rewritten = sum(
            checks.dir_bytes(os.path.join(tab.path, "data", d))
            for p, tab in (("acc", acc), ("idx", idx))
            for d in set(_dirs(tab)) - pre_dirs[p]
        )
        self.maint.append(
            {
                "compact": t_c - t,
                "vacuum": t_v - t_c,
                "read": t_r - t_v,
                "total": t_r - t,
                "rewritten_mb": rewritten / 1e6,
                "removed": len(removed),
            }
        )
        return t_r - t

    def check(self) -> None:
        ctx, spark = self.ctx, self.ctx.spark
        accepted = VersionedTable(self.acc_path).read(spark)
        rows = accepted.select("doc_id").toPandas()["doc_id"]
        n_acc = len(rows)
        ctx.check("accepted.unique_ids", None if rows.is_unique else "duplicate doc_id in accepted table")
        n = self.ingested
        planted = {d for b in range(n) for d in self.truth["planted_dups"][b]}
        dups = planted & set(rows.tolist())
        ctx.check("accepted.planted_dups_rejected", None if not dups else f"{len(dups)} planted duplicates accepted")
        unique = sum(self.truth["unique_per_batch"][:n])
        ctx.check("accepted.count", None if 0.99 * unique <= n_acc <= unique else f"{n_acc} accepted of {unique} unique docs")
        n_idx = VersionedTable(self.idx_path).read(spark).count()
        ctx.check("index.rows", None if n_idx == n_acc * LSH_BANDS else f"{n_idx} index rows != {n_acc} x {LSH_BANDS}")
        self.text_bytes = accepted.selectExpr("sum(octet_length(text))").first()[0]
        self.stored_bytes = checks.dir_bytes(self.acc_path) + checks.dir_bytes(self.idx_path)

    def layers(self, store: StatusStore) -> dict[str, float]:
        tr = self.ctx.tracer
        out = {}
        b = store.span_stats(tr.named("streaming.sinks.dedup_gate.batch"))
        for k in ("wall_s", "jobs", "job_busy_s", "no_job_s", "task_cpu_s"):
            out[f"streaming.sinks.dedup_gate.batch.{k}"] = b[k]
        for k in ("rows_in", "rows_committed", "accept_ratio"):
            out[f"streaming.sinks.dedup_gate.batch.{k}"] = median([c[k] for c in self.batch_counts])
        out["sources.versioned.commits_per_batch"] = median([c["commits"] for c in self.batch_counts])
        out["sources.versioned.files_per_commit"] = median([c["files_per_commit"] for c in self.batch_counts])
        out["sources.versioned.bytes_per_commit_mb"] = median([c["bytes_per_commit_mb"] for c in self.batch_counts])
        r = store.span_stats(tr.named("streaming.sinks.dedup_gate.replay"))
        for k in ("wall_s", "jobs", "no_job_s"):
            out[f"streaming.sinks.dedup_gate.replay.{k}"] = r[k]
        out["sources.versioned.head_data_dirs"] = max(self.head_dirs)
        for k in ("compact", "vacuum", "read"):
            out[f"sources.versioned.{k}.wall_s"] = median([m[k] for m in self.maint])
        out["sources.versioned.compact.bytes_rewritten_mb"] = median([m["rewritten_mb"] for m in self.maint])
        out["sources.versioned.vacuum.dirs_removed"] = median([m["removed"] for m in self.maint])
        out["sources.versioned.stored_bytes_per_input_byte"] = self.stored_bytes / self.text_bytes
        out["workload.maintenance_s"] = median([m["total"] for m in self.maint])
        return out


def _heads(*tables: VersionedTable) -> tuple:
    return tuple(t.current_version() for t in tables)


def _dirs(table: VersionedTable) -> list[str]:
    if table.current_version() is None:
        return []
    return [VersionedTable._entry_dir(e) for e in table.manifest()["data_dirs"]]


def _commit_counts(acc: VersionedTable, idx: VersionedTable, before: tuple, rows_in: int) -> dict[str, float]:
    """What one gate batch published, read from manifests and parquet
    footers (no Spark job)."""
    commits, files, nbytes, committed = 0, 0, 0, 0
    for table, head in zip((acc, idx), before):
        now = table.current_version()
        if now is None or now == head:
            continue
        commits += now - (head if head is not None else -1)
        old = set() if head is None else {VersionedTable._entry_dir(e) for e in table.manifest(head)["data_dirs"]}
        for d in set(_dirs(table)) - old:
            paths = checks.parquet_files(os.path.join(table.path, "data", d))
            files += len(paths)
            nbytes += sum(os.path.getsize(p) for p in paths)
            if table is acc:
                committed += sum(pq.read_metadata(p).num_rows for p in paths)
    return {
        "rows_in": float(rows_in),
        "rows_committed": float(committed),
        "accept_ratio": committed / rows_in,
        "commits": float(commits),
        "files_per_commit": files / max(1, commits),
        "bytes_per_commit_mb": nbytes / max(1, commits) / 1e6,
    }


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------
class CorpusDedup:
    """Batch curation of a seeded corpus with planted near-duplicates: the
    near-duplicate candidate set, built by minhash-LSH plus exact-copy
    grouping (build), then top-10 cosine queries against a seeded
    embedding table through the IVF index (query), repeated. The simhash
    and ppjoin pair searches run once, as probes of the traced run, on a
    third of the corpus."""

    name = "corpus_dedup"
    # One warm cycle takes about 8 s of wall time on a 4-vCPU virtual
    # machine (build 3 s, IVF query 5 s), so set-up, a warm-up cycle and
    # two measured cycles fit in about 50 s.
    sizes = {"n_docs": 3000, "n_pairs": 150, "n_exact": 50, "n_vectors": 10000, "n_queries": 20}
    cycle = {"build": 1, "query": 1}
    warmup = {"build": 1, "query": 1}

    def __init__(self, ctx: Ctx, sizes: dict | None = None) -> None:
        self.ctx = ctx
        self.inp = os.path.join(ctx.work, "corpus")
        self.sizes = sizes or self.sizes

    def generate(self) -> None:
        self.truth = gen.gen_corpus(self.inp, self.ctx.seed, **self.sizes)
        self.exact_top = gen.exact_topk(self.truth["vectors"], self.truth["queries"], 10)

    def _read(self, name: str):
        return self.ctx.spark.read.parquet(os.path.join(self.inp, f"{name}.parquet"))

    def steps(self):
        ctx = self.ctx
        while True:
            t = time.perf_counter()
            docs = self._read("docs")
            self.exact = ctx.call(
                "operators.dedup.exact_duplicates",
                lambda: dedup_ops.exact_duplicates(docs).filter("n_copies > 1").collect(),
            )
            self.cands = ctx.call(
                "operators.dedup.minhash_lsh",
                lambda: dedup_ops.lsh_candidate_pairs_wide(dedup_ops.minhash_signatures_wide(docs)).collect(),
            )
            yield "build", time.perf_counter() - t
            t = time.perf_counter()
            vecs = self._read("vectors")
            queries = vecs.filter(vecs.vec_id.isin(self.truth["queries"]))
            self.ivf = ctx.call(
                "operators.similarity.cosine_topk_ivf", lambda: sim_ops.cosine_topk_ivf(vecs, queries, k=10).collect()
            )
            yield "query", time.perf_counter() - t

    def _pairs(self, rows) -> set[tuple[int, int]]:
        return {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)) for r in rows}

    def check(self) -> None:
        ctx, truth = self.ctx, self.truth
        n_exact = len(truth["exact_pairs"])
        ctx.check("exact_duplicates.groups", None if len(self.exact) == n_exact else f"{len(self.exact)} groups != {n_exact}")
        missing = {(a, b) for a, b, _ in truth["exact_pairs"]} - self._pairs(self.cands)
        ctx.check("lsh.exact_pairs_found", None if not missing else f"{len(missing)} exact copies missed")
        got: dict[int, set] = {}
        for r in self.ivf:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        short = [q for q in truth["queries"] if len(got.get(q, ())) != 10 or q in got[q]]
        ctx.check("ivf.ten_neighbours", None if not short else f"{len(short)} queries without 10 other neighbours")
        self.recall_at_10 = sum(len(got.get(q, set()) & set(nb)) / 10 for q, nb in self.exact_top.items()) / len(
            self.exact_top
        )

    def probes(self) -> dict[str, float]:
        """One simhash and one ppjoin pair search over the documents with
        the first ``PAIR_PROBE_DOCS`` ids; ppjoin is checked against the
        planted pairs' true Jaccard similarity."""
        ctx, truth = self.ctx, self.truth
        docs = self._read("docs").filter(f"doc_id < {PAIR_PROBE_DOCS}")
        simpairs = ctx.call(
            "operators.dedup.simhash_pairs", lambda: dedup_ops.simhash_hamming_pairs(dedup_ops.simhash(docs)).collect()
        )
        pp = ctx.call(
            "operators.dedup.ppjoin_pairs",
            lambda: dedup_ops.ppjoin_pairs(docs, threshold=gen.PPJOIN_THRESHOLD).collect(),
        )
        texts, pp_pairs = truth["texts"], self._pairs(pp)
        above = {(a, b) for a, b, j in truth["planted"] if j >= gen.PPJOIN_THRESHOLD and b < PAIR_PROBE_DOCS}
        low = [p for p in pp_pairs if gen.jaccard(texts[p[0]], texts[p[1]]) < gen.PPJOIN_THRESHOLD]
        missed = above - pp_pairs
        ctx.check("ppjoin.planted_found", None if not missed else f"{len(missed)} planted pairs above threshold missed")
        ctx.check("ppjoin.none_below", None if not low else f"{len(low)} returned pairs below threshold")
        return {"operators.dedup.simhash.pairs": float(len(simpairs))}

    def layers(self, store: StatusStore) -> dict[str, float]:
        tr, truth = self.ctx.tracer, self.truth
        out = {}
        for name in DEDUP_CALLS + PAIR_CALLS:
            st = store.span_stats(tr.named(f"operators.dedup.{name}"))
            for k in ("wall_s", "job_busy_s", "no_job_s", "task_cpu_s", "shuffle_mb", "spill_mb"):
                out[f"operators.dedup.{name}.{k}"] = st[k]
        pairs, texts = self._pairs(self.cands), truth["texts"]
        planted = {(a, b) for a, b, _ in truth["planted"]}
        verified = sum(1 for a, b in pairs if gen.jaccard(texts[a], texts[b]) >= gen.PPJOIN_THRESHOLD)
        out["operators.dedup.lsh.candidate_pairs"] = float(len(pairs))
        out["operators.dedup.lsh.verified_pairs"] = float(verified)
        out["operators.dedup.lsh.verified_ratio"] = verified / max(1, len(pairs))
        out["operators.dedup.lsh.recall"] = len(planted & pairs) / len(planted)
        st = store.span_stats(tr.named("operators.similarity.cosine_topk_ivf"))
        out["operators.similarity.cosine_topk_ivf.wall_s"] = st["wall_s"]
        out["operators.similarity.cosine_topk_ivf.task_cpu_s"] = st["task_cpu_s"]
        out["operators.similarity.cosine_topk_ivf.recall_at_10"] = self.recall_at_10
        out["workload.pair_search_s"] = sum(out[f"operators.dedup.{n}.wall_s"] for n in PAIR_CALLS)
        return out


DEDUP_CALLS = ("exact_duplicates", "minhash_lsh")  # the build step
PAIR_CALLS = ("simhash_pairs", "ppjoin_pairs")  # the traced probes
PAIR_PROBE_DOCS = 1000


# ---------------------------------------------------------------------------
# catalog probes
# ---------------------------------------------------------------------------
CATALOG_SIZES = {"n_orders": 3000, "n_events": 8000, "n_docs": 600}


def catalog_probes(ctx: Ctx, store_fn) -> dict[str, float]:
    """One call of each sampled catalog builder over seeded testdata-schema
    tables, results collected, each checked against its DuckDB oracle."""
    spark = ctx.spark
    sf_dir = os.path.join(ctx.work, "catalog")
    gen.gen_catalog_tables(sf_dir, ctx.seed, **CATALOG_SIZES)
    results = {}
    for q in CATALOG_SAMPLE:
        results[q] = ctx.call(f"plans.{q}", lambda: REGISTRY[q].build(spark, sf_dir).toPandas())
    con = checks.duck_views({t: os.path.join(sf_dir, f"{t}.parquet") for t in ("orders", "lineitem", "events", "documents")})
    for q in CATALOG_SAMPLE:
        ctx.check(f"oracle.{q}", checks.same_result(results[q], con.execute(REGISTRY[q].oracle).df()))
    con.close()
    store, out = store_fn(), {}
    for q in CATALOG_SAMPLE:
        st = store.span_stats(ctx.tracer.named(f"plans.{q}"))
        for k in ("wall_s", "jobs", "job_busy_s", "no_job_s"):
            out[f"plans.{q}.{k}"] = st[k]
    out["workload.catalog_s"] = sum(out[f"plans.{q}.wall_s"] for q in CATALOG_SAMPLE)
    return out


WORKLOADS = {w.name: w for w in (WarehouseEtl, CorpusDedup)}
