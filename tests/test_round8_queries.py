"""Planted-corpus and pure-Python-mirror tests for the round-8
operators: q279 URL canonicalization + host rollup, q280 Hamming
histogram invariants, q281 granularity agreement, q282 yield
waterfall, q283 chi-square composition, and the 60-bit SimHash
migration's pair semantics (q79's new defaults)."""

from __future__ import annotations

import hashlib
import math
import shutil
import tempfile

import pytest

from movie_data_pipeline_spark.plans import REGISTRY
from movie_data_pipeline_spark.schemas import TESTDATA_SCHEMAS

pytestmark = pytest.mark.usefixtures("_scoped")


def _write_docs(spark, rows):
    """rows: (doc_id, text, lang, source) -> temp sf dir."""
    base = tempfile.mkdtemp(prefix="mdp-r8-")
    spark.createDataFrame(
        [(i, t, la, s, len(t)) for (i, t, la, s) in rows],
        TESTDATA_SCHEMAS["documents"],
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{base}/documents.parquet"
    )
    return base


def _r4(x: float) -> float:
    return math.floor(x * 10000.0 + 0.5) / 10000.0


# ---------------------------------------------------------------------------
# q279 — pure-Python mirror of the URL derivation + canonicalization
# ---------------------------------------------------------------------------
def _pybit(doc_id: int, i: int) -> bool:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[i - 1], 16) % 2 == 1


def _py_url(doc_id: int, source: str) -> str:
    b = lambda i: _pybit(doc_id, i)  # noqa: E731
    host = f"{source}-s{doc_id % 3}.example.com"
    if b(3):
        host = host.upper()
    url = ("https://" if b(1) else "http://") + ("www." if b(2) else "")
    url += host
    if b(4):
        url += ":443" if b(1) else ":80"
    url += f"/docs/{doc_id // 240}"
    if b(5):
        url += "/"
    if b(6):
        url += f"?utm_source=feed&id={doc_id % 5}"
    elif b(7):
        url += f"?id={doc_id % 5}&ref=rss"
    elif b(8):
        url += f"?id={doc_id % 5}"
    return url


def _py_canon(url: str) -> tuple[str, str]:
    import re

    s = re.sub(r"^https?://", "", url)
    slash = s.find("/")
    hp, rest = (s[:slash], s[slash:]) if slash >= 0 else (s, "")
    host = re.sub(r":(443|80)$", "", re.sub(r"^www\.", "", hp.lower()))
    q = rest.find("?")
    path0, qs = (rest[:q], rest[q + 1 :]) if q >= 0 else (rest, "")
    path = re.sub(r"/$", "", path0)
    kept = "&".join(
        sorted(
            x
            for x in qs.split("&")
            if x and not re.match(r"^(utm_[a-z]+|ref|fbclid)=", x)
        )
    )
    return host, host + path + ("?" + kept if kept else "")


def test_url_rollup_matches_pure_python_mirror(spark):
    sf = "/root/testdata/sf0.001"
    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, source FROM '{sf}/documents.parquet'"
    ).fetchall()
    per_host: dict[str, dict] = {}
    canon_counts: dict[tuple[str, str], int] = {}
    for doc_id, source in docs:
        host, canon = _py_canon(_py_url(doc_id, source))
        canon_counts[(host, canon)] = canon_counts.get((host, canon), 0) + 1
    for (host, _), c in canon_counts.items():
        h = per_host.setdefault(
            host, {"n_docs": 0, "n_canon": 0, "n_dup": 0}
        )
        h["n_docs"] += c
        h["n_canon"] += 1
        if c >= 2:
            h["n_dup"] += c
    got = {
        r.host: r
        for r in REGISTRY["q279_url_host_dedup_rollup"]
        .build(spark, sf)
        .collect()
    }
    assert set(got) == set(per_host)
    for host, exp in per_host.items():
        r = got[host]
        assert r.n_docs == exp["n_docs"]
        assert r.n_canon_urls == exp["n_canon"]
        assert r.n_dup_docs == exp["n_dup"]
        assert r.dup_rate == _r4(exp["n_dup"] / exp["n_docs"])
        # canonical hosts are actually canonical
        assert host == host.lower() and not host.startswith("www.")
        assert not host.endswith(":80") and not host.endswith(":443")


# ---------------------------------------------------------------------------
# q280 — histogram invariants on a planted corpus
# ---------------------------------------------------------------------------
def test_hamming_histogram_invariants(spark):
    """Two identical docs -> the 0 bucket exists; total observations ==
    anchors * (n-1) (small corpus -> modulus 1 -> anchors = all docs);
    cumulative share ends at 1.0."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "s0"),
        (1, "alpha beta gamma delta epsilon zeta", "en", "s0"),
        (2, "one two three four five six seven eight", "en", "s1"),
        (3, "completely different words everywhere here", "en", "s1"),
    ]
    base = _write_docs(spark, rows)
    try:
        out = (
            REGISTRY["q280_simhash_hamming_histogram"]
            .build(spark, base)
            .collect()
        )
        hs = {r.hamming: r for r in out}
        assert 0 in hs and hs[0].n_pairs >= 2  # (0,1) both directions
        assert sum(r.n_pairs for r in out) == 4 * 3
        assert out[-1].cum_share == 1.0
        assert all(
            out[i].cum_share <= out[i + 1].cum_share
            for i in range(len(out) - 1)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# q281 — granularity agreement on a planted corpus
# ---------------------------------------------------------------------------
def test_granularity_agreement_plants(spark):
    """Docs 0/1: a shared 60-char passage dominates short texts ->
    passage-flagged, but distinct filler keeps 3-gram Jaccard < 0.5 ->
    not doc-flagged. Docs 2/3: exact copies -> both flags. Doc 4:
    unique -> neither."""
    shared = "the quick brown fox jumps over the lazy dog again and again!"
    rows = [
        (0, "a1 b1 c1 d1 e1 f1 g1 h1 i1 j1 " + shared, "en", "s0"),
        (1, "a2 b2 c2 d2 e2 f2 g2 h2 i2 j2 k2 " + shared, "en", "s0"),
        (2, "identical twin text payload for the copies here ok", "en", "s1"),
        (3, "identical twin text payload for the copies here ok", "en", "s1"),
        (4, "totally unrelated standalone document body", "en", "s1"),
    ]
    base = _write_docs(spark, rows)
    try:
        got = {
            r.source: r
            for r in REGISTRY["q281_granularity_agreement"]
            .build(spark, base)
            .collect()
        }
        s0, s1 = got["s0"], got["s1"]
        assert s0.n_passage_flagged == 2 and s0.n_jaccard_flagged == 0
        assert s0.n_both == 0 and s0.flag_jaccard == 0.0
        assert s1.n_passage_flagged == 2 and s1.n_jaccard_flagged == 2
        assert s1.n_both == 2 and s1.flag_jaccard == 1.0
        assert s1.n_docs == 3
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# q282 — yield waterfall on a planted corpus
# ---------------------------------------------------------------------------
def test_yield_waterfall_plants(spark):
    """One source exercising every stage: an exact copy (dropped at
    stage 1), a near-dup of the survivor (dropped at stage 2), a short
    doc and a non-en doc (dropped at stage 3), one clean keeper."""
    keeper = " ".join(f"tok{i}" for i in range(40))  # 40 toks, long
    near = " ".join(f"tok{i}" for i in range(39)) + " other"
    rows = [
        (0, keeper, "en", "s0"),          # survives everything
        (1, keeper, "en", "s0"),          # exact copy -> stage-1 drop
        (2, near, "en", "s0"),            # near-dup of 0 -> stage-2 drop
        (3, "short text here", "en", "s0"),   # 3 toks, short -> stage-3
        # distinct long text, wrong lang -> stage-3 drop
        (4, " ".join(f"wort{i}" for i in range(40)), "de", "s0"),
    ]
    base = _write_docs(spark, rows)
    try:
        (r,) = (
            REGISTRY["q282_corpus_yield_waterfall"]
            .build(spark, base)
            .collect()
        )
        assert r.n_docs_raw == 5
        assert r.n_docs_exact == 4            # doc 1 dropped
        assert r.n_docs_neardup == 3          # doc 2 dropped
        assert r.n_docs_quality == 1          # docs 3 (short), 4 (lang)
        assert r.tok_raw == 40 + 40 + 40 + 3 + 40
        assert r.tok_quality == 40
        assert r.yield_rate == _r4(40 / r.tok_raw)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# q283 — chi-square mirror on a planted contingency table
# ---------------------------------------------------------------------------
def test_chisq_composition_mirror(spark):
    rows = (
        [(i, f"text {i}", "en", "s0") for i in range(6)]
        + [(10 + i, f"text {10 + i}", "de", "s0") for i in range(2)]
        + [(20 + i, f"text {20 + i}", "en", "s1") for i in range(2)]
        + [(30 + i, f"text {30 + i}", "de", "s1") for i in range(6)]
    )
    base = _write_docs(spark, rows)
    try:
        out = {
            (r.lang, r.source): r
            for r in REGISTRY["q283_lang_source_composition"]
            .build(spark, base)
            .collect()
        }
        n, row = 16, {"en": 8, "de": 8}
        col = {"s0": 8, "s1": 8}
        obs = {
            ("en", "s0"): 6,
            ("de", "s0"): 2,
            ("en", "s1"): 2,
            ("de", "s1"): 6,
        }
        for key, o in obs.items():
            ex = row[key[0]] * col[key[1]] / n  # 4.0
            r = out[key]
            assert r.n_obs == o
            assert r.n_expected == _r4(ex)
            assert r.chisq_contrib == _r4((o - ex) ** 2 / ex)
            assert r.std_resid == _r4((o - ex) / math.sqrt(ex))
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# 60-bit SimHash migration — pair semantics under the new defaults
# ---------------------------------------------------------------------------
def test_simhash60_pair_semantics(spark):
    from pyspark.sql import Row

    from movie_data_pipeline_spark.operators.dedup import (
        simhash,
        simhash_hamming_pairs,
    )

    rows = [
        Row(doc_id=0, text="alpha beta gamma delta epsilon zeta eta"),
        Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta"),
        Row(doc_id=2, text="unrelated completely different content words"),
    ]
    fp = simhash(spark.createDataFrame(rows))
    vals = {r.doc_id: r.simhash for r in fp.collect()}
    assert vals[0] == vals[1]
    assert all(0 <= v < (1 << 60) for v in vals.values())
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_pairs(fp).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical docs: guaranteed pair


# ---------------------------------------------------------------------------
# q284 — IVF-PQ retrieval sanity on the real corpus
# ---------------------------------------------------------------------------
def test_ivfpq_topk_shape_and_determinism(spark):
    sf = "/root/testdata/sf0.001"
    out = REGISTRY["q284_ivfpq_topk"].build(spark, sf).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 10
        # ADC distances non-decreasing with rank, self excluded
        ads = [r.adc_d2 for r in rows]
        assert ads == sorted(ads)
        assert all(r.neighbor_id != qid for r in rows)
    # deterministic across runs
    again = REGISTRY["q284_ivfpq_topk"].build(spark, sf).collect()
    assert out == again


# ---------------------------------------------------------------------------
# q285 — stratified sample manifest: published rule re-derives membership
# ---------------------------------------------------------------------------
def test_stratified_manifest_membership_rederivable(spark):
    import duckdb

    sf = "/root/testdata/sf0.01"
    got = {
        r.source: r
        for r in REGISTRY["q285_stratified_sample_manifest"]
        .build(spark, sf)
        .collect()
    }
    docs = duckdb.sql(
        f"SELECT doc_id, source FROM '{sf}/documents.parquet'"
    ).fetchall()
    per: dict[str, list[int]] = {}
    for doc_id, source in docs:
        per.setdefault(source, []).append(doc_id)
    for source, ids in per.items():
        r = got[source]
        assert r.n_docs == len(ids)
        m = max(1, len(ids) // 16)
        assert r.modulus == m
        sampled = [
            i
            for i in ids
            if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % m
            == 0
        ]
        assert r.n_sampled == len(sampled)
        assert r.min_sampled_id == min(sampled)
        assert r.max_sampled_id == max(sampled)
        assert r.sample_rate == _r4(len(sampled) / len(ids))


def test_host_canonicalization_keeps_www2_prefix(spark):
    """Regression (ADVICE r8): Spark's SQL literal parser reduces a
    single-backslash '^www\\.' to '^www.' (dot = any char), which would
    strip 'www2' from 'www2.example.com'. The production expression must
    drop exactly one literal 'www.' label and nothing else."""
    from movie_data_pipeline_spark.plans.corpus import _URL_HOST_CANON_SPARK

    rows = [
        ("www2.example.com",),
        ("www.example.com",),
        ("wwwx.org:80",),
        ("WWW.Mixed.ORG:443",),
        ("www.www.double.net",),
        ("plain.net/path",),
    ]
    got = [
        r.host
        for r in spark.createDataFrame(rows, ["u1"]).selectExpr(
            _URL_HOST_CANON_SPARK + " AS host"
        ).collect()
    ]
    assert got == [
        "www2.example.com",
        "example.com",
        "wwwx.org",
        "mixed.org",
        "www.double.net",
        "plain.net",
    ]
