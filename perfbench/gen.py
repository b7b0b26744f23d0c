"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` (NumPy ``default_rng``
streams, ``csv`` and ``pyarrow`` writers with fixed settings), so the
same seed writes byte-identical files. Each returns a ``truth`` dict:
the ground truth the output checks compare against. Nothing here starts
Spark; generation always runs outside the timed regions.
"""

from __future__ import annotations

import csv
import os
import re
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Stream ids keep the workloads' random draws independent of each other.
_STREAM = {"warehouse_etl": 1, "corpus_dedup": 2, "ingest_gate": 3, "catalog_mix": 4}

# Corpus text: a fixed pseudo-word vocabulary drawn with Zipf weights.
VOCAB_SIZE = 4000
VOCAB_ZIPF_S = 1.0


def _rng(seed: int, workload: str, sub: int = 0) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAM[workload], sub])


def _vocabulary() -> list[str]:
    """Fixed (seed-independent) list of distinct pseudo-words."""
    rng = np.random.default_rng(20240601)
    cons, vows = list("bcdfghjklmnprstvz"), list("aeiou")
    words, seen = [], set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 4))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))] for _ in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _vocabulary()
_ZIPF_P = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** VOCAB_ZIPF_S
_ZIPF_P /= _ZIPF_P.sum()


def random_doc(rng: np.random.Generator, lo: int = 25, hi: int = 60) -> list[str]:
    n = int(rng.integers(lo, hi + 1))
    return [VOCAB[i] for i in rng.choice(VOCAB_SIZE, size=n, p=_ZIPF_P)]


def shingles(text: str, n: int = 3) -> set[str]:
    """Mirror of ``functions.text.word_shingles``: lowercased whitespace
    tokens, distinct word n-grams, a short doc is one whole-doc shingle."""
    t = re.split(r"\s+", text.strip(" ").lower())
    if len(t) < n:
        return {" ".join(t)}
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _mutate(rng: np.random.Generator, words: list[str], edits: int) -> list[str]:
    out = list(words)
    for pos in rng.choice(len(out), size=min(edits, len(out)), replace=False):
        old = out[pos]
        while out[pos] == old:  # a substitution always changes the word
            out[pos] = VOCAB[int(rng.integers(VOCAB_SIZE))]
    return out


def _write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


# ---------------------------------------------------------------------------
# warehouse_etl: MovieLens-shaped CSVs + an OMDb-shaped enrichment table
# ---------------------------------------------------------------------------
GENRES = (
    "Action Adventure Animation Children Comedy Crime Documentary Drama "
    "Fantasy Film-Noir Horror IMAX Musical Mystery Romance Sci-Fi Thriller "
    "War Western"
).split()
NO_GENRES = "(no genres listed)"
API_BUDGET = 400
_ARTICLES = ("The", "A", "An")


def clean_title(title: str) -> str:
    """Mirror of ``functions.titles.clean_title``."""
    if re.search(r"\((\d{4})\)\s*$", title):
        return re.sub(r"\s*\(\d{4}\)\s*$", "", title).strip(" ")
    return title


def normalize_title(title: str) -> str:
    """Mirror of ``functions.titles.normalize_title``."""
    t = title.strip(" ")
    t = re.sub(r"\s*\([^)]*\)", "", t).strip(" ")
    t = re.sub(r"^(.*), (The|A|An|Le|La|Les)$", r"\2 \1", t)
    t = re.sub(r"\s+", " ", t).strip(" ")
    return re.sub(r"^[, ]+|[, ]+$", "", t)


def gen_warehouse(
    out_dir: str, seed: int, n_movies: int = 3000, n_ratings: int = 60000, n_users: int = 500
) -> dict:
    """movies.csv / ratings.csv / links.csv plus enrichment.parquet.

    Ratings are Zipf-skewed per movie (and per user, so some users pass
    the >100-ratings HAVING of ``avg_rating_by_user``); about 1% of
    rating rows are dirty (non-numeric rating or ids). The enrichment
    table covers the first ``API_BUDGET`` movies by id and mixes the
    three match strategies with no-match movies.
    """
    rng = _rng(seed, "warehouse_etl")
    os.makedirs(out_dir, exist_ok=True)
    movies, genre_pairs, genre_names = [], 0, set()
    for mid in range(1, n_movies + 1):
        core = " ".join(VOCAB[i].capitalize() for i in rng.integers(0, 400, size=int(rng.integers(1, 4))))
        core = f"{core} {mid}"
        year = int(rng.integers(1930, 2024))
        kind = rng.random()
        if kind < 0.12:
            title = f"{core}, {_ARTICLES[int(rng.integers(3))]} ({year})"
        elif kind < 0.17:
            title, year = core, None
        elif kind < 0.22:
            title = f"{core} (a.k.a. {VOCAB[int(rng.integers(400))].capitalize()}) ({year})"
        elif kind < 0.27:
            title = f"{core}, Part {int(rng.integers(2, 5))} ({year})"
        else:
            title = f"{core} ({year})"
        if rng.random() < 0.05:
            genres = NO_GENRES
            names = [NO_GENRES]
        else:
            names = sorted(rng.choice(GENRES, size=int(rng.integers(1, 5)), replace=False).tolist())
            genres = "|".join(names)
        genre_pairs += len(names)
        genre_names.update(names)
        movies.append((mid, title, genres, year))
    with open(os.path.join(out_dir, "movies.csv"), "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(["movieId", "title", "genres"])
        w.writerows((m[0], m[1], m[2]) for m in movies)

    imdb = {mid: 100000 + 7 * mid for mid in range(1, n_movies + 1)}
    with open(os.path.join(out_dir, "links.csv"), "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(["movieId", "imdbId", "tmdbId"])
        for mid in range(1, n_movies + 1):
            w.writerow([mid, imdb[mid], "" if rng.random() < 0.1 else 5000 + mid])

    # Zipf popularity over a random permutation of movies and users.
    movie_rank = rng.permutation(n_movies) + 1
    pm = 1.0 / np.arange(1, n_movies + 1) ** 0.9
    pu = 1.0 / np.arange(1, n_users + 1) ** 0.7
    m_idx = rng.choice(n_movies, size=n_ratings, p=pm / pm.sum())
    u_idx = rng.choice(n_users, size=n_ratings, p=pu / pu.sum())
    stars = rng.integers(1, 11, size=n_ratings) * 0.5
    ts = rng.integers(789652009, 1700000000, size=n_ratings)
    dirty = rng.random(n_ratings)
    valid = 0
    with open(os.path.join(out_dir, "ratings.csv"), "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(["userId", "movieId", "rating", "timestamp"])
        for i in range(n_ratings):
            row = [int(u_idx[i]) + 1, int(movie_rank[m_idx[i]]), f"{stars[i]:.1f}", int(ts[i])]
            d = dirty[i]
            if d < 0.004:
                row[2] = "n/a"
            elif d < 0.007:
                row[1] = "x" + str(row[1])
            elif d < 0.01:
                row[0] = ""
            else:
                valid += 1
                if d > 0.995:
                    row[3] = "unknown"  # kept: only the timestamp becomes null
            w.writerow(row)

    directors = [f"{VOCAB[i].capitalize()} {VOCAB[i + 1].capitalize()}" for i in range(0, 120, 2)]
    enrich, matched, strategy_counts = [], 0, {"title_year": 0, "title_only": 0, "imdb_id": 0, "none": 0}
    for mid, title, _, year in movies[:API_BUDGET]:
        norm = normalize_title(clean_title(title))
        r = rng.random()
        if r < 0.45:
            key, ykey, strat = norm, year, "title_year"
        elif r < 0.65:
            key, ykey, strat = norm, (None if year is None else year + 1), "title_only"
        elif r < 0.80:
            key, ykey, strat = f"unlisted {mid}", year, "imdb_id"
        else:
            strategy_counts["none"] += 1
            continue
        strategy_counts[strat] += 1
        matched += 1
        rating = "N/A" if rng.random() < 0.05 else f"{rng.integers(2, 20) * 0.5:.1f}"
        enrich.append(
            {
                "norm_title": key,
                "release_year": ykey,
                "imdb_id": f"tt{imdb[mid]:07d}",
                "director": "N/A" if rng.random() < 0.05 else directors[int(rng.integers(len(directors)))],
                "plot": " ".join(random_doc(rng, 8, 20)),
                "box_office": f"${int(rng.integers(10**4, 10**8)):,}",
                "imdb_rating": rating,
                "runtime": f"{int(rng.integers(70, 200))} min",
            }
        )
    schema = pa.schema(
        [("norm_title", pa.string()), ("release_year", pa.int32())]
        + [(f, pa.string()) for f in ("imdb_id", "director", "plot", "box_office", "imdb_rating", "runtime")]
    )
    _write_parquet(os.path.join(out_dir, "enrichment.parquet"), pa.Table.from_pylist(enrich, schema=schema))
    return {
        "movies": n_movies,
        "genres": len(genre_names),
        "movie_genres": genre_pairs,
        "ratings": valid,
        "matched": matched,
        "api_budget": API_BUDGET,
        "strategies": strategy_counts,
    }


# ---------------------------------------------------------------------------
# corpus_dedup: planted near-duplicate corpus + clustered embeddings
# ---------------------------------------------------------------------------
PPJOIN_THRESHOLD = 0.5
_EDITS = (1, 2, 3, 4, 6, 9)


def gen_corpus(
    out_dir: str,
    seed: int,
    n_docs: int = 2000,
    n_pairs: int = 100,
    n_exact: int = 30,
    n_vectors: int = 2000,
    dim: int = 16,
    n_clusters: int = 64,
    n_queries: int = 20,
) -> dict:
    """docs.parquet (doc_id, text) and vectors.parquet (vec_id, embedding).

    ``n_pairs`` near-duplicates are planted as edited copies (1-9 word
    substitutions, so their shingle Jaccard spans both sides of the
    ppjoin threshold) and ``n_exact`` docs are verbatim copies. Doc ids
    are a random permutation so planted pairs are not adjacent. The
    vectors form ``n_clusters`` Gaussian clusters: many more than the 8
    cells of ``cosine_topk_ivf``, so the cells its seed vectors cut are
    of similar size whatever the seed, and so is the work of a search.
    """
    rng = _rng(seed, "corpus_dedup")
    os.makedirs(out_dir, exist_ok=True)
    n_base = n_docs - n_pairs - n_exact
    base = [random_doc(rng) for _ in range(n_base)]
    sources = rng.choice(n_base, size=n_pairs + n_exact, replace=False)
    texts = [" ".join(w) for w in base]
    origin = []  # (copy index, base index, exact?)
    for j, b in enumerate(sources):
        exact = j >= n_pairs
        words = base[b] if exact else _mutate(rng, base[b], _EDITS[j % len(_EDITS)])
        origin.append((len(texts), int(b), exact))
        texts.append(" ".join(words))
    ids = rng.permutation(n_docs).astype(np.int64)
    planted, exact_pairs = [], []
    for c, b, exact in origin:
        a, bb = sorted((int(ids[b]), int(ids[c])))
        (exact_pairs if exact else planted).append((a, bb, jaccard(texts[b], texts[c])))
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    order = np.argsort(ids)
    _write_parquet(os.path.join(out_dir, "docs.parquet"), docs.take(pa.array(order)))

    centers = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(n_clusters, size=n_vectors)
    vecs = (centers[labels] + 0.45 * rng.normal(size=(n_vectors, dim))).astype(np.float32)
    vec_table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }
    )
    _write_parquet(os.path.join(out_dir, "vectors.parquet"), vec_table)
    queries = sorted(int(q) for q in rng.choice(n_vectors, size=n_queries, replace=False))
    return {
        "n_docs": n_docs,
        "texts": {int(ids[i]): texts[i] for i in range(n_docs)},
        "planted": planted,
        "exact_pairs": exact_pairs,
        "vocab_size": VOCAB_SIZE,
        "vocab_zipf_s": VOCAB_ZIPF_S,
        "vectors": vecs,
        "queries": queries,
    }


def exact_topk(vecs: np.ndarray, queries: list[int], k: int = 10) -> dict[int, list[int]]:
    """Exact cosine top-k in float64 (self excluded, ties toward the lower id)."""
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for q in queries:
        sim = v @ v[q]
        sim[q] = -np.inf
        order = np.lexsort((np.arange(len(sim)), -sim))
        out[q] = [int(i) for i in order[:k]]
    return out


# ---------------------------------------------------------------------------
# ingest_gate: micro-batches with within- and cross-batch duplicates
# ---------------------------------------------------------------------------
def gen_gate_batches(
    out_dir: str, seed: int, n_batches: int = 4, batch_size: int = 300, dup_within: float = 0.05,
    dup_cross: float = 0.1,
) -> dict:
    """batch_<i>.parquet (doc_id, text). Planted duplicates are verbatim
    copies: within a batch the copy gets the higher doc_id (the gate
    keeps the lower one); across batches the copy repeats a doc from an
    earlier batch. Truth is per batch, so a run that ingests only a
    prefix of the batches can still be checked."""
    rng = _rng(seed, "ingest_gate")
    os.makedirs(out_dir, exist_ok=True)
    next_id, originals = 0, []
    paths, planted_dups, unique_per_batch, batch_rows = [], [], [], []
    for b in range(n_batches):
        n_within = int(batch_size * dup_within)
        n_cross = int(batch_size * dup_cross) if originals else 0
        n_new = batch_size - n_within - n_cross
        texts = [" ".join(random_doc(rng)) for _ in range(n_new)]
        batch_orig = list(texts)
        texts += [batch_orig[int(i)] for i in rng.choice(n_new, size=n_within, replace=False)]
        texts += [originals[int(i)] for i in rng.choice(len(originals), size=n_cross, replace=False)] if n_cross else []
        ids = list(range(next_id, next_id + len(texts)))
        planted_dups.append(ids[n_new:])
        unique_per_batch.append(n_new)
        batch_rows.append(len(texts))
        next_id += len(texts)
        originals += batch_orig
        path = os.path.join(out_dir, f"batch_{b}.parquet")
        _write_parquet(path, pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}))
        paths.append(path)
    return {
        "batches": paths,
        "batch_rows": batch_rows,
        "unique_per_batch": unique_per_batch,
        "planted_dups": planted_dups,
    }


# ---------------------------------------------------------------------------
# catalog_mix: the testdata tables the sampled catalog builders read
# ---------------------------------------------------------------------------
def gen_catalog_tables(
    out_dir: str, seed: int, n_orders: int = 6000, n_events: int = 20000, n_docs: int = 600
) -> dict:
    """lineitem / orders / events / documents parquet files with the
    ``schemas.TESTDATA_SCHEMAS`` physical types. Prices are multiples of
    4 and discounts multiples of 1/64, so their sums and averages are
    exact doubles in both Spark and DuckDB; taxes are cents, so every
    price x (1 - discount) x (1 + tax) has at most 6 decimals and its
    DECIMAL(30,6) cast never lands on a rounding tie. The oracle hash
    compare therefore cannot flip on rounding."""
    rng = _rng(seed, "catalog_mix")
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_users = max(50, n_orders // 10), 60, 400, 300
    epoch = datetime(1992, 1, 1)
    pc = 1.0 / np.arange(1, n_cust + 1) ** 0.8
    custs = rng.choice(n_cust, size=n_orders, p=pc / pc.sum()) + 1
    odays = rng.integers(0, 2400, size=n_orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, n_orders + 1, dtype=np.int64)),
            "o_custkey": pa.array(custs.astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_orders).tolist()),
            "o_totalprice": pa.array(rng.integers(400, 400000, size=n_orders) * 0.25),
            "o_orderdate": pa.array([epoch + timedelta(days=int(d)) for d in odays], pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_orders).tolist()),
        }
    )
    lines = rng.integers(1, 8, size=n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, size=n_li)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(1, n_part + 1, size=n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(1, n_supp + 1, size=n_li).astype(np.int64)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(qty * rng.integers(25, 2500, size=n_li) * 4.0),
            "l_discount": pa.array(rng.integers(0, 7, size=n_li) * 0.015625),
            "l_tax": pa.array(rng.integers(0, 9, size=n_li) * 0.01),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_li).tolist()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], size=n_li).tolist()),
            "l_shipdate": pa.array([epoch + timedelta(days=int(d)) for d in ship], pa.timestamp("us")),
        }
    )
    pu = 1.0 / np.arange(1, n_users + 1) ** 0.8
    ev_secs = np.sort(rng.integers(0, 10 * 86400, size=n_events))
    ev_start = datetime(2024, 3, 1)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array([ev_start + timedelta(seconds=int(s)) for s in ev_secs], pa.timestamp("us")),
            "user_id": pa.array((rng.choice(n_users, size=n_events, p=pu / pu.sum()) + 1).astype(np.int64)),
            "event_type": pa.array(rng.choice(["view", "click", "cart", "purchase"], size=n_events).tolist()),
            "value": pa.array(rng.integers(0, 4000, size=n_events) * 0.25),
            "props": pa.array([f'{{"k":{int(k)}}}' for k in rng.integers(0, 50, size=n_events)]),
        }
    )
    # Documents: random text with shared boilerplate passages so the
    # repeated-passage builder finds spans in several documents.
    passages = [" ".join(random_doc(rng, 12, 16)) for _ in range(12)]
    texts = []
    for _ in range(n_docs):
        words = random_doc(rng, 20, 50)
        if rng.random() < 0.3:
            pos = int(rng.integers(len(words)))
            words = words[:pos] + [passages[int(rng.integers(len(passages)))]] + words[pos:]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(["en", "en", "es", "fr"], size=n_docs).tolist()),
            "source": pa.array(rng.choice(["src0", "src1", "src2", "src3"], size=n_docs).tolist()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    for name, table in (("orders", orders), ("lineitem", lineitem), ("events", events), ("documents", documents)):
        _write_parquet(os.path.join(out_dir, f"{name}.parquet"), table)
    return {"orders": n_orders, "lineitem": n_li, "events": n_events, "documents": n_docs}
