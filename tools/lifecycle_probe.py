#!/usr/bin/env python
"""Scale probe for the round-10 index lifecycle operators: time
`migrate_simhash_index` (distinct + re-band + overwrite commit) and
`scrub_index_to_corpus` (semi-join rewrite) on synthetic indexes well
beyond driver SFs, at two sizes, so linearity is measured rather than
argued.

    python tools/lifecycle_probe.py [n_docs ...]   # default 500k 5M

Fingerprints are xxhash64-deterministic uniform bits; the index is
built at rung 2 (15 band rows/doc) and migrated to rung 3 (20/doc);
the scrub erases doc_id % 10 = 1 (10%). One JSON line per (op, n).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fingerprints(spark, n: int):
    """(doc_id, simhash) over ids 0..n-1: xxhash64-deterministic
    uniform bits."""
    from pyspark.sql import functions as F

    terms = None
    for j in range(60):
        bit = (
            F.abs(F.xxhash64(F.col("id"), F.lit(j))) % 2 == 0
        ).cast("long") * F.lit(1 << j)
        terms = bit if terms is None else terms + bit
    return (
        spark.range(n)
        .repartition(64)
        .select(F.col("id").alias("doc_id"), terms.alias("simhash"))
    )


def main() -> int:
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.index_lifecycle import (
        migrate_simhash_index,
        scrub_index_to_corpus,
        simhash_index,
        simhash_layout,
    )
    from movie_data_pipeline_spark.operators.util import scratch_dir
    from movie_data_pipeline_spark.session import get_spark
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    sizes = [int(a) for a in sys.argv[1:]] or [500_000, 5_000_000]
    spark = get_spark(app_name="lifecycle-probe")
    spark.sparkContext.setLogLevel("ERROR")
    rung2 = simhash_layout(2, None, None, None)
    rung2_k64 = simhash_layout(2, None, 64, None)

    for n in sizes:
        with scratch_dir("lifecycle-probe") as base:
            acc, idx = f"{base}/acc", f"{base}/idx"
            fp = _fingerprints(spark, n)
            VersionedTable(acc).commit(fp.select("doc_id"))
            VersionedTable(idx).commit(simhash_index(fp, rung2), meta=rung2)

            t0 = time.perf_counter()
            migrate_simhash_index(spark, idx, 3)
            mig_s = round(time.perf_counter() - t0, 1)
            rows = VersionedTable(idx).read(spark).count()
            print(json.dumps({
                "op": "migrate_rung2_to_3", "n_docs": n,
                "index_rows_after": rows, "sec": mig_s,
            }), flush=True)

            VersionedTable(acc).delete_where(spark, "doc_id % 10 = 1")
            t0 = time.perf_counter()
            _v, scrubbed = scrub_index_to_corpus(spark, idx, acc)
            scrub_s = round(time.perf_counter() - t0, 1)
            print(json.dumps({
                "op": "scrub_10pct", "n_docs": n,
                "rows_scrubbed": scrubbed, "sec": scrub_s,
            }), flush=True)

        # Round 11 (VERDICT r10 #2): the PARTITIONED layout — scrub
        # cost must scale with the ERASED FRACTION (touched buckets),
        # not the index size. Index bucketed k=64 by doc_id; erasures
        # at three fractions, each touching 1 / 6 / 64 buckets by
        # construction (predicates mod multiples of 64).
        # Predicates erase HALF of each touched bucket (mod 128 over a
        # k=64 layout), so the rewrite volume is real, not an empty
        # write; the all-bucket case erases 10% everywhere.
        for frac_name, pred in (
            ("1of64_buckets", "doc_id % 128 = 1"),
            ("6of64_buckets", "doc_id % 128 IN (2, 12, 22, 32, 42, 52)"),
            ("10pct_spread", "doc_id % 10 = 3"),
        ):
            with scratch_dir("lifecycle-probe") as base:
                acc, idx = f"{base}/acc", f"{base}/idx"
                fp = _fingerprints(spark, n)
                VersionedTable(acc).commit(fp.select("doc_id"))
                VersionedTable(idx).commit(
                    simhash_index(fp, rung2_k64), meta=rung2_k64
                )
                VersionedTable(acc).delete_where(spark, pred)
                t0 = time.perf_counter()
                v_new, scrubbed = scrub_index_to_corpus(spark, idx, acc)
                scrub_s = round(time.perf_counter() - t0, 1)
                # rewrite volume = survivors written into the new data
                # dir (the cost driver at object-storage scale); read
                # back from the committed snapshot's fresh dir only.
                m = VersionedTable(idx).manifest(v_new)
                new_dirs = [
                    e for e in m["data_dirs"] if isinstance(e, str)
                    and e.startswith(f"v{v_new}-")
                ]
                rewritten = (
                    spark.read.parquet(
                        *[f"{idx}/data/{d}" for d in new_dirs]
                    ).count()
                    if new_dirs
                    else 0
                )
                inherited = sum(
                    len(e["parts"]) for e in m["data_dirs"]
                    if isinstance(e, dict)
                )
                print(json.dumps({
                    "op": f"scrub_partitioned_{frac_name}", "n_docs": n,
                    "buckets_touched": 64 - inherited,
                    "rows_scrubbed": scrubbed,
                    "rows_rewritten": rewritten, "sec": scrub_s,
                }), flush=True)

        # Round 12 (VERDICT r11 #5): PRUNED compaction — cost must
        # scale with the FRAGMENTED partition count, not the table.
        # Same k=64 bucketed band index, fragmented by appending in
        # f fragment batches restricted to the first b buckets (the
        # other 64-b buckets stay single-file and must be inherited
        # by reference).
        for frag_name, frag_buckets in (
            ("4of64_buckets", 4),
            ("16of64_buckets", 16),
            ("64of64_buckets", 64),
        ):
            with scratch_dir("lifecycle-probe") as base:
                idx = f"{base}/idx"
                bands = simhash_index(_fingerprints(spark, n), rung2_k64)
                t = VersionedTable(idx)
                # one task per bucket -> exactly one base file per
                # bucket (otherwise every task writes a file into
                # every bucket and the whole table starts fragmented)
                t.commit(
                    bands.repartition(64, F.col("pbucket")),
                    meta=rung2_k64,
                )
                # fragment the first `frag_buckets` buckets with 3
                # extra single-file appends each
                for r in range(3):
                    t.commit(
                        bands.filter(
                            F.col("pbucket") < frag_buckets
                        ).filter(F.col("doc_id") % 3 == r).repartition(1),
                        mode="append",
                    )
                t0 = time.perf_counter()
                v_new = t.compact(spark, target_files=1)
                sec = round(time.perf_counter() - t0, 1)
                m = t.manifest(v_new)
                new_dirs = [
                    e for e in m["data_dirs"] if isinstance(e, str)
                    and e.startswith(f"v{v_new}-")
                ]
                rewritten = (
                    spark.read.parquet(
                        *[f"{idx}/data/{d}" for d in new_dirs]
                    ).count()
                    if new_dirs
                    else 0
                )
                print(json.dumps({
                    "op": f"compact_partitioned_{frag_name}", "n_docs": n,
                    "rows_rewritten": rewritten, "sec": sec,
                }), flush=True)

        # Round 11 (VERDICT r10 #3): IVF centroid-refresh migration at
        # probe scale — synthetic 16-dim vectors, 8 cells, erase 1/7,
        # scrub, then time migrate_ivf_index (retrain + reassign + one
        # commit).
        from movie_data_pipeline_spark.operators.index_lifecycle import (
            erase_documents,
            migrate_ivf_index,
        )
        from movie_data_pipeline_spark.operators.similarity import (
            ivf_assign,
        )

        with scratch_dir("lifecycle-probe") as base:
            acc, idx = f"{base}/vec", f"{base}/ivf"
            dims = [
                (
                    (F.abs(F.xxhash64(F.col("id"), F.lit(j))) % 1000)
                    / F.lit(1000.0)
                ).cast("float")
                for j in range(16)
            ]
            vecs = (
                spark.range(n)
                .repartition(64)
                .select(
                    F.col("id").alias("vec_id"), F.array(*dims).alias(
                        "embedding"
                    )
                )
            )
            VersionedTable(acc).commit(vecs)
            VersionedTable(idx).commit(
                ivf_assign(vecs, n_cells=8).select("vec_id", "cell"),
                meta={"n_cells": 8},
            )
            erase_documents(
                spark, acc, [idx], "vec_id % 7 = 2", id_col="vec_id"
            )
            t0 = time.perf_counter()
            migrate_ivf_index(spark, idx, acc)
            mig_s = round(time.perf_counter() - t0, 1)
            print(json.dumps({
                "op": "migrate_ivf_centroids", "n_docs": n,
                "rows_after": VersionedTable(idx).read(spark).count(),
                "sec": mig_s,
            }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
