"""Sequence packing: group documents into fixed-token-capacity bins —
the pretraining-batch-construction step that follows curation (pack
tokenized documents into context windows with minimal padding).

Greedy next-fit in id order is inherently sequential, so the parallel
unit is a deterministic *shard*: documents are hashed into shards
(md5 of the id — reshard-stable, like q39's sampling), each shard packs
independently, and bin ids are unique within a shard. This is the
standard scale design: packing quality is per-shard (next-fit wastes
< one max-document per bin), while throughput scales with shard count.
The per-shard loop runs in an Arrow-batched ``applyInPandas`` — the one
place Python-side logic is justified, because the fold over rows has
loop-carried state no relational operator expresses (see the recursive
oracle of q72, which is exactly that fold spelled as a fixpoint).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PACK_SCHEMA = "doc_id bigint, shard bigint, bin_in_shard bigint, n_tokens bigint"


def shard_of(id_col: Column, n_shards: int) -> Column:
    """Deterministic md5-based shard (reshard-stable, engine-portable)."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long")
        % n_shards
    )


def _pack_shard(pdf: pd.DataFrame, capacity: int) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins: list[int] = []
    bin_idx = 0
    fill = 0
    for i, t in enumerate(pdf["n_tokens"]):
        if i == 0:
            fill = int(t)
        elif fill + int(t) > capacity:
            bin_idx += 1
            fill = int(t)
        else:
            fill += int(t)
        bins.append(bin_idx)
    pdf["bin_in_shard"] = bins
    return pdf[["doc_id", "shard", "bin_in_shard", "n_tokens"]]


def pack_documents(
    docs: DataFrame,
    capacity: int,
    n_shards: int = 8,
) -> DataFrame:
    """Assign each (doc_id, n_tokens) document a (shard, bin_in_shard)
    packing slot.

    Next-fit greedy per shard, documents in ascending id order: a bin
    accumulates documents until adding the next would exceed
    ``capacity``, then a new bin starts. A single document longer than
    ``capacity`` occupies its own bin (the first row always opens bin 0
    regardless of size). Deterministic: same inputs → same bins, on any
    cluster layout.
    """
    prepared = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        shard_of(F.col("doc_id"), n_shards).alias("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    return prepared.groupBy("shard").applyInPandas(
        lambda pdf: _pack_shard(pdf, capacity), PACK_SCHEMA
    )


def packing_efficiency(packed: DataFrame, capacity: int) -> DataFrame:
    """Per-shard fill statistics: bins used, mean fill fraction."""
    per_bin = packed.groupBy("shard", "bin_in_shard").agg(
        F.sum("n_tokens").alias("bin_tokens")
    )
    return per_bin.groupBy("shard").agg(
        F.count("*").alias("n_bins"),
        (F.sum("bin_tokens") / (F.count("*") * capacity)).alias("fill_fraction"),
    )
