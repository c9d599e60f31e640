"""Sequence packing for training-data assembly.

Concat-and-chunk packing: documents are laid end-to-end in a
deterministic order and the stream is cut into fixed-capacity chunks
(the standard way LLM pre-training batches are assembled from a
curated corpus). Each document is tagged with the chunk its first
token lands in plus its offset there.

Scale shape: packing is computed PER SHARD (a caller-chosen column —
language, source, or a hash bucket), so the running-sum window
partitions by shard instead of one global ordering. A global cumsum
would be a single-partition window — the canonical scale-killer; with
shards the shuffle key is the shard and each partition sorts only its
own documents. Shards are packed independently, which is exactly how
multi-shard training data is laid out on disk anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    shard_col: str,
    capacity: int,
) -> DataFrame:
    """Assign each document a (chunk_id, start_offset) under
    concat-and-chunk packing with ``capacity`` tokens per chunk,
    independently per shard, ordered by id within the shard.

    Pure window algebra — one shuffle on the shard key, a per-shard
    sort, zero UDFs:

        cum     = running token total up to and including this doc
        start   = cum - n_tokens           (position of first token)
        chunk   = floor(start / capacity)
        offset  = start % capacity

    Documents may straddle chunk boundaries (their tail spills into
    the next chunk) — that is the concat-and-chunk contract; callers
    needing hard document boundaries filter on
    ``start_offset + n_tokens <= capacity`` and repack the spillovers.
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return df.select(
        F.col(id_col),
        F.col(shard_col),
        F.col(tokens_col),
        F.floor(start / capacity).cast("long").alias("chunk_id"),
        (start % capacity).cast("long").alias("start_offset"),
    )

