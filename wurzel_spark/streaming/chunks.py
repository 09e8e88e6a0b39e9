"""Streaming content-defined-chunk dedup accounting: per-batch chunk
tables staged and folded; the drain reproduces the batch
chunk_dedup_stats over everything ever seen.

Batch twin: operators/chunking.chunk_dedup_stats — the drain feeds the
SAME aggregate, so the forms cannot drift. Chunk rows are deterministic
per (doc_id, chunk_idx) (the gear boundaries are content-local and the
chunker is partition-independent), so the state uses the shared
crash-safe fold with plain key-dedup — an at-least-once redelivery of an
already-folded batch collapses at the drain's key dedup exactly like
the novelty state (ADVICE r5 #1's lesson applied from day one).

Scale shape: chunking stays a row-local Arrow kernel per micro-batch;
state rows are (doc_id, chunk_idx, chunk_len, 64-char hash) — bytes
never staged. Directory count bounded at O(compact_every).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.chunking import (
    CDC_AVG_SIZE,
    CDC_MAX_SIZE,
    CDC_MIN_SIZE,
    chunk_dedup_stats,
    content_defined_chunks,
)
from wurzel_spark.streaming._state import fold_stream, staged_state


def chunk_dedup_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_size: int = CDC_MIN_SIZE,
    avg_size: int = CDC_AVG_SIZE,
    max_size: int = CDC_MAX_SIZE,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the corpus-wide
    chunk-dedup accounting — identical to batch chunk_dedup_stats over
    the union of every batch."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["doc_id", "chunk_idx"],
        lambda b: content_defined_chunks(
            b, id_col, text_col, min_size, avg_size, max_size
        ),
        compact_every,
    )
    spark = stream.sparkSession
    # the key dedup is the drain-side replay guard
    staged = staged_state(
        spark, state_dir, ["doc_id", "chunk_idx"], ["chunk_len", "chunk_hash"]
    )
    if staged is None:
        return spark.createDataFrame(
            [],
            "n_chunks bigint, n_distinct_chunks bigint, total_bytes bigint, "
            "distinct_bytes bigint, dedup_ratio double",
        )
    return chunk_dedup_stats(staged)
