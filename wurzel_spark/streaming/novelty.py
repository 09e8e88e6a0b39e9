"""Streaming n-gram novelty: maintain the per-doc shingle state across
micro-batches and publish global novelty at drain.

Batch twin: operators/dedup.ngram_novelty. Novelty's "first seen" is
defined by the MIN doc id, not arrival order, so the streaming form is
order-INDEPENDENT: stage every batch's (id, shingle) pairs
(`ngram_novelty_shingles`), and at drain run the batch operator's own
tail (`ngram_novelty_from_shingles`, imported) over the staged union
— bit-equal to ngram_novelty over the whole corpus under any admission
split (parity-tested with one-file-per-trigger admission and the
compaction cadence enabled).

State: (id, shingle) longs — ~16 B/row, the exploded shingle table the
batch operator builds anyway, persisted instead of recomputed. Batches
land under ``batch=N`` (overwrite ⇒ replay-safe) and fold every
``compact_every`` partitions through the shared crash-safe protocol
(streaming/_state.py), so the directory count stays O(compact_every)
over thousands of micro-batches.

For LIVE per-batch gating (score today's batch without waiting for a
drain barrier) use operators/dedup.incremental_ngram_novelty against a
persisted build_novelty_index — that's the latency-oriented sibling;
this module is the throughput-oriented exact twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.dedup import ngram_novelty_from_shingles, ngram_novelty_shingles
from wurzel_spark.streaming._state import fold_stream, staged_state


def novelty_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return (doc_id, n_shingles,
    n_novel, novelty) for the full corpus seen — identical to the batch
    ngram_novelty."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["id", "shingle"],
        lambda b: ngram_novelty_shingles(b, id_col, text_col, n),
        compact_every,
    )
    return drain_novelty_state(stream.sparkSession, state_dir, id_col)


def drain_novelty_state(spark, state_dir: str, id_col: str = "doc_id") -> DataFrame:
    """Global novelty over the staged shingle state — the drain half of
    :func:`novelty_stream`, exposed so replay scenarios are testable."""
    # Replay-safety at the DRAIN, not just the write: after a fold commits
    # batch N into the folded batch=-(N+1) partition, an at-least-once
    # redelivery (foreachBatch retry before checkpoint commit, or the
    # recover_fold path) can re-write the same rows under batch=N. Both
    # copies are then visible to this read, double-counting n_shingles and
    # halving novelty. Rows are deterministic per (id, shingle) key — the
    # per-doc shingle set is array_distinct by construction — so a key-level
    # dedup restores exactly-once semantics (same guard as
    # snapshot_diff_stream's dedup on id).
    sh = staged_state(spark, state_dir, ["id", "shingle"], [])
    if sh is None:
        return spark.createDataFrame(
            [], f"{id_col} long, n_shingles long, n_novel long, novelty double"
        )
    return ngram_novelty_from_shingles(sh, id_col)
