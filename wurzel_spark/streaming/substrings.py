"""Streaming ExactSubstr (Lee et al. 2022) removal stats: stage each
micro-batch's L-window hashes, publish corpus-exact removal stats at
drain.

Batch twin: operators/substrings.exact_substring_removal. The duplicated
set ("window hash occurs ≥2 times ANYWHERE") is a property of the FULL
corpus — a window unique today becomes duplicated when its twin arrives
in a later batch — so the streaming form is order-independent by
construction: stage every batch's (doc_id, s, h) window rows plus the
(doc_id, 0, n_tokens) totals, and at drain run the SAME hot-set →
semi-join → interval-merge tail (`_hot_dup_starts` +
`removal_stats_from_starts`, imported, not re-implemented) over the
staged union — bit-equal to the batch operator under any admission split.

State: (doc_id, s, h) longs — 24 B/row, the exploded window table the
batch operator builds anyway, persisted instead of recomputed. The
per-doc totals ride along as sentinel rows with s=0 (a real window start
is 1-based, so the sentinel key can never collide) carrying n_tokens in
the h slot — one state dir, one schema, rows deterministic per
(doc_id, s) as the fold protocol requires. Batches land under
``batch=N`` (overwrite ⇒ replay-safe) and fold every ``compact_every``
partitions through the shared crash-safe protocol (streaming/_state.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.operators.substrings import (
    MIN_DUP_LEN,
    _hot_dup_starts,
    removal_stats_from_starts,
    window_hashes,
)
from wurzel_spark.streaming._state import fold_stream, staged_state


def exact_substring_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = MIN_DUP_LEN,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return (doc_id, n_tokens,
    n_dup_windows, n_runs, n_removed_tokens, removed_frac) for the full
    corpus seen — identical to the batch exact_substring_removal."""

    def _stage(batch_df: DataFrame) -> DataFrame:
        wins, toks = window_hashes(batch_df, length, id_col, text_col)
        return wins.unionByName(
            toks.select(
                "doc_id",
                F.lit(0).cast("int").alias("s"),
                F.col("n_tokens").cast("long").alias("h"),
            )
        )

    fold_stream(
        stream, state_dir, checkpoint_dir, ["doc_id", "s"], _stage, compact_every
    )
    return drain_substring_state(stream.sparkSession, state_dir, length)


def drain_substring_state(
    spark, state_dir: str, length: int = MIN_DUP_LEN
) -> DataFrame:
    """Run the batch stats tail over the staged state. Empty state →
    empty result with the batch schema."""
    # Replay guard (ADVICE r7): a batch replayed after a completed fold
    # (crash between fold rename and checkpoint commit) exists BOTH in the
    # folded partition and in its rewritten batch=N partition. Rows are
    # deterministic per (doc_id, s), so key-dedup restores exactly-once —
    # without it _hot_dup_starts counts every window of a replayed doc ≥2
    # times and falsely flags ALL of them, and duplicated s=0 sentinels
    # emit duplicate per-doc output rows. Matches the other drains
    # (chunks.py, fof.py, quality.py, quantiles.py).
    staged = staged_state(spark, state_dir, ["doc_id", "s"], ["h"])
    if staged is None:
        return spark.createDataFrame(
            [],
            "doc_id long, n_tokens int, n_dup_windows long, n_runs long, "
            "n_removed_tokens long, removed_frac double",
        )
    totals = staged.filter(F.col("s") == 0).select(
        "doc_id", F.col("h").cast("int").alias("n_tokens")
    )
    wins = staged.filter(F.col("s") > 0)
    return removal_stats_from_starts(_hot_dup_starts(wins), totals, length)
