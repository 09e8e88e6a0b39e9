"""Streaming quality-threshold sweep: additive score-bucket partials
staged per micro-batch, the full yield-curve grid published at drain.

Batch twin: operators/textstats.quality_threshold_sweep.  The corpus
pass of the sweep reduces to (source, bucket) partials that are ADDITIVE
across batches, so the streaming form stages each batch's own bucket
aggregate keyed by (batch_id, source, b) — rows deterministic per key
(the fold protocol's crash-window requirement: a replayed batch
OVERWRITES its partition, and a crashed fold's duplicates collapse under
the key-dedup, never double-summing) — and the drain sums partials
before running the shared sweep tail (`sweep_from_buckets`, imported,
not re-implemented).  Bit-equal to the batch sweep under any admission
split: integer sums are order-independent.

State size: n_sources × ≤11 buckets per batch — metadata-sized however
large the batches are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import (
    quality_score_buckets,
    sweep_from_buckets,
)
from wurzel_spark.streaming._state import fold_stream, summed_state


def quality_sweep_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the quality yield
    curve for the full corpus seen — identical to the batch
    quality_threshold_sweep."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source", "b"],
        lambda b: quality_score_buckets(b, text_col), compact_every,
    )
    return drain_quality_sweep_state(stream.sparkSession, state_dir)


def drain_quality_sweep_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch partials, then the shared sweep tail.
    Empty state → empty result with the batch schema."""
    buckets = summed_state(
        spark, state_dir, ["source", "b"], ["n_docs", "n_tokens"]
    )
    if buckets is None:
        return spark.createDataFrame(
            [],
            "source string, threshold long, n_docs_kept long, "
            "n_tokens_kept long, doc_frac double, token_frac double",
        )
    return sweep_from_buckets(buckets)
