"""Streaming blocklist exposure: additive per-source hit partials staged
per micro-batch, the filter-rate table published at drain.

Batch twin: operators/textstats.blocklist_filter_stats.  Every partial
column (doc/flag/gate/hit/token counts) is a pure integer sum, so the
corpus aggregate is ADDITIVE across any batch admission split: each
batch stages its own per-source aggregate keyed by (batch_id, source) —
deterministic rows per key, so the fold protocol's crash-window
guarantee holds (a replayed batch OVERWRITES its partition; a crashed
fold's duplicates collapse under the key-dedup, never double-summing) —
and the drain sums partials before the shared permille tail
(`blocklist_from_partials`, imported, not re-implemented).  Bit-equal to
the batch query under any split.

State size: n_sources rows per batch — metadata-sized however large the
batches are; compaction bounds live dirs at O(compact_every).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import (
    BLOCKLIST_MAX_PERMILLE,
    BLOCKLIST_TERMS,
    blocklist_from_partials,
    blocklist_source_partials,
)
from wurzel_spark.streaming._state import fold_stream, summed_state

_PARTIAL_COLS = ["n_docs", "flagged_docs", "gated_docs", "total_hits", "total_tokens"]


def blocklist_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    terms: tuple[str, ...] = BLOCKLIST_TERMS,
    max_permille: int = BLOCKLIST_MAX_PERMILLE,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the blocklist
    filter-rate table for the full corpus seen — identical to the batch
    blocklist_filter_stats."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source"],
        lambda b: blocklist_source_partials(b, text_col, terms, max_permille),
        compact_every,
    )
    return drain_blocklist_state(stream.sparkSession, state_dir)


def drain_blocklist_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch partials, then the shared permille tail.
    Empty state → empty result with the batch schema."""
    partials = summed_state(spark, state_dir, ["source"], _PARTIAL_COLS)
    if partials is None:
        return spark.createDataFrame(
            [],
            "source string, n_docs long, flagged_docs long, gated_docs long, "
            "total_hits long, total_tokens long, hit_permille long",
        )
    return blocklist_from_partials(partials)
