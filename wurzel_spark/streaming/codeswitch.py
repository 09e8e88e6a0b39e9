"""Streaming code-switching audit: additive per-source verdict counts
staged per micro-batch, the mixed-language table published at drain.

Batch twin: operators/textstats.code_switch_stats.  A document's
marker verdict (unmarked / monolingual / mixed) is row-local, so the
per-source counts are pure integer sums across any batch admission
split; each batch stages its per-source aggregate keyed by
(src_batch, source), the drain sums partials then runs the shared
permille tail (`code_switch_from_partials`, imported).  Bit-equal to
the batch query under any split; replay-safe via the fold protocol's
overwrite + key-dedup.

State size: n_sources rows per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import (
    code_switch_from_partials,
    code_switch_partials,
)
from wurzel_spark.streaming._state import fold_stream, summed_state

_PARTIAL_COLS = ["n_docs", "n_unmarked", "n_monolingual", "n_mixed"]


def code_switch_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the per-source
    code-switching table for the full corpus seen — identical to the
    batch code_switch_stats."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source"],
        lambda b: code_switch_partials(b, text_col), compact_every,
    )
    return drain_code_switch_state(stream.sparkSession, state_dir)


def drain_code_switch_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch partials, then the shared permille tail."""
    partials = summed_state(spark, state_dir, ["source"], _PARTIAL_COLS)
    if partials is None:
        return spark.createDataFrame(
            [],
            "source string, n_docs long, n_unmarked long, n_monolingual long, "
            "n_mixed long, mixed_permille long",
        )
    return code_switch_from_partials(partials)
