"""Streaming unicode-contamination audit: additive per-source counts
staged per micro-batch, the dirty-permille table published at drain.

Batch twin: operators/textstats.unicode_clean_stats.  Every partial
column (doc/affected/char and the four contaminant-class counts) is a
pure integer sum — additive across any batch admission split — so each
batch stages its per-source aggregate keyed by (src_batch, source) and
the drain sums partials before the shared permille tail
(`unicode_stats_from_partials`, imported, not re-implemented).
Bit-equal to the batch query under any split; a replayed batch
overwrites its partition and crash-window duplicates collapse under the
key-dedup (the fold protocol's guarantee).

State size: n_sources rows per batch, metadata-sized at any batch size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import (
    unicode_stats_from_partials,
    unicode_stats_partials,
)
from wurzel_spark.streaming._state import fold_stream, summed_state

_PARTIAL_COLS = [
    "n_docs",
    "n_docs_affected",
    "n_chars",
    "n_zero_width",
    "n_control",
    "n_space_mapped",
    "n_fullwidth",
]


def unicode_stats_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the per-source
    contamination table for the full corpus seen — identical to the
    batch unicode_clean_stats."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source"],
        lambda b: unicode_stats_partials(b, text_col), compact_every,
    )
    return drain_unicode_state(stream.sparkSession, state_dir)


def drain_unicode_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch partials, then the shared permille tail."""
    partials = summed_state(spark, state_dir, ["source"], _PARTIAL_COLS)
    if partials is None:
        return spark.createDataFrame(
            [],
            "source string, n_docs long, n_docs_affected long, n_chars long, "
            "n_zero_width long, n_control long, n_space_mapped long, "
            "n_fullwidth long, dirty_permille long",
        )
    return unicode_stats_from_partials(partials)
