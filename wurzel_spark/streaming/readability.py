"""Streaming readability profile: additive per-source Flesch/FK-grade
partials staged per micro-batch, the band table published at drain.

Batch twin: operators/textstats.readability_stats.  Every partial column
(doc/unscored counts, milli-unit score sums, band counts) is a pure
integer sum — additive across any batch admission split — so each batch
stages its per-source aggregate keyed by (src_batch, source) and the
drain sums partials before the shared cast/order tail
(`readability_from_partials`, imported, not re-implemented). Bit-equal
to the batch query under any split; a replayed batch overwrites its
partition and crash-window duplicates collapse under the key-dedup (the
fold protocol's guarantee).

State size: n_sources rows per batch, metadata-sized at any batch size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import (
    readability_from_partials,
    readability_partials,
)
from wurzel_spark.streaming._state import fold_stream, summed_state

_PARTIAL_COLS = [
    "n_docs",
    "n_unscored",
    "sum_flesch_milli",
    "sum_grade_milli",
    "n_easy",
    "n_standard",
    "n_hard",
]


def readability_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the per-source
    readability table for the full corpus seen — identical to the batch
    readability_stats."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source"],
        lambda b: readability_partials(b, text_col), compact_every,
    )
    return drain_readability_state(stream.sparkSession, state_dir)


def drain_readability_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch partials, then the shared cast tail."""
    partials = summed_state(spark, state_dir, ["source"], _PARTIAL_COLS)
    if partials is None:
        return spark.createDataFrame(
            [],
            "source string, n_docs long, n_unscored long, sum_flesch_milli long,"
            " sum_grade_milli long, n_easy long, n_standard long, n_hard long",
        )
    return readability_from_partials(partials)
