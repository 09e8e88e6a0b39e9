"""Streaming t-closeness release: additive (quasi, sensitive) counts
staged per micro-batch, the gated release table published at drain.

Batch twin: operators/textstats.tcloseness_release.  The ONLY
corpus-grain input of the t-closeness computation is the
(quasi, sensitive) count table — a pure integer sum, additive across any
batch admission split — so each batch stages its aggregate keyed by
(src_batch, source, lang) and the drain sums partials before the shared
window + suppression tail (`tcloseness_from_partials`, imported, not
re-implemented). Because the GLOBAL distribution shifts as batches
arrive, every drain re-derives all three window totals from the current
summed counts — the release set is always the gate applied to the
corpus seen so far, bit-equal to the batch query on the same rows.
Replayed batches overwrite their partition and crash-window duplicates
collapse under the key-dedup (the fold protocol's guarantee).

State size: |sources × langs| rows per batch, metadata-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import (
    tcloseness_from_partials,
    tcloseness_partials,
)
from wurzel_spark.streaming._state import fold_stream, summed_state


def tcloseness_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the t-closeness
    release table for the full corpus seen — identical to the batch
    tcloseness_release."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source", "lang"],
        tcloseness_partials, compact_every,
    )
    return drain_tcloseness_state(stream.sparkSession, state_dir)


def drain_tcloseness_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch counts, then the shared window/gate tail."""
    partials = summed_state(spark, state_dir, ["source", "lang"], ["c"])
    if partials is None:
        return spark.createDataFrame(
            [],
            "source string, n_docs long, max_tvd_permille long,"
            " n_merged_groups long",
        )
    return tcloseness_from_partials(partials)
