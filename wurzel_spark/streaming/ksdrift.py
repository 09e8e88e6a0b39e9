"""Streaming KS length-drift: additive (source, value) counts staged per
micro-batch, the per-source D table published at drain.

Batch twin: operators/textstats.ks_length_drift.  The ONLY corpus-grain
input of the KS computation is the (source, value) count table — a pure
integer sum, additive across any batch admission split — so each batch
stages its aggregate keyed by (src_batch, source, v) and the drain sums
partials before the shared grid/window/max tail (`ks_from_partials`,
imported, not re-implemented). The rest-of-corpus reference shifts as
batches arrive, so every drain re-derives the dense grid from the
current summed counts — bit-equal to the batch query on the same rows.
Replayed batches overwrite their partition and crash-window duplicates
collapse under the key-dedup (the fold protocol's guarantee).

State size: |sources × distinct values| rows per batch — bounded by the
value domain, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import ks_from_partials, ks_length_partials
from wurzel_spark.streaming._state import fold_stream, summed_state


def ks_drift_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str = "n_chars",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the KS drift table
    for the full corpus seen — identical to the batch ks_length_drift."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source", "v"],
        lambda b: ks_length_partials(b, value_col), compact_every,
    )
    return drain_ks_state(stream.sparkSession, state_dir)


def drain_ks_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch counts, then the shared grid/max tail."""
    partials = summed_state(spark, state_dir, ["source", "v"], ["c"])
    if partials is None:
        return spark.createDataFrame(
            [], "source string, n_docs long, ks_permille long, drift_flag boolean"
        )
    return ks_from_partials(partials)
