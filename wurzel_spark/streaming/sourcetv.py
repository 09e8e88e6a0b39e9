"""Streaming source-drift TV matrix: additive per-(source, term) counts
staged per micro-batch, the pairwise usage-rate drift matrix published
at drain.

Batch twin: operators/textstats.source_tv_matrix.  The per-(source,
term) token counts are pure integer sums — additive across any batch
admission split — so each batch stages its term counts keyed by
(src_batch, source, w) — the batch operator's own corpus pass
(`source_term_counts`, imported) — and the drain sums them before the
shared head-vocab/dense-grid/TV tail (`source_tv_from_counts`, imported
too).  The live ingest-drift monitor: a new shard whose term
USAGE rates diverge from its source's history moves the drained matrix
the moment it lands, before any model sees it.  Bit-equal to the batch
query on the same rows; replayed batches overwrite their partition (the
fold protocol's guarantee).

State size: |sources × per-batch vocab| rows per batch —
Heaps-sublinear in tokens, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import source_term_counts, source_tv_from_counts
from wurzel_spark.streaming._state import fold_stream, summed_state


def source_tv_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the pairwise TV
    drift matrix for the full corpus seen — identical to the batch twin."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source", "w"],
        lambda b: source_term_counts(b, text_col), compact_every,
    )
    return drain_source_tv_state(stream.sparkSession, state_dir)


def drain_source_tv_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch term counts, then the shared TV tail."""
    per_sw = summed_state(spark, state_dir, ["source", "w"], ["c"])
    if per_sw is None:
        return spark.createDataFrame(
            [],
            "src_a string, src_b string, head_tv_permille long,"
            " head_share_a long, head_share_b long",
        )
    return source_tv_from_counts(per_sw)
