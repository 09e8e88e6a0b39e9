"""Streaming latency percentiles: additive per-(type, value) histogram
counts staged per micro-batch, the exact p50/p90/p99 table published at
drain — live dashboards' single most-read row, without a sketch.

Batch twin: queries/events.value_percentiles_by_type.  The value
histogram (milli-quantized, NaN-excluded) is a pure count table —
additive across any batch admission split — so each batch stages its
(event_type, v_milli) counts keyed by (src_batch, event_type, v_milli)
and the drain sums then runs the shared cumulative-rank tail
(`value_percentiles_from_hist`, imported, not re-implemented).
Bit-equal to the batch query on the same rows; replayed batches
overwrite their partition (the fold protocol's guarantee).

State size: |types × distinct milli-values| rows per batch — bounded by
the value domain, never the event corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.queries.events import value_hist, value_percentiles_from_hist
from wurzel_spark.streaming._state import fold_stream, summed_state


def value_percentiles_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow event stream; return the per-type exact
    percentile table for the full stream seen — identical to the batch
    twin."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "event_type", "v_milli"],
        value_hist, compact_every,
    )
    return drain_percentile_state(stream.sparkSession, state_dir)


def drain_percentile_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch histograms, then the shared rank tail."""
    hist = summed_state(spark, state_dir, ["event_type", "v_milli"], ["c"])
    if hist is None:
        return spark.createDataFrame(
            [],
            "event_type string, n_values long, sum_milli long,"
            " p500_milli long, p900_milli long, p990_milli long",
        )
    return value_percentiles_from_hist(hist)
