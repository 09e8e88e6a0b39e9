"""Streaming event-hour anomaly detection: additive hourly-count
partials staged per micro-batch, the rank-median/MAD gate at drain.

Batch twin: queries/events.event_hour_anomalies.  Hourly counts are
additive across batches, so each batch stages its OWN
(event_type, hour) aggregate keyed by (src_batch, event_type, hour) —
deterministic per key (replay overwrites its partition; a crashed fold's
duplicates collapse under the key-dedup, never double-counting) — and
the drain sums partials before the shared median/MAD tail
(`anomalies_from_hourly`, imported).  Bit-equal to batch under any
admission split: integer sums are order-independent, and the order
statistics read only the summed hourly table.

State: n_types × n_hours rows per batch — bounded by the CLOCK, not the
event volume (the same argument as watermarked windowed aggregation,
realized on the replay-safe fold protocol so late events never need a
watermark cutoff: an hour's count just keeps absorbing partials).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.queries.events import anomalies_from_hourly, event_hourly_counts
from wurzel_spark.streaming._state import fold_stream, summed_state


def event_anomaly_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow event stream; return the anomaly rows for
    the full stream seen — identical to the batch event_hour_anomalies."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "event_type", "hour"],
        event_hourly_counts, compact_every,
    )
    return drain_anomaly_state(stream.sparkSession, state_dir)


def drain_anomaly_state(spark, state_dir: str) -> DataFrame:
    hourly = summed_state(spark, state_dir, ["event_type", "hour"], ["c"])
    if hourly is None:
        return spark.createDataFrame(
            [],
            "event_type string, hour timestamp, n_events long, "
            "median_events long, mad_events long",
        )
    return anomalies_from_hourly(hourly)
