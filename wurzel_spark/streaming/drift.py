"""Streaming drift detection: day-over-day PSI of the event-type mix
maintained incrementally over an event stream.

Batch twin: queries/events.event_type_drift — BOTH call
``psi_from_type_counts``, so the math cannot drift between the forms.
A day's counts arrive split across micro-batches, so the state is
per-batch partial counts with ``src_batch`` provenance (the
streaming/cms.py pattern): sums cannot be pre-folded without losing the
ability to recognize a replayed batch, but provenance-keyed rows can —
the drain dedups (src_batch, day, event_type) then sums, making a batch
re-delivered after its fold committed a no-op. Directory count bounded
at O(compact_every) via the shared crash-safe fold; state rows grow one
(days-in-batch × types) table per batch — tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.queries.events import psi_from_type_counts
from wurzel_spark.streaming._state import fold_stream, summed_state


def _day_type_counts(batch_df: DataFrame) -> DataFrame:
    return (
        batch_df.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        # this state stages src_batch as long: pin the tag type to match
        .withColumn("src_batch", F.lit(None).cast("long"))
    )


def event_drift_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = 16,
) -> DataFrame:
    """Drain an availableNow event stream staging per-batch (day, type)
    counts; return the full day-over-day PSI table — identical to the
    batch event_type_drift over the same events."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "day", "event_type"],
        _day_type_counts, compact_every,
    )
    spark = stream.sparkSession
    merged = summed_state(spark, state_dir, ["day", "event_type"], ["c"])
    if merged is None:
        return spark.createDataFrame(
            [], "day timestamp, n_events bigint, psi_q20 bigint"
        )
    return psi_from_type_counts(merged)
