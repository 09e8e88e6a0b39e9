"""Streaming as-of enrichment: a live event stream joined, per
micro-batch, to the most recent row of a STATIC reference table at or
before each event's timestamp.

Batch twin: wurzel_spark.operators.asof.asof_join (the
`asof_last_order_before_event` query). Structured Streaming cannot run
the union + carry-forward window directly (no stream-side global sort),
but enrichment against a static reference is embarrassingly
batch-decomposable: each output row depends ONLY on its own event and
the static table, so running the batch operator inside ``foreachBatch``
over any micro-batch partitioning of the stream yields exactly the
batch result's union — parity holds for every admission-control split,
unlike stateful aggregations (no cross-batch state at all).

Scale notes: each micro-batch pays the batch operator's single keyed
shuffle of (batch ∪ reference). For a large static reference that
re-shuffles the reference every batch — pre-aggregate it to one row per
(key, t) once (done here, outside the loop) and, on a real cluster,
persist it partitioned by the join key so each micro-batch's shuffle
moves only the batch side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.asof import asof_join
from wurzel_spark.streaming._state import output_stream


def asof_enrich_stream(
    stream: DataFrame,
    reference: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    tiebreak: str,
    how: str = "inner",
):
    """Run the batch as-of join on every micro-batch of ``stream`` against
    static ``reference``; land results under ``out_dir/batch=N``
    (overwrite — r6 staging audit: plain append duplicated a replayed
    batch's rows; batch-keyed overwrite is the replay-idempotent output
    pattern of streaming/classify.py). Blocks until the availableNow run
    drains; returns the query."""
    return output_stream(
        stream,
        out_dir,
        checkpoint_dir,
        lambda b: asof_join(
            b, reference, key, left_time, right_time, value_cols, tiebreak, how
        ),
    )
