"""Streaming compressibility scoring: the zlib-ratio/entropy quality
signal computed per micro-batch of arriving documents.

Batch twin: operators/textstats.compressibility_stats. Scoring is
row-local (each doc depends only on its own bytes), so per-batch
execution unions to exactly the batch result under any admission split.
Replay safety: batch-keyed overwrite output (``out_dir/batch=N``), the
idempotence pattern shared by streaming/classify.py — a redelivered
batch replaces its rows.

State-boundedness (r6 staging audit): ``out_dir`` is OUTPUT (one row
per input doc, write-once, never re-read here), not operator state —
deliberately off the _state.py fold protocol; see
streaming/classify.py's identical rationale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import compressibility_stats
from wurzel_spark.streaming._fs import path_exists
from wurzel_spark.streaming._state import output_stream


def compressibility_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Score each micro-batch; land (doc_id, n_bytes, zlib_ratio,
    char_entropy) under ``out_dir/batch=N``. Blocks until the
    availableNow run drains; returns the query."""

    q = output_stream(
        stream, out_dir, checkpoint_dir, lambda b: compressibility_stats(b, text_col)
    )
    spark = stream.sparkSession
    if not path_exists(spark, out_dir):  # every batch empty
        spark.createDataFrame(
            [], "doc_id long, n_bytes long, zlib_ratio double, char_entropy double"
        ).write.mode("overwrite").parquet(out_dir)
    return q
