"""Streaming inverted-index maintenance: per-batch posting partials
staged under the fold protocol — the staged state IS the materialized
index — with the bucket-layout stats published at drain.

Batch twin: operators/textstats.inverted_index_stats.  A posting row
(term-hash, doc, tf) is complete within the batch that admits the doc
(a doc arrives in exactly one micro-batch), so rows are deterministic
per (src_batch, h, doc_id) and the protocol's default key-dedup fold
applies: a replayed batch overwrites its own partition, a crashed fold's
duplicates collapse under the key-dedup, never double-counting.  For
robustness against a doc split across batches anyway (a re-ingest of an
APPENDED document), the drain SUMS tf per (h, doc_id) after the dedup —
integer sums are admission-order independent, so the drain stays
bit-equal to the batch operator over the union of all admitted batches.

Unlike the metadata-sized twins (quality sweep, fertility), this state
is data-sized BY DESIGN — it is the index a keyword service would load,
sharded by the same hash buckets the stats report on; ``compact_every``
bounds the directory count, not the byte size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import (
    index_postings,
    index_stats_from_postings,
)
from wurzel_spark.streaming._state import fold_stream, summed_state


def index_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the bucket-layout
    stats for the full corpus seen — identical to the batch
    inverted_index_stats."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "h", "doc_id"],
        lambda b: index_postings(b, text_col), compact_every,
    )
    return drain_index_state(stream.sparkSession, state_dir)


def drain_index_state(spark, state_dir: str) -> DataFrame:
    """Key-dedup the staged postings, merge per (h, doc), run the shared
    bucket tail. Empty state → empty result with the batch schema."""
    post = summed_state(spark, state_dir, ["h", "doc_id"], ["tf"])
    if post is None:
        return spark.createDataFrame(
            [],
            "bucket long, n_terms long, n_postings long, n_tokens long, "
            "max_posting_len long",
        )
    return index_stats_from_postings(post)
