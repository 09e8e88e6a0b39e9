"""Streaming corpus checksum: per-batch per-source hash-sum partials
staged under the fold protocol, the multiset-integrity table published
at drain.

Batch twin: operators/textstats.corpus_checksum.  Addition mod 2^61 is
commutative/associative, so per-source partials are ADDITIVE across any
batch admission split: each batch stages its own (source, n_docs,
sum_chars, checksum) aggregate keyed by (batch_id, source) — rows
deterministic per key, so a replayed batch overwrites its partition and
a crashed fold's duplicates collapse under the key-dedup — and the drain
sums counts and re-reduces checksums mod 2^61.  Bit-equal to the batch
checksum over the union of admitted batches.

The use case is the one integrity wants: a continuously-ingested corpus
keeps a live checksum per source; any re-encode / migration / compaction
of the accumulated data can be verified against it WITHOUT re-reading
the original stream.  State: n_sources rows per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.operators.textstats import _CHK_MOD, corpus_checksum
from wurzel_spark.streaming._state import fold_stream, staged_state


def checksum_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    hasher: str = "md5",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the per-source
    checksum table for the full corpus seen — identical to the batch
    corpus_checksum."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source"],
        lambda b: corpus_checksum(b, text_col, hasher), compact_every,
    )
    return drain_checksum_state(stream.sparkSession, state_dir)


def drain_checksum_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged partials; checksums re-reduce mod 2^61 (the partial
    sums are already < 2^61, so the drain sum fits decimal(38,0) for any
    realistic batch count). Empty state → empty result, batch schema."""
    staged = staged_state(
        spark, state_dir, ["src_batch", "source"], ["n_docs", "sum_chars", "checksum"]
    )
    if staged is None:
        return spark.createDataFrame(
            [], "source string, n_docs long, sum_chars long, checksum long"
        )
    return (
        staged.groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_chars").alias("sum_chars"),
            F.expr(
                f"CAST(sum(CAST(checksum AS DECIMAL(38,0))) % {_CHK_MOD} AS BIGINT)"
            ).alias("checksum"),
        )
        .orderBy("source")
    )
