"""Stateful streaming deduplication.

Batch twin: wurzel_spark.operators.dedup.exact_dedup (the reference's
DropDuplicationStep, wurzel/steps/duplication.py:21-51, keyed on
DROP_BY_FIELDS default ["md"]). Here the same key — a sha2 content hash —
is deduplicated *incrementally* as documents arrive on a stream, the
pattern a continuously-ingesting 100 TB corpus needs instead of the
reference's cron full re-runs.

Two state regimes:

- ``dedup_stream``: plain ``dropDuplicates`` on the hash. State holds one
  entry per distinct key forever — exact, but state grows with corpus
  cardinality. Right for bounded key spaces (event types, daily partitions).
- ``dedup_stream_within_watermark``: ``dropDuplicatesWithinWatermark`` —
  duplicates are only suppressed while they can still arrive (within the
  event-time watermark), so state is bounded by the delay window, not the
  corpus. Right for at-least-once ingestion replay (the same event
  re-delivered within minutes), which is the dominant duplicate source in
  a streaming pipeline. On a real cluster back this with the RocksDB state
  store; state per key is just the key hash + one timestamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["with_content_hash", "dedup_stream", "dedup_stream_within_watermark"]


def with_content_hash(df: DataFrame, text_col: str = "text", out_col: str = "content_hash") -> DataFrame:
    """Stable dedup key: sha2-256 of the content column (the identity rule
    of PydanticModel.__hash__, datacontract.py:194-206, collapsed to one
    column). Hashing before the stateful op keeps state entries at 64 bytes
    regardless of document size."""
    return df.withColumn(out_col, F.sha2(F.col(text_col).cast("string"), 256))


def dedup_stream(stream: DataFrame, keys: list[str]) -> DataFrame:
    """Exact streaming dedup: first arrival of each key wins, forever.
    Unbounded state — prefer the watermark variant for unbounded key
    spaces."""
    return stream.dropDuplicates(keys)


def dedup_stream_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Watermark-bounded streaming dedup: a duplicate arriving within
    `delay` of the original (event time) is dropped; state for a key is
    reaped once the watermark passes it. Exactly-once semantics for
    at-least-once sources whose redelivery lag is < `delay`."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def curate_stream_to_versioned_sink(
    stream,
    checkpoint_dir: str,
    writer,
    order_col: str = "doc_id",
    text_col: str = "text",
    staging_dir: str | None = None,
    compact_every: int | None = 16,
):
    """End-to-end STREAMING curation: a document stream is quality-filtered
    (Gopher rule battery) and PII-flag-filtered, exact-deduplicated, and
    published through the versioned-collection sink as ONE collection
    version per RUN (the reference's atomic publish-by-rename semantics).

    The source may split the input into several micro-batches
    (file-count/size admission limits), so per-batch publishing would leave
    the alias pointing at only the LAST batch's rows. Instead each
    micro-batch stages its curated rows through the shared crash-safe
    fold protocol (streaming/_state.py — r6, closing the r4 staging
    call-out): overwrite to ``staging/batch=N`` ⇒ idempotent under
    replay, and every ``compact_every`` partitions the state folds with
    the ORDER-AWARE reduction this pipeline needs — keep the minimum
    ``order_col`` row per content hash (the default pick-any key-dedup
    could drop the row the final publish is contractually required to
    keep). The fold is idempotent and absorbs duplicates, so directory
    count stays O(compact_every) over arbitrarily long runs. After the
    availableNow stream drains, the staged union is deduplicated globally
    by the same rule and written once: one version, one alias flip, no
    dropped batches. Dedup is thus cross-batch, not within-batch-only.

    ``foreachBatch`` is the right bridge: the per-batch curation runs the
    SAME operators as the batch pipeline — no twin drift — while the
    driver-coordinated create→insert→alias→retire protocol runs exactly
    once per run. Blocks until published; returns the (terminated)
    StreamingQuery.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from wurzel_spark.operators.textstats import gopher_quality_flags, pii_scan
    from wurzel_spark.streaming._state import fold_stream

    staging = staging_dir or f"{checkpoint_dir.rstrip('/')}_staging"
    spark = stream.sparkSession

    def _min_order_per_content(df):
        # The order-aware fold: keep the smallest order_col per content
        # hash. Idempotent, deterministic, absorbs exact-duplicate rows —
        # and exactly the rule the final publish applies, so folding early
        # can never change the published set.
        w = Window.partitionBy(F.sha2(F.col(text_col).cast("string"), 256)).orderBy(
            order_col
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _curate(batch_df):
        keep_ids = (
            gopher_quality_flags(batch_df, text_col)
            .filter(F.col("ok_mean_word_len") & F.col("ok_symbol_ratio"))
            .select("doc_id")
        )
        clean_ids = pii_scan(batch_df, text_col).filter(~F.col("pii_flag")).select("doc_id")
        return (
            batch_df.join(keep_ids, "doc_id", "left_semi")
            .join(clean_ids, "doc_id", "left_semi")
            .dropDuplicates([text_col])  # within-batch shrink before staging
        )

    q = fold_stream(
        stream, staging, checkpoint_dir, ["doc_id"], _curate, compact_every,
        fold=_min_order_per_content,
    )

    from wurzel_spark.streaming._fs import path_exists

    if path_exists(spark, staging):
        staged = spark.read.parquet(staging).drop("batch")
        # Global (cross-batch) dedup with the SAME rule as the fold —
        # also collapses a batch re-delivered after its fold committed.
        final = _min_order_per_content(staged)
        writer.write(final, order_col=order_col, history="stream-run")
    # The staging dir's job is done once the version is published. Drop it
    # so (a) the per-run batch dirs don't accumulate across runs and (b) a
    # later run with a FRESH checkpoint (batch ids restart at 0, and a
    # shorter run would overwrite only a prefix of them) can never union
    # a previous run's stale batches into its publish.
    from wurzel_spark.streaming._fs import delete_path
    from wurzel_spark.streaming._state import fold_tmp

    delete_path(spark, staging)
    delete_path(spark, fold_tmp(staging))  # a dangling fold tmp would be
    # completed INTO the next fresh run's state by recover_fold — stale rows
    return q
