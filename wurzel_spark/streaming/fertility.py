"""Streaming tokenizer-fertility stats: additive per-(source, lang)
partial sums staged per micro-batch, the fertility table published at
drain.

Batch twin: operators/textstats.tokenizer_fertility_stats.  The corpus
pass reduces to (source, lang) partials (doc/word/subword/char sums)
that are ADDITIVE across batches, so the streaming form stages each
batch's own aggregate keyed by (src_batch, source, lang) — rows
deterministic per key, so a replayed batch OVERWRITES its partition and
a crashed fold's duplicates collapse under the protocol's key-dedup,
never double-summing — and the drain sums partials before running the
shared derived-ratio tail (`fertility_from_sums`, imported, not
re-implemented).  Bit-equal to the batch operator under any admission
split: integer sums are order-independent.

State size: |source × lang| grid rows per batch — metadata-sized
however large the batches are; folds every ``compact_every`` batches
bound the directory count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import fertility_from_sums, fertility_sums
from wurzel_spark.streaming._state import fold_stream, summed_state


def fertility_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the per-(source,
    lang) fertility table for the full corpus seen — identical to the
    batch tokenizer_fertility_stats."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source", "lang"],
        lambda b: fertility_sums(b, text_col), compact_every,
    )
    return drain_fertility_state(stream.sparkSession, state_dir)


def drain_fertility_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch partials, then the shared derived tail.
    Empty state → empty result with the batch schema."""
    sums = summed_state(
        spark, state_dir, ["source", "lang"],
        ["n_docs", "n_ws_tokens", "n_subword_tokens", "n_chars"],
    )
    if sums is None:
        return spark.createDataFrame(
            [],
            "source string, lang string, n_docs long, n_ws_tokens long, "
            "n_subword_tokens long, n_chars long, fertility_permille long, "
            "chars_per_subword double",
        )
    return fertility_from_sums(sums)
