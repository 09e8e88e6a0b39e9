"""Streaming segment-level language spans: per-(source, lang) additive
line/doc counts staged per micro-batch, the share table published at
drain.

Batch twin: operators/textstats.line_lang_spans.  Line labels are
row-local and documents never straddle a batch, so both partial columns
(n_lines, n_docs) are pure integer sums across any admission split; the
per-source share denominator re-derives as a window sum at drain — no
extra staged state.  Each batch stages its per-(source, lang) aggregate
keyed by (src_batch, source, lang); the drain sums partials then runs
the shared share tail (`line_lang_from_partials`, imported, not
re-implemented).  Bit-equal to the batch query under any split;
replay-safe via the fold protocol's overwrite + key-dedup.

State size: n_sources · (n_langs + 1) rows per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import (
    line_lang_from_partials,
    line_lang_partials,
)
from wurzel_spark.streaming._state import fold_stream, summed_state


def line_lang_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the per-(source,
    lang) line-share table for the full corpus seen — identical to the
    batch line_lang_spans."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source", "lang"],
        lambda b: line_lang_partials(b, text_col), compact_every,
    )
    return drain_line_lang_state(stream.sparkSession, state_dir)


def drain_line_lang_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch partials, then the shared share tail."""
    partials = summed_state(
        spark, state_dir, ["source", "lang"], ["n_lines", "n_docs"]
    )
    if partials is None:
        return spark.createDataFrame(
            [],
            "source string, lang string, n_lines long, n_docs long, "
            "line_share_permille long",
        )
    return line_lang_from_partials(partials)
