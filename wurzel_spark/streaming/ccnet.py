"""Streaming CCNet LM scoring: per-batch doc-grain bigram partials
staged under the fold protocol — the staged state IS the scoring input —
with the LM trained and every document (re-)scored at drain.

Batch twin: operators/textstats.ccnet_lm_perplexity.  A document's
bigram rows are complete within the batch that admits it (a doc arrives
in exactly one micro-batch), so rows are deterministic per
(src_batch, doc_id, h1, h2) and the protocol's default key-dedup fold
applies: a replayed batch overwrites its own partition, a crashed fold's
duplicates collapse under the key-dedup.  For robustness against a doc
re-ingested across batches anyway, the drain SUMS multiplicities per
(doc_id, source, lang, h1, h2) after the dedup — integer sums are
admission-order independent.

Training at DRAIN (not per batch) is the point: the reference-slice LM
sees the FULL admitted corpus, so late-arriving train docs retroactively
sharpen every score — the drain is bit-equal to the batch query over the
union of admitted batches, which no incrementally-frozen LM would be.
Like the inverted-index twin, this state is data-sized BY DESIGN (the
doc-grain bigram table a scoring service would hold); ``compact_every``
bounds the directory count, not the byte size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.operators.textstats import (
    ccnet_doc_bigrams,
    ccnet_scores_from_bigrams,
)
from wurzel_spark.streaming._state import fold_stream, staged_state


def ccnet_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the per-doc LM
    perplexity table for the full corpus seen — identical to the batch
    ccnet_lm_perplexity."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "doc_id", "h1", "h2"],
        lambda b: ccnet_doc_bigrams(b, text_col), compact_every,
    )
    return drain_ccnet_state(stream.sparkSession, state_dir)


def drain_ccnet_state(spark, state_dir: str) -> DataFrame:
    """Re-assemble the doc-grain bigram table from the staged partials,
    then the shared train/score tail. Empty state → empty result with
    the batch schema."""
    staged = staged_state(
        spark, state_dir, ["src_batch", "doc_id", "h1", "h2"], ["source", "lang", "m"]
    )
    if staged is None:
        return spark.createDataFrame(
            [],
            "doc_id long, source string, lang string, n_bigrams long, "
            "oov_bigrams long, nll_q20 long, avg_nll_q20 long",
        )
    sc = staged.groupBy("doc_id", "source", "lang", "h1", "h2").agg(
        F.sum("m").alias("m")
    )
    return ccnet_scores_from_bigrams(sc)
