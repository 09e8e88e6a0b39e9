"""Streaming Good-Turing frequency-of-frequencies: per-type count
partials staged per micro-batch with an AGGREGATING fold, the capped
histogram published at drain.

Batch twin: operators/textstats.term_freq_of_freq.  Type counts are
additive across batches, but unlike the quality-sweep/anomaly twins the
per-batch partial table is VOCABULARY-sized — so the per-batch staging
(keyed by (src_batch, source, h), deterministic per key) is compacted by
a custom fold that (1) key-dedups the union (absorbing crash-window
duplicate rows) and then (2) SUMS partials into one row per live type
re-keyed under the ``src_batch = -1`` sentinel.  Re-keying destroys the
per-batch identity an at-least-once replay needs, so the fold runs with
``fold_current=False`` (ADVICE r7): it absorbs only checkpoint-COMMITTED
prior batches — which can never replay — while the in-flight batch keeps
its own overwrite-idempotent ``batch=N`` partition.  The fold is
idempotent (summing singleton groups is a no-op) and associative
(integer addition), so state is bounded at one folded row per live type
plus at most ``compact_every`` recent batch partials — the honest
production state for type counting, reached without approximation.

Drain: key-dedup (crash windows outside fold points), sum partials, run
the shared histogram tail (`fof_from_types`, imported) — bit-equal to
the batch operator under any admission split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.operators.textstats import fof_from_types, term_type_counts
from wurzel_spark.streaming._state import fold_batch, foreach_batch, summed_state

_FOLDED = -1  # sentinel src_batch for aggregated rows


def fold_types(union: DataFrame) -> DataFrame:
    """The aggregating fold: key-dedup then sum partials into one row per
    live type under the ``src_batch = -1`` sentinel. Re-keying means this
    fold may ONLY see checkpoint-committed batches (``fold_current=False``
    in fold_batch) — see the module docstring."""
    return (
        union.dropDuplicates(["src_batch", "source", "h"])
        .groupBy("source", "h")
        .agg(F.sum("c").alias("c"))
        .withColumn("src_batch", F.lit(_FOLDED))
    )


def stage_type_counts(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> None:
    """Land one batch's per-type count partials (exposed for replay
    tests; fof_stream's foreachBatch delegates here)."""
    fold_batch(
        batch_df.sparkSession, batch_df, state_dir, batch_id,
        ["src_batch", "source", "h"], lambda b: term_type_counts(b, text_col),
        compact_every, fold=fold_types, fold_current=False,
    )


def fof_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the per-source
    frequency-of-frequencies for the full corpus seen — identical to the
    batch term_freq_of_freq."""
    foreach_batch(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: stage_type_counts(
            batch_df, batch_id, state_dir, text_col, compact_every
        ),
    )
    return drain_fof_state(stream.sparkSession, state_dir)


def drain_fof_state(spark, state_dir: str) -> DataFrame:
    types = summed_state(spark, state_dir, ["source", "h"], ["c"])
    if types is None:
        return spark.createDataFrame(
            [],
            "source string, n_tokens long, n_types long, f1 long, f2 long, "
            "f3 long, f4 long, f5 long, p_unseen double",
        )
    return fof_from_types(types)
