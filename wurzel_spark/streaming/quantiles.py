"""Streaming bottom-k quantile sketch: bounded per-group sample
maintained across micro-batches, quantile estimates at drain.

Batch twin: operators/sketches.hash_sample_quantile_eval — the ESTIMATE
columns (source, p1000, sample_k, est).  The bottom-k set is a pure
min-k semilattice (associative, commutative, idempotent under the
deterministic sampling hash), so admitting documents in any batch split
and folding in any order yields the bit-identical sample — the parity
test asserts equality, not approximation.  The exact/rank-error columns
of the batch eval need the full corpus and are deliberately absent here:
the streaming path IS the production path, whose state is bounded at
k·n_groups rows per staged partition (vs the corpus-sized state an exact
streaming quantile would need).

State rows: (source, doc_id, n_chars) of each batch's OWN bottom-k —
deterministic per (source, doc_id), so replays are absorbed by the
key-dedup; the fold re-runs bottom-k over the union (idempotent: the
bottom-k of a union of bottom-k sets is the global bottom-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.sketches import (
    SAMPLE_QUANTILE_K,
    bottomk_sample,
    sample_quantile_estimates,
)
from wurzel_spark.streaming._state import fold_stream, staged_state


def sample_quantile_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k: int = SAMPLE_QUANTILE_K,
    group_col: str = "source",
    val_col: str = "n_chars",
    id_col: str = "doc_id",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return (group, p1000,
    sample_k, est) — bit-equal to the batch estimator over the union of
    all admitted batches."""

    def _fold(union: DataFrame) -> DataFrame:
        return bottomk_sample(
            union.dropDuplicates([group_col, id_col]), k, group_col, id_col
        )

    fold_stream(
        stream, state_dir, checkpoint_dir, [group_col, id_col],
        lambda b: bottomk_sample(b, k, group_col, id_col).select(
            group_col, id_col, val_col
        ),
        compact_every, fold=_fold,
    )
    return drain_quantile_state(
        stream.sparkSession, state_dir, k, group_col, val_col, id_col
    )


def drain_quantile_state(
    spark,
    state_dir: str,
    k: int = SAMPLE_QUANTILE_K,
    group_col: str = "source",
    val_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Estimates from the staged union (re-running bottom-k absorbs any
    crash-window duplicates). Empty state → empty result, batch schema."""
    staged = staged_state(spark, state_dir, [group_col, id_col], [val_col])
    if staged is None:
        return spark.createDataFrame(
            [], f"{group_col} string, p1000 long, sample_k long, est long"
        )
    samp = bottomk_sample(staged, k, group_col, id_col)
    return sample_quantile_estimates(
        samp, k, group_col, val_col, id_col
    ).orderBy(group_col, "p1000")
