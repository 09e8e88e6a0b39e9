"""Streaming classifier-eval state: per-batch (source, q1000, pos, neg)
score-label histogram partials staged under the fold protocol, with TWO
drains — calibration reliability bins and the exact per-source AUC —
both bit-equal to their batch operators.

Batch twins: operators/textstats.score_calibration_bins /
score_auc_stats, which both derive from the shared
``score_label_hist`` corpus pass.  Histogram counts are ADDITIVE across
batches and the per-batch rows are deterministic per
(src_batch, source, q1000), so the protocol's default key-dedup fold
gives replay idempotence; the drain sums partials and runs the shared
tails (`calibration_from_hist` / `auc_from_hist`, imported, not
re-implemented).

State size: ≤1001 score values × |sources| rows per batch —
metadata-sized however large the batches are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.textstats import (
    auc_from_hist,
    calibration_from_hist,
    score_label_hist,
)
from wurzel_spark.streaming._state import fold_stream, summed_state


def calibration_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> tuple[DataFrame, DataFrame]:
    """Drain an availableNow document stream; return (calibration_bins,
    auc_stats) for the full corpus seen — identical to the batch pair."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source", "q1000"],
        lambda b: score_label_hist(b, text_col), compact_every,
    )
    spark = stream.sparkSession
    return (
        drain_calibration_state(spark, state_dir),
        drain_auc_state(spark, state_dir),
    )


def _summed_hist(spark, state_dir: str) -> DataFrame | None:
    return summed_state(spark, state_dir, ["source", "q1000"], ["pos", "neg"])


def drain_calibration_state(spark, state_dir: str) -> DataFrame:
    hist = _summed_hist(spark, state_dir)
    if hist is None:
        return spark.createDataFrame(
            [],
            "bin long, n_docs long, n_keep long, keep_permille long, "
            "mean_score_permille long, abs_gap_permille long",
        )
    return calibration_from_hist(hist)


def drain_auc_state(spark, state_dir: str) -> DataFrame:
    hist = _summed_hist(spark, state_dir)
    if hist is None:
        return spark.createDataFrame(
            # u2 is DOUBLE since the decimal/HUGEINT hardening (it can
            # pass 2^63 at scale) — the empty schema must match the tail
            [], "source string, n_pos long, n_neg long, u2 double, auc_permille long"
        )
    return auc_from_hist(hist)
