"""Streaming priority sampling: per-batch top-(k+1) candidate sets
staged under the fold protocol, the fixed-size weighted sample with its
Horvitz–Thompson terms published at drain.

Batch twin: operators/selection.priority_sample.  Top-(k+1)-by-priority
sets form a MERGEABLE SEMILATTICE: every row of the global top-(k+1)
necessarily belongs to its own batch's top-(k+1) (priorities are
row-local and deterministic), so staging k+1 candidate rows per batch
loses nothing — the drain unions the staged candidates and runs the
SAME top/τ/HT tail (`priority_from_scores`, imported, not
re-implemented), bit-equal to the batch query over the union of
admitted batches.  Rows are deterministic per (src_batch, doc_id), so
the protocol's replay guarantee holds (a replayed batch overwrites its
partition; crash-window duplicates collapse under the key-dedup).

State: k+1 rows per batch — bounded by the clock, not the data; the
always-current weighted sample of an unbounded ingest stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wurzel_spark.operators.selection import (
    PRIORITY_K,
    PRIORITY_STRAT_K,
    priority_from_scores,
    priority_scores,
    priority_stratified_from_scores,
)
from wurzel_spark.streaming._state import fold_stream, staged_state


def _staged_candidates(spark, state_dir: str) -> DataFrame | None:
    # one dedup on doc_id subsumes the protocol's (src_batch, doc_id)
    # key-dedup here: a doc's priority row is deterministic, so
    # duplicates across batches AND replays are identical rows
    return staged_state(spark, state_dir, ["doc_id"], ["source", "w", "q"])


def priority_sample_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    weight_col: str = "n_chars",
    k: int = PRIORITY_K,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the priority sample
    of the full corpus seen — identical to the batch priority_sample."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "doc_id"],
        lambda b: priority_scores(b, weight_col)
        .orderBy(F.col("q").desc(), "doc_id")
        .limit(k + 1),
        compact_every,
    )
    return drain_priority_state(stream.sparkSession, state_dir, k)


def drain_priority_state(spark, state_dir: str, k: int = PRIORITY_K) -> DataFrame:
    """Union the staged candidate sets, then the shared top/τ/HT tail.
    A doc re-delivered in two batches dedups on doc_id (its priority is
    deterministic, so the duplicates are identical rows)."""
    staged = _staged_candidates(spark, state_dir)
    if staged is None:
        return spark.createDataFrame(
            [],
            "doc_id long, source string, weight long, priority_q double, "
            "est_weight_q3 double",
        )
    return priority_from_scores(staged, k)


def priority_stratified_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    weight_col: str = "n_chars",
    k: int | None = None,
    group_col: str = "source",
    compact_every: int | None = 8,
) -> DataFrame:
    """Streaming twin of operators/selection.priority_sample_stratified:
    per-batch per-GROUP top-(k+1) candidate sets staged under the fold
    protocol. The semilattice argument holds group-wise — a row in the
    global per-source top-(k+1) is in its own batch's per-source
    top-(k+1) — so state is bounded at (k+1)·n_sources rows per batch,
    and the drain runs the SAME per-group top/τ/HT tail."""
    kk = PRIORITY_STRAT_K if k is None else k
    wg = W.partitionBy(group_col).orderBy(F.col("q").desc(), "doc_id")
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "doc_id"],
        lambda b: priority_scores(b, weight_col)
        .withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= kk + 1)
        .drop("rn"),
        compact_every,
    )
    return drain_priority_stratified_state(stream.sparkSession, state_dir, kk, group_col)


def drain_priority_stratified_state(
    spark, state_dir: str, k: int | None = None, group_col: str = "source"
) -> DataFrame:
    """Union staged per-group candidates, dedup on doc_id (priorities are
    deterministic, so cross-batch duplicates are identical rows), then
    the shared per-group tail."""
    kk = PRIORITY_STRAT_K if k is None else k
    staged = _staged_candidates(spark, state_dir)
    if staged is None:
        return spark.createDataFrame(
            [],
            "source string, doc_id long, weight long, priority_q double, "
            "est_weight_q3 double",
        )
    return priority_stratified_from_scores(staged, kk, group_col)
