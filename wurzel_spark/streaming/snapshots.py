"""Streaming snapshot diff: the new snapshot arrives as a document
stream; the diff against the previous snapshot is published once the
stream drains.

Batch twin: operators/snapshots.snapshot_diff. ``added`` and ``changed``
are batch-decomposable (they depend only on a new row and the old
side), but ``removed`` is NOT — an old id is removed only if NO batch
delivers it — so the operator stages each micro-batch's (id, hash)
pairs and runs the one full-outer diff at drain time. Staged rows are
(id, 32-byte hash), three orders smaller than documents; the expensive
content pass (hashing) happens inside each micro-batch.

Replay safety + file-count bound: per-batch staging goes through the
shared crash-safe state protocol (streaming/_state.py — ``batch=N``
overwrite, periodic fold, _SUCCESS-validated recovery), and the staged
union is deduplicated by id before the diff, so an at-least-once
redelivery can never produce duplicate diff rows and a thousand-batch
snapshot never produces a thousand state dirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.streaming._state import fold_stream, staged_state


def snapshot_diff_stream(
    new_stream: DataFrame,
    old: DataFrame,
    staging_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = 16,
) -> DataFrame:
    """Drain an availableNow stream of the NEW snapshot; return the
    (id, status ∈ {added, removed, changed}) diff against ``old``."""
    fold_stream(
        new_stream, staging_dir, checkpoint_dir, ["id"],
        lambda b: b.select(
            F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("new_hash")
        ),
        compact_every,
    )
    oh = old.select(
        F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("old_hash")
    )
    # replay-safe: redelivered batches collapse on the id dedup
    nh = staged_state(new_stream.sparkSession, staging_dir, ["id"], ["new_hash"])
    if nh is None:  # empty new snapshot: all removed
        return oh.select(
            F.col("id").alias(id_col), F.lit("removed").alias("status")
        ).orderBy(id_col)
    joined = oh.join(nh, "id", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
    )
    return (
        joined.select(F.col("id").alias(id_col), status.alias("status"))
        .filter(F.col("status").isNotNull())
        .orderBy(id_col)
    )
