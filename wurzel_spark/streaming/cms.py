"""Streaming count-min sketching: cell tables summed across micro-batches.

Batch twin: wurzel_spark.operators.sketches.cms_heavy_hitters (minus the
exact-count audit branch — the sketch needs no second corpus pass). CMS
cells merge by SUM, the additive complement of the HLL registers'
max-merge (streaming/sketch.py): per-batch cell tables staged to parquet
and folded with one (i, cell) → sum aggregate are EXACTLY the cells of
the full input under any admission split — estimates bit-equal to the
batch sketch, parity-tested with one-file-per-trigger admission.

Replay safety + compaction (r6: on the shared _state.py protocol): each
batch's cells carry an explicit ``src_batch`` column, so the state's
reduction stays a KEY-DEDUP on (src_batch, i, cell) — additive sums
cannot be pre-folded without losing the ability to recognize a replayed
batch's rows, but dedup-by-provenance can, and the drain recovers the
corpus sums with one (i, cell) aggregate over the deduped rows. A
foreachBatch retry after a fold committed its batch therefore collapses
at the drain instead of double-counting (the novelty-drain lesson,
ADVICE r5 #1). Directory count stays O(compact_every); state rows grow
one bounded cell table (≤ depth×width = 4096 rows) per batch.

Scale shape: each micro-batch pays its own vocabulary aggregate + a
depth×width-bounded cell table; staged state per batch is the same
bounded size regardless of batch rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.operators.sketches import cms_cells, cms_estimate_terms
from wurzel_spark.streaming._state import fold_batch, foreach_batch, summed_state


def write_batch_cells(
    batch_df: DataFrame,
    batch_id: int,
    staging_dir: str,
    text_col: str = "text",
    compact_every: int | None = 16,
) -> None:
    """Stage one micro-batch's CMS cells keyed by (src_batch, i, cell)
    through the shared crash-safe fold protocol. Overwrite to ``batch=N``
    plus the drain's provenance dedup make a replayed batch a no-op for
    the final (i, cell) sum, before AND after a fold."""
    fold_batch(
        batch_df.sparkSession, batch_df, staging_dir, batch_id,
        ["src_batch", "i", "cell"],
        # this state stages src_batch as long: pin the tag type to match
        lambda b: cms_cells(b, text_col).withColumn(
            "src_batch", F.lit(None).cast("long")
        ),
        compact_every,
    )


def drain_cms_cells(spark, staging_dir: str) -> DataFrame | None:
    """Corpus (i, cell, c) sums over the staged state: provenance dedup
    (absorbs fold-then-replay duplicates) then one additive aggregate.
    None if nothing was staged."""
    return summed_state(spark, staging_dir, ["i", "cell"], ["c"])


def cms_stream_estimates(
    stream: DataFrame,
    terms: list[str],
    staging_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = 16,
) -> DataFrame:
    """Drain an availableNow stream staging per-batch CMS cells; return
    (w, cms_estimate) for the probe ``terms`` from the summed cells."""
    foreach_batch(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: write_batch_cells(
            batch_df, batch_id, staging_dir, text_col, compact_every
        ),
    )
    spark = stream.sparkSession
    tdf = spark.createDataFrame([(t,) for t in terms], "w string")
    cells = drain_cms_cells(spark, staging_dir)
    if cells is None:
        return tdf.select("w", F.lit(None).cast("long").alias("cms_estimate")).limit(0)
    return cms_estimate_terms(cells, tdf).orderBy("w")
