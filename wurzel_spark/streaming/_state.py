"""Batch-keyed streaming state with crash-safe periodic compaction.

The shared state protocol for foreachBatch operators, and the one fold
runner every streaming twin drives it through (:func:`fold_stream`):

  - each micro-batch lands its state rows under ``state_dir/batch=N``
    with OVERWRITE, so an at-least-once replay replaces rather than
    duplicates its rows;
  - every ``compact_every`` partitions, the write FOLDS all partitions
    plus the current batch into one ``batch=-(N+1)`` dir (negative id ⇒
    never collides with a replayed batch's own partition), bounding the
    directory/file count at O(compact_every) regardless of batch count;
  - the fold is crash-safe by construction: staged to a sibling tmp
    (validated by parquet's ``_SUCCESS`` marker), deletes run only after
    the staged write, the rename is last, and :func:`recover_fold`
    completes or discards an interrupted fold before the next read.
    Duplicate rows in any crash window are absorbed by the key-dedup on
    the next fold — callers must therefore only store rows that are
    deterministic per key (signatures, hashes, id-keyed facts).

A twin is then a declaration of its parts: a batch-grain ``stage``
function, the state keys, and a drain — :func:`summed_state` for
additive partials (key-dedup on ``(src_batch, *keys)``, then sum), or
:func:`staged_state` plus the twin's own reduction — feeding the batch
operator's shared tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.operators.layout import compact_write
from wurzel_spark.streaming._fs import (
    delete_path,
    list_batch_ids,
    path_exists,
    rename_path,
)


def fold_tmp(state_dir: str) -> str:
    return f"{state_dir}__fold_tmp"


def recover_fold(spark, state_dir: str, batch_id: int) -> None:
    """Complete (or roll back) a fold interrupted by a crash, BEFORE the
    state dir is read this batch. A fold tmp with a ``_SUCCESS`` marker is
    a complete superset of every surviving ``batch=`` partition (it was
    written from their union before any delete), so completion = delete
    the partitions, rename tmp in. A tmp WITHOUT the marker is a partial
    job output — the partitions are still intact (deletes only run after
    a successful tmp write), so it is simply discarded."""
    tmp = fold_tmp(state_dir)
    if not path_exists(spark, tmp):
        return
    if not path_exists(spark, f"{tmp}/_SUCCESS"):
        delete_path(spark, tmp)
        return
    for b in list_batch_ids(spark, state_dir):
        delete_path(spark, f"{state_dir}/batch={b}")
    rename_path(spark, tmp, f"{state_dir}/batch={-batch_id - 1}")


def write_batch_state(
    spark,
    df: DataFrame,
    state_dir: str,
    batch_id: int,
    key_cols: str | list[str],
    compact_every: int | None,
    fold=None,
    fold_current: bool = True,
) -> None:
    """Land one batch's state rows (see module docstring for the full
    protocol). ``key_cols``: the identity whose rows are deterministic —
    the fold dedups on it.

    ``fold``: optional ``DataFrame -> DataFrame`` replacing the default
    key-dedup at fold points, for state whose reduction is NOT
    pick-any-per-key (e.g. keep the MIN-ordered row per content hash).
    The callable MUST be idempotent (``fold(fold(x)) == fold(x)``) and
    absorb exact-duplicate rows — those are the crash-window guarantees
    the default dedup provides and every fold must preserve.

    ``fold_current=False`` excludes the in-flight batch from the fold —
    the replay rule is documented once, at :func:`fold_batch`."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    prior = [b for b in list_batch_ids(spark, state_dir) if b != batch_id]
    if compact_every is None or len(prior) + 1 < compact_every:
        df.write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}")
        return
    if fold is not None and not fold_current:
        # land the current batch first (overwrite ⇒ replay-safe), then
        # fold only the committed priors; deletes must skip batch=N.
        # recover_fold's crash path deletes ALL partitions including
        # batch=N before renaming the tmp in — safe, because a pending
        # tmp implies batch N never committed, so the replaying
        # fold_batch (recover_fold, then stage) rewrites batch=N
        # immediately after recovery.
        df.write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}")
        union = (
            spark.read.parquet(state_dir)
            .filter(F.col("batch") != batch_id)
            .drop("batch")
            .select(df.columns)
        )
        folded = fold(union).localCheckpoint(eager=True)
        tmp = fold_tmp(state_dir)
        compact_write(folded, tmp)
        for b in list_batch_ids(spark, state_dir):
            if b != batch_id:
                delete_path(spark, f"{state_dir}/batch={b}")
        rename_path(spark, tmp, f"{state_dir}/batch={-batch_id - 1}")
        return
    # the state read includes a crashed earlier attempt's own batch=N
    # partition if present — the key dedup collapses it with df's rows
    union = df.unionByName(
        spark.read.parquet(state_dir).drop("batch").select(df.columns)
    )
    folded = fold(union) if fold is not None else union.dropDuplicates(keys)
    # cut the file lineage before the source dirs are deleted/renamed
    folded = folded.localCheckpoint(eager=True)
    tmp = fold_tmp(state_dir)
    compact_write(folded, tmp)
    for b in list_batch_ids(spark, state_dir):
        delete_path(spark, f"{state_dir}/batch={b}")
    rename_path(spark, tmp, f"{state_dir}/batch={-batch_id - 1}")


def foreach_batch(stream: DataFrame, checkpoint_dir: str, process):
    """The availableNow drive: run ``process(batch_df, batch_id)`` over
    everything currently in the source, then stop. Blocks until drained;
    returns the terminated query."""
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def fold_batch(
    spark,
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    key_cols: list[str],
    stage,
    compact_every: int | None,
    fold=None,
    fold_current: bool = True,
) -> None:
    """One micro-batch of the protocol: skip an empty batch, finish any
    fold a crashed attempt left behind (before ``stage`` may read state),
    then land ``stage(batch_df)`` through :func:`write_batch_state`.

    With ``src_batch`` among ``key_cols`` the rows are tagged with the
    batch id — the provenance that lets a drain key-dedup additive
    partials instead of double-summing a replayed batch. The tag is
    ``int``; a stage that emits its own ``src_batch`` column pins the
    tag's type to that column's (state once written ``long`` must stay
    ``long``, or a restart across an upgrade mixes int and long parquet
    parts in one dir).

    ``fold`` replaces the default key-dedup at fold points (see
    :func:`write_batch_state`). ``fold_current=False`` excludes the
    IN-FLIGHT batch from the fold — required for any fold that RE-KEYS
    rows (e.g. sums partials under a sentinel batch key, destroying
    per-batch identity). With such a fold, absorbing the current batch
    is replay-unsafe: a crash between the fold rename and the checkpoint
    commit replays batch N, whose re-staged ``batch=N`` rows are no
    longer recognizable as already-counted (ADVICE r7,
    streaming/fof.py). Excluding it is sufficient: every PRIOR batch is
    checkpoint-committed (batch N only runs after N-1 commits) and can
    never replay, so re-keying committed rows is safe, while batch N
    keeps its own overwrite-idempotent partition. Folds that preserve
    the staged keys (bottom-k, max-merge, min-per-content, plain dedup)
    stay ``fold_current=True`` — replayed rows are exact per-key
    duplicates the fold absorbs."""
    if batch_df.isEmpty():
        return
    recover_fold(spark, state_dir, batch_id)
    rows = stage(batch_df)
    if "src_batch" in key_cols:
        tag = F.lit(batch_id)
        if "src_batch" in rows.columns:
            tag = tag.cast(rows.schema["src_batch"].dataType)
        rows = rows.withColumn("src_batch", tag)
    write_batch_state(
        spark, rows, state_dir, batch_id, key_cols, compact_every, fold, fold_current
    )


def fold_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    stage,
    compact_every: int | None,
    fold=None,
):
    """Drive :func:`fold_batch` over an availableNow stream; returns the
    terminated query."""
    spark = stream.sparkSession
    return foreach_batch(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: fold_batch(
            spark, batch_df, state_dir, batch_id, key_cols, stage,
            compact_every, fold,
        ),
    )


def write_batch_output(
    batch_df: DataFrame, batch_id: int, out_dir: str, compute
) -> None:
    """The row-local output step: skip an empty batch, then land
    ``compute(batch_df)`` under ``out_dir/batch=N`` with overwrite, so a
    replayed batch replaces rather than duplicates its rows. This is
    OUTPUT (one row per input doc, never re-read here), so it stays off
    the fold protocol."""
    if batch_df.isEmpty():
        return
    compute(batch_df).write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")


def output_stream(stream: DataFrame, out_dir: str, checkpoint_dir: str, compute):
    """Drive :func:`write_batch_output` over an availableNow stream;
    returns the terminated query."""
    return foreach_batch(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: write_batch_output(
            batch_df, batch_id, out_dir, compute
        ),
    )


def staged_state(
    spark, state_dir: str, key_cols: list[str], cols: list[str]
) -> DataFrame | None:
    """The staged ``key_cols + cols`` rows, key-deduped on ``key_cols`` —
    absorbs crash-window duplicates and a batch replayed after its fold
    committed (rows are deterministic per key). None if nothing was
    staged."""
    if not path_exists(spark, state_dir):
        return None
    return (
        spark.read.parquet(state_dir)
        .select(*key_cols, *cols)
        .dropDuplicates(key_cols)
    )


def summed_state(
    spark, state_dir: str, keys: list[str], cols: list[str]
) -> DataFrame | None:
    """The additive drain: dedup on ``(src_batch, *keys)``, then sum each
    partial column per ``keys``. None if nothing was staged — each twin
    keeps its explicit empty-result schema."""
    staged = staged_state(spark, state_dir, ["src_batch", *keys], cols)
    if staged is None:
        return None
    return staged.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in cols])
