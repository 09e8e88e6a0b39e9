"""Streaming distinct-count sketching: HLL registers merged across
micro-batches.

Batch twin: wurzel_spark.operators.sketches.hll_distinct_stats (the
`hll_distinct_stats` query, minus the exact-count audit branch — the
exact count needs the whole corpus; the SKETCH doesn't, which is the
point). HLL registers merge by MAX, so per-batch register tables staged
to parquet and folded with one final (source, bucket) → max aggregate
are EXACTLY the registers of the full input under any admission-control
split — bit-equal estimates, parity-tested against the batch operator
with maxFilesPerTrigger=1 forcing multi-batch runs.

Scale shape: each micro-batch pays one map + one 1024-row-per-source
aggregate; staged state is ≤ (sources × 1024) longs per batch. This is
the monitoring pattern for a continuously-ingesting corpus — "how many
distinct terms/urls/ids have we EVER seen" without storing the set.

State protocol (r6 staging audit): registers ride the shared crash-safe
fold (streaming/_state.py) with a MAX-MERGE fold — HLL's reduction is
idempotent and duplicate-absorbing by definition (max(max(x)) = max(x)),
exactly the fold contract — replacing the earlier ``mode("append")``
staging whose file count grew one parquet set per batch forever. Replay
was already safe (duplicate registers are no-ops under max); the fold
adds the O(compact_every) directory bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.operators.sketches import (
    hll_estimate_from_registers,
    hll_registers,
)
from wurzel_spark.streaming._fs import path_exists
from wurzel_spark.streaming._state import fold_stream


def _max_merge(df: DataFrame) -> DataFrame:
    return df.groupBy("source", "bucket").agg(F.max("reg").alias("reg"))


def hll_stream_distinct(
    stream: DataFrame,
    staging_dir: str,
    checkpoint_dir: str,
    source_col: str = "source",
    text_col: str = "text",
    compact_every: int | None = 16,
) -> DataFrame:
    """Drain an availableNow stream, staging per-batch HLL registers;
    return per-source (n_buckets_hit, hll_sum_scaled, hll_estimate) from
    the merged registers."""
    fold_stream(
        stream, staging_dir, checkpoint_dir, ["source", "bucket"],
        lambda b: hll_registers(b, source_col, text_col), compact_every,
        fold=_max_merge,
    )
    spark = stream.sparkSession
    if not path_exists(spark, staging_dir):  # every batch empty: nothing staged
        return spark.createDataFrame(
            [],
            "source string, n_buckets_hit long, hll_sum_scaled long, hll_estimate double",
        )
    # max-merge at the drain too: absorbs a batch re-delivered after its
    # fold committed (same drain-side guard as novelty/cms)
    merged = _max_merge(spark.read.parquet(staging_dir).drop("batch"))
    return hll_estimate_from_registers(merged).orderBy("source")
