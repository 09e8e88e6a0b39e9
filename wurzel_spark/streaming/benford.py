"""Streaming Benford audit: additive first-digit counts staged per
micro-batch, the observed-vs-expected table published at drain.

Batch twin: queries/relational.benford_value_audit.  The ONLY
corpus-grain input is the digit histogram (digit 0 = the excluded
non-positive bucket) — pure integer sums, additive across any batch
admission split — so each batch stages its 10-row aggregate keyed by
(src_batch, digit) and the drain sums partials before the shared
permille tail (`benford_from_partials`, imported, not re-implemented).
Bit-equal to the batch query under any split; replayed batches overwrite
their partition and crash-window duplicates collapse under the key-dedup
(the fold protocol's guarantee). The live form is the fraud screen run
ON THE INGEST: a batch of fabricated values shifts the drained curve the
moment it lands.

State size: ≤10 rows per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.queries.relational import benford_from_partials, benford_partials
from wurzel_spark.streaming._state import fold_stream, summed_state


def benford_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str = "l_extendedprice",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow stream; return the Benford table for the
    full ledger seen — identical to the batch benford_value_audit."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "digit"],
        lambda b: benford_partials(b, value_col), compact_every,
    )
    return drain_benford_state(stream.sparkSession, state_dir)


def drain_benford_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch digit counts, then the shared tail."""
    partials = summed_state(spark, state_dir, ["digit"], ["n_values"])
    if partials is None:
        return spark.createDataFrame(
            [],
            "digit int, n_values long, obs_permille long, exp_permille long,"
            " dev_permille long, n_excluded long",
        )
    return benford_from_partials(partials)
