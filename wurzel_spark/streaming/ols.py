"""Streaming OLS fit: additive per-returnflag integer power sums staged
per micro-batch, the slope/intercept table published at drain.

Batch twin: queries/relational.ols_price_quantity.  Every partial
(n, Σx, Σy, Σxy, Σx² in integer centi-units, decimal(38,0)) is a pure
integer sum — additive across any batch admission split — so each batch
stages its per-flag aggregate keyed by (src_batch, l_returnflag) and the
drain sums partials before the shared two-stage-division fit tail
(`ols_from_partials`, imported, not re-implemented).  The live
regression over an unbounded fact stream: bit-equal to the batch query
on the same rows, replay-idempotent under the fold protocol's key-dedup.

State size: n_flags rows per batch, metadata-sized at any batch size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.queries.relational import ols_from_partials, ols_partials
from wurzel_spark.streaming._state import fold_stream, summed_state

_PARTIAL_COLS = ["n", "sx", "sy", "sxy", "sxx"]


def ols_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow lineitem stream; return the per-flag OLS
    fit for the full stream seen — identical to the batch twin."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "l_returnflag"],
        ols_partials, compact_every,
    )
    return drain_ols_state(stream.sparkSession, state_dir)


def drain_ols_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch power sums, then the shared fit tail."""
    partials = summed_state(spark, state_dir, ["l_returnflag"], _PARTIAL_COLS)
    if partials is None:
        return spark.createDataFrame(
            [],
            "l_returnflag string, n_rows long, sum_centiqty long,"
            " sum_cents long, slope_millicents_per_unit long,"
            " intercept_cents long",
        )
    return ols_from_partials(partials)
