"""Streaming temporal battery: ONE staged hourly rollup feeds FIVE
live monitors — CUSUM level shifts, Mann–Kendall trend, lag-1/24
autocorrelation, Fano-factor burstiness, and the SLO burn-rate alerts.

Batch twins: queries/events.event_cusum_drift / event_mannkendall_trend
/ event_acf_stats / event_burstiness_stats.  All consume only the (event_type, hour) count
rollup — pure integer sums, additive across any batch admission split
(a micro-batch that splits an hour stages two partials that sum back) —
so each batch stages its rollup keyed by (src_batch, event_type, hour)
and every detector drains from the SAME summed state through its shared
batch tail (`cusum_from_rollup` / `mannkendall_from_rollup` /
`acf_from_rollup`, imported, not re-implemented). One state store, five
live monitors: the level-shift, trend, seasonality, dispersion and
SLO-burn readouts of an
unbounded event stream are always current for the corpus seen, bit-equal
to their batch queries on the same rows. Replayed batches overwrite
their partition and crash-window duplicates collapse under the key-dedup
(the fold protocol's guarantee).

State size: |types × hours| rows per batch — bounded by the time span,
never the event corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.queries.events import (
    acf_from_rollup,
    burstiness_from_rollup,
    cusum_from_rollup,
    hourly_rollup,
    mannkendall_from_rollup,
    slo_burn_from_rollup,
)
from wurzel_spark.streaming._state import fold_stream, summed_state


def temporal_battery_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = 8,
) -> dict[str, DataFrame]:
    """Drain an availableNow event stream; return all five monitor
    tables for the full stream seen — identical to their batch twins."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "event_type", "hour"],
        hourly_rollup, compact_every,
    )
    return drain_temporal_state(stream.sparkSession, state_dir)


def drain_temporal_state(spark, state_dir: str) -> dict[str, DataFrame]:
    """Sum the staged rollup once, then run all five shared tails."""
    rollup = summed_state(spark, state_dir, ["event_type", "hour"], ["c"])
    if rollup is None:
        empty_cusum = spark.createDataFrame(
            [],
            "event_type string, hour timestamp, n_events long,"
            " cusum_up_permille long, cusum_dn_permille long, drift_flag boolean",
        )
        empty_mk = spark.createDataFrame(
            [],
            "event_type string, n_hours long, s_stat long, tau_permille long,"
            " trend string",
        )
        empty_acf = spark.createDataFrame(
            [], "event_type string, n_hours long, acf1_permille long,"
            " acf24_permille long",
        )
        empty_burst = spark.createDataFrame(
            [],
            "event_type string, span_hours long, n_active_hours long,"
            " n_events long, dispersion_permille long, label string",
        )
        empty_slo = spark.createDataFrame(
            [],
            "hour timestamp, t_h long, e_h long, err_permille long,"
            " err6_permille long, err24_permille long, fast_burn boolean,"
            " slow_burn boolean",
        )
        return {
            "cusum": empty_cusum,
            "mannkendall": empty_mk,
            "acf": empty_acf,
            "burstiness": empty_burst,
            "slo": empty_slo,
        }
    return {
        "cusum": cusum_from_rollup(rollup),
        "mannkendall": mannkendall_from_rollup(rollup),
        "acf": acf_from_rollup(rollup),
        "burstiness": burstiness_from_rollup(rollup),
        "slo": slo_burn_from_rollup(rollup),
    }
