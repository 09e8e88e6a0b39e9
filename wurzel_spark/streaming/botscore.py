"""Streaming bot triage: additive per-(user, kind, key) flag-domain
counts staged per micro-batch, the 0–3 scoreboard published at drain —
the live ban pipeline: a scraper's flags light up as its batches land,
not at the nightly batch.

Batch twin: queries/events.bot_score_stats.  The three flag domains
(event-type, epoch-hour, minute-of-hour) stage as ONE long-format count
table keyed by (src_batch, user_id, kind, k) — pure integer sums,
additive across any batch admission split — and the drain sums then
runs the shared score tail (`bot_score_from_partials`, imported, not
re-implemented).  Bit-equal to the batch query on the same rows;
replayed batches overwrite their partition (the fold protocol's
guarantee).

State size: |users × (types + active-hours + 60)| rows per batch —
user-grain engagement state, Heaps-bounded per batch, never
event-grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.queries.events import bot_partials, bot_score_from_partials
from wurzel_spark.streaming._state import fold_stream, summed_state


def bot_score_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow event stream; return the bot scoreboard for
    the full stream seen — identical to the batch twin."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "user_id", "kind", "k"],
        bot_partials, compact_every,
    )
    return drain_bot_state(stream.sparkSession, state_dir)


def drain_bot_state(spark, state_dir: str) -> DataFrame:
    """Sum the staged per-batch flag-domain counts, then the score tail."""
    partials = summed_state(spark, state_dir, ["user_id", "kind", "k"], ["c"])
    if partials is None:
        return spark.createDataFrame(
            [],
            "bot_score long, n_users long, share_permille long,"
            " n_monotype long, n_burst long, n_clockwork long",
        )
    return bot_score_from_partials(partials)
