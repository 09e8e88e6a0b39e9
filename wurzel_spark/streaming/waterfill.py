"""Streaming token-budget water-filling: additive per-source token
availability staged per micro-batch, the allocation table re-solved at
drain.

Batch twin: operators/textstats.token_budget_waterfill.  The ONLY
corpus-dependent input of the allocator is the per-source available
token count — a pure integer sum, additive across any batch split — so
each batch stages (source, avail) keyed by (src_batch, source) and the
drain sums partials before the shared metadata-sized solver tail
(`waterfill_from_avail`, imported, not re-implemented).  Because the
budget is self-normalizing (a fraction of the total seen so far), every
drain yields the allocation a batch run over the admitted corpus would
produce — the always-current mixture-repair table of an unbounded
ingest.  Bit-equal to the batch query under any split; replay-safe via
the fold protocol's overwrite + key-dedup.

State size: n_sources rows per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wurzel_spark.functions import text as TXT
from wurzel_spark.operators.textstats import waterfill_from_avail
from wurzel_spark.streaming._state import fold_stream, summed_state


def waterfill_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    rates_permille: dict[str, int] | None = None,
    text_col: str = "text",
    compact_every: int | None = 8,
) -> DataFrame:
    """Drain an availableNow document stream; return the water-filling
    allocation for the full corpus seen — identical to the batch
    token_budget_waterfill."""
    fold_stream(
        stream, state_dir, checkpoint_dir, ["src_batch", "source"],
        lambda b: b.select("source", TXT.word_count(F.col(text_col)).alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").alias("avail")),
        compact_every,
    )
    return drain_waterfill_state(stream.sparkSession, state_dir, rates_permille)


def drain_waterfill_state(
    spark, state_dir: str, rates_permille: dict[str, int] | None = None
) -> DataFrame:
    """Sum the staged per-batch availability partials, then the shared
    metadata-sized water-filling solver."""
    per = summed_state(spark, state_dir, ["source"], ["avail"])
    if per is None:
        return spark.createDataFrame(
            [],
            "source string, weight_permille long, avail_tokens long, "
            "alloc_tokens long, saturated boolean, fill_permille long, "
            "budget_tokens long",
        )
    return waterfill_from_avail(per, rates_permille)
