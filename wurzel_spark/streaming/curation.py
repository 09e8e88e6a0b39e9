"""Streaming twin of the batch curation funnel (operators/textstats.py
curation_pipeline_stats): Gopher gate → PII screen → cross-batch exact
dedup → per-source survival counts, computed incrementally over a
document stream.

Design: ``foreachBatch`` with a dedup LEDGER. Each micro-batch evaluates
the SAME stage flags as the batch funnel (curation_stage_flags — one code
path, no twin drift), counts its stage totals, and determines which
surviving content hashes are NEW versus the ledger of every hash already
published (a parquet set of 32-byte hashes — ~32 B per distinct doc, the
same asset an incremental 100 TB ingest keeps anyway). New hashes append
to the ledger partitioned by batch; within a batch the first doc per hash
wins, across batches the earlier batch wins — first-seen, the streaming
analogue of the batch form's min-doc_id rule. Every funnel COUNT is
identical to the batch twin regardless of arrival order: duplicate docs
have identical text, so n_final (distinct surviving hashes) and
surviving_tokens (token count of the kept copy) don't depend on which
copy won.

The per-source counters accumulate driver-side (a handful of sources ×
5 longs); ``curation_funnel_stream`` blocks until the availableNow stream
drains and returns the finished per-source stats DataFrame with exactly
the batch twin's schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wurzel_spark.functions import text as TXT
from wurzel_spark.operators.textstats import curation_stage_flags
from wurzel_spark.streaming._fs import path_exists
from wurzel_spark.streaming._state import fold_stream

__all__ = ["curation_funnel_stream"]


def curation_funnel_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    ledger_dir: str | None = None,
    text_col: str = "text",
    compact_every: int | None = 16,
) -> DataFrame:
    """Run the curation funnel over a document stream (availableNow) and
    return per-source (n_input, n_gopher_ok, n_pii_ok, n_final,
    surviving_tokens) — the batch curation_pipeline_stats contract.

    The dedup ledger is TRUE operator state (anti-joined by every batch),
    so it rides the shared crash-safe fold protocol (r6 staging audit):
    plain key-dedup fold on ``h`` — hash rows are deterministic per key —
    bounding the ledger's directory count at O(compact_every) over
    arbitrarily long ingests."""
    spark = stream.sparkSession
    ledger = ledger_dir or f"{checkpoint_dir.rstrip('/')}_ledger"
    totals: dict[str, list[int]] = {}  # source -> [in, g_ok, p_ok, final, tokens]

    def _new_hashes(batch_df: DataFrame) -> DataFrame:
        staged = curation_stage_flags(batch_df, text_col)
        survivors = (
            staged.filter(F.col("g_ok") & F.col("p_ok"))
            .withColumn("h", F.sha2(F.col("text"), 256))
        )
        # within-batch first-per-hash (min doc_id — deterministic under
        # retries), then anti-join the cross-batch ledger
        w = W.partitionBy("h").orderBy("doc_id")
        firsts = (
            survivors.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if path_exists(spark, ledger):
            seen = spark.read.parquet(ledger).select("h")
            firsts = firsts.join(seen, "h", "left_anti")
        new_rows = firsts.select(
            "source", "h", F.size(TXT.words(F.col("text"))).alias("n_tokens")
        ).localCheckpoint()
        stage_counts = staged.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_input"),
            F.sum(F.col("g_ok").cast("long")).alias("n_gopher_ok"),
            F.sum((F.col("g_ok") & F.col("p_ok")).cast("long")).alias("n_pii_ok"),
        )
        final_counts = new_rows.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_final"),
            F.sum("n_tokens").alias("surviving_tokens"),
        )
        for r in stage_counts.collect():
            t = totals.setdefault(r["source"], [0, 0, 0, 0, 0])
            t[0] += int(r["n_input"])
            t[1] += int(r["n_gopher_ok"])
            t[2] += int(r["n_pii_ok"])
        for r in final_counts.collect():
            t = totals.setdefault(r["source"], [0, 0, 0, 0, 0])
            t[3] += int(r["n_final"])
            t[4] += int(r["surviving_tokens"] or 0)
        return new_rows.select("h")

    # idempotent under batch replay: the runner overwrites this batch's
    # ledger part; the shared protocol folds every compact_every partitions
    fold_stream(stream, ledger, checkpoint_dir, ["h"], _new_hashes, compact_every)
    rows = [
        (src, t[0], t[1], t[2], t[3], t[4]) for src, t in sorted(totals.items())
    ]
    return spark.createDataFrame(
        rows,
        "source string, n_input long, n_gopher_ok long, n_pii_ok long, "
        "n_final long, surviving_tokens long",
    )
