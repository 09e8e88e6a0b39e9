"""Streaming benchmark decontamination: score each micro-batch of a
document stream against a STATIC evaluation set's 13-gram span table.

Batch twin: wurzel_spark.operators.dedup.decontamination_overlap (the
`decontamination_overlap` query). Like as-of enrichment (enrich.py), the
operator is embarrassingly batch-decomposable — each output row depends
only on its own document and the static eval spans — so running the
batch operator per micro-batch yields exactly the batch result's union
under ANY admission-control split. No cross-batch state.

Scale notes: the eval span table is computed ONCE before the stream
starts (localCheckpoint pins it; on a long-lived cluster persist it to a
checkpoint dir) — the usual foreachBatch mistake is re-deriving the
static side every batch, which at 100 TB turns a metadata-sized join
into a per-batch eval-set scan. Each micro-batch then pays one
broadcast/shuffle-hash semi-join of its own (hash, id) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.operators.dedup import decontamination_overlap, eval_span_hashes
from wurzel_spark.streaming._state import output_stream


def decontaminate_stream(
    stream: DataFrame,
    eval_set: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Score every micro-batch of ``stream`` against ``eval_set``'s
    distinct span hashes; land per-document contamination rows under
    ``out_dir/batch=N`` (overwrite — r6 staging audit: plain append
    DUPLICATED a batch's rows when foreachBatch replayed it after the
    write but before the checkpoint commit; batch-keyed overwrite is the
    replay-idempotent output pattern of streaming/classify.py). Blocks
    until the availableNow run drains; returns the query."""
    spans = eval_span_hashes(eval_set, id_col, text_col, n).localCheckpoint()
    return output_stream(
        stream,
        out_dir,
        checkpoint_dir,
        lambda b: decontamination_overlap(b, None, id_col, text_col, n, eval_spans=spans),
    )
