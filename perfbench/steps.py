"""Manifest steps the ``rag_ingest`` workload names as ``module:callable``.

Each has the step signature ``fn(spark, inputs, **settings)`` and calls only
public wurzel_spark functions.
"""

from __future__ import annotations

import functools

from pyspark.sql import functions as F

from wurzel_spark.operators.dedup import minhash_dedup_pairs
from wurzel_spark.sinks.versioned import LocalCollectionBackend, VersionedCollectionWriter

#: chunk id column. Not ``cid``: ``_verify_jaccard_pairs`` aliases candidate
#: ids to ``cid``, so an input column of that name is an ambiguous reference.
ID_COL = "chunk_id"

#: the near-dup step's MinHash-LSH: word 3-gram shingles, 32 hashes in
#: 8 bands of 4 rows
NGRAM = 3
NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS


def with_chunk_id(df):
    """Deterministic chunk id from the chunk's document url and position."""
    return df.withColumn(
        ID_COL, F.xxhash64("url", F.col("metadata")["chunk_index"])
    )


def near_dup_pairs(chunks, threshold: float):
    """Verified near-dup pairs ``(id_a, id_b, ...)`` of ``chunks``."""
    return minhash_dedup_pairs(
        chunks, id_col=ID_COL, text_col="text", num_hashes=NUM_HASHES,
        bands=BANDS, threshold=threshold, n=NGRAM,
    )


def near_dup(spark, inputs, *, threshold: float):
    """MinHash-LSH near-dup filter on embedded chunks: drops ``id_b`` of
    every verified pair."""
    (df,) = inputs
    chunks = with_chunk_id(df)
    pairs = near_dup_pairs(chunks, float(threshold))
    dropped = pairs.select(F.col("id_b").alias(ID_COL)).distinct()
    return chunks.join(dropped, ID_COL, "left_anti")


def versioned_sink(spark, inputs, *, root: str, collection: str) -> str:
    """Write the chunks as a new ``{collection}_v{n}``, flip the alias and
    retire old versions. Returns the new version's name."""
    (df,) = inputs
    writer = VersionedCollectionWriter(
        functools.partial(LocalCollectionBackend, root), collection
    )
    return writer.write(df, order_col=ID_COL)
